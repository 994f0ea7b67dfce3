package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** ALL word n-grams (multiset, order preserved) over the NON-EMPTY
  * whitespace tokens of a string — the feature generator of the DSIR
  * scorer (x185) and any other bag-of-ngrams model that needs raw
  * occurrence counts rather than [[WordShingles]]' distinct set.
  *
  * Exists because the interpreted HOF formulation
  * `transform(sequence(...), i => concat_ws(" ", element_at(toks, i+1),
  * ...))` re-evaluates the token-split expression inside the lambda —
  * Catalyst does not share subexpressions across a lambda boundary —
  * making bigram generation O(tokens²) per document (measured 40 s
  * for 2.7M bigrams at sf1 vs 1.3 s for the unigram explode). This is
  * one tokenizer pass per document, inside whole-stage codegen.
  *
  * Semantics (mirrored by the x185 oracle SQL): tokens = split on a
  * single space with empties DROPPED; n-gram i = tokens[i, i+n)
  * joined by " "; exactly max(len − n + 1, 0) n-grams, duplicates
  * kept, order preserved. n = 1 yields the token list itself.
  */
case class TokenNgrams(child: Expression, n: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType && n >= 1)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_token_ngrams expects (string, n>=1), got " +
          s"${child.dataType.catalogString}, n=$n")

  override def nullSafeEval(input: Any): Any =
    TokenNgrams.ngrams(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TokenNgrams.ngrams($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TokenNgrams {

  /** One-pass n-gram builder; called from generated code. */
  def ngrams(s: UTF8String, n: Int): ArrayData = {
    val raw = s.toString.split(" ", -1)
    var m = 0
    var i = 0
    while (i < raw.length) { if (raw(i).nonEmpty) m += 1; i += 1 }
    val toks = new Array[String](m)
    var k = 0
    i = 0
    while (i < raw.length) {
      if (raw(i).nonEmpty) { toks(k) = raw(i); k += 1 }
      i += 1
    }
    val count = math.max(m - n + 1, 0)
    val out = new Array[Any](count)
    i = 0
    while (i < count) {
      val sb = new java.lang.StringBuilder()
      var j = i
      while (j < i + n) {
        if (j > i) sb.append(' ')
        sb.append(toks(j))
        j += 1
      }
      out(i) = UTF8String.fromString(sb.toString)
      i += 1
    }
    new GenericArrayData(out)
  }

  def tokenNgrams(text: Column, n: Int): Column =
    org.apache.spark.sql.functions.call_function("graft_token_ngrams", text,
      org.apache.spark.sql.functions.lit(n))
}
