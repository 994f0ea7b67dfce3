package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Distinct word n-gram (shingle) set as a native expression — the
  * hot map of every dedup operator (x02/x03), one invocation per
  * document over the whole corpus.
  *
  * Replaces the interpreted higher-order-function pipeline
  * `array_distinct(transform(sequence(...), i => concat_ws(" ",
  * slice(split(text), i+1, n))))` — which allocates a lambda frame
  * per shingle per row — with a single static call (one tokenizer
  * pass + LinkedHashSet dedup), keeping whole-stage codegen intact.
  * Semantics are bit-identical to the HOF form: split on single
  * space keeping empties (Spark split limit -1), shingle i =
  * tokens[i, min(i+n, len)) joined by " ", `max(len-n, 0) + 1`
  * shingles, distinct keeping first occurrence.
  */
case class WordShingles(child: Expression, n: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType && n >= 1)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_shingles expects (string, n>=1), got " +
          s"${child.dataType.catalogString}, n=$n")

  override def nullSafeEval(input: Any): Any =
    WordShingles.shingle(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.WordShingles.shingle($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WordShingles {

  /** One-pass shingle builder; called from generated code. */
  def shingle(s: UTF8String, n: Int): ArrayData = {
    val toks = s.toString.split(" ", -1)
    val count = math.max(toks.length - n, 0) + 1
    val seen = new java.util.LinkedHashSet[String](count * 2)
    var i = 0
    while (i < count) {
      val end = math.min(i + n, toks.length)
      val sb = new java.lang.StringBuilder()
      var j = i
      while (j < end) {
        if (j > i) sb.append(' ')
        sb.append(toks(j))
        j += 1
      }
      seen.add(sb.toString)
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = UTF8String.fromString(it.next()); k += 1 }
    new GenericArrayData(out)
  }

  def wordShingles(text: Column, n: Int): Column =
    org.apache.spark.sql.functions.call_function("graft_shingles", text,
      org.apache.spark.sql.functions.lit(n))
}
