package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** 64-bit SimHash as a native codegen'd expression — the signature
  * map of the SimHash dedup path (x04), one invocation per document
  * over the whole corpus.
  *
  * Replaces the interpreted higher-order-function pipeline in the
  * original `Dedup.simhash64` formulation (per token: 64 nibble-shift
  * lambdas; per document: a 64-slot zip_with fold) — which allocates
  * interpreter frames per bit per token — with one static call doing
  * a single MD5 + bit loop per token. Semantics are BIT-IDENTICAL to
  * the HOF form and the x04 DuckDB oracle: bit j of the signature is
  * set iff the ±1 votes of bit (j%4) of md5-hex-nibble (j/4) over all
  * space-split tokens sum positive; bit 63's weight is Long.MinValue
  * (two's complement), so the sum-of-weights equals the OR-of-bits
  * value computed here.
  */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_simhash64 expects string, got ${child.dataType.catalogString}")

  override def nullSafeEval(input: Any): Any =
    SimHash64.simhash(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimHash64.simhash($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimHash64 {

  private val md5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** One MD5 + bit loop per token; called from generated code. */
  def simhash(s: UTF8String): Long = {
    val toks = s.toString.split(" ", -1)
    val votes = new Array[Int](64)
    val digest = md5.get()
    var t = 0
    while (t < toks.length) {
      digest.reset()
      val d = digest.digest(
        toks(t).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      var j = 0
      while (j < 64) {
        // hex digit j/4 of the digest: byte (j/4)/2, high nibble when
        // (j/4) is even — exactly substr(md5_hex, j/4 + 1, 1)
        val k = j >> 2
        val b = d(k >> 1) & 0xff
        val nib = if ((k & 1) == 0) b >> 4 else b & 0xf
        votes(j) += (((nib >> (j & 3)) & 1) << 1) - 1
        j += 1
      }
      t += 1
    }
    var sig = 0L
    var j = 0
    while (j < 64) {
      if (votes(j) > 0) sig |= 1L << j
      j += 1
    }
    sig
  }

  def simhash64(text: Column): Column =
    org.apache.spark.sql.functions.call_function("graft_simhash64", text)
}
