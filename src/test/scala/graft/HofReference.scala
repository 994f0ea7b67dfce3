package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The interpreted higher-order-function (HOF) formulations that the
  * native expressions replaced. No production path calls them: they
  * are the executable references the native kernels' specs compare
  * against, bit for bit. */
object HofReference {

  /** The pre-r13 higher-order-function composition of
    * `Similarity.int8Quantize` — three interpreted lambda passes per
    * row. The bit-parity reference for the native expression's spec
    * (R13OptSpec). */
  def int8QuantizeHof(vec: Column): Column = {
    val maxabs = array_max(transform(vec, v => abs(v.cast("double"))))
    val scale = lit(127.0) / maxabs
    val q = when(maxabs === 0.0, transform(vec, _ => lit(0L)))
      .otherwise(transform(vec, v =>
        greatest(lit(-127L), least(lit(127L),
          floor(v.cast("double") * scale + 0.5)))))
    struct(maxabs.as("maxabs"), q.as("q"))
  }

  /** The interpreted higher-order-function formulation of
    * `Dedup.simhash64` — the executable specification the native
    * expression is property-tested against (and the direct mirror of
    * the x04 oracle SQL). Bit 63's weight is Long.MinValue — the
    * two's-complement value of the top bit — because +2^63 overflows
    * signed 64-bit; adding it to the (non-negative, < 2^63) low-bit
    * sum never overflows and both engines agree on the value. */
  def simhash64Hof(text: Column): Column = {
    val toks = split(text, " ")
    val bitsPerTok = transform(toks, t => {
      val h = md5(t.cast("binary"))
      transform(sequence(lit(0), lit(63)), j => {
        // nibble = hex digit j/4; vote = ±1 from bit j%4 of the nibble
        val nib = conv(h.substr((j / 4).cast("int") + 1, lit(1)), 16, 10).cast("int")
        val sel = pmod(j, lit(4))
        val shifted = when(sel === 0, nib).when(sel === 1, floor(nib / 2))
          .when(sel === 2, floor(nib / 4)).otherwise(floor(nib / 8)).cast("int")
        pmod(shifted, lit(2)) * 2 - 1
      })
    })
    // element-wise vote sum across tokens, then sign → bit → weight
    val votes = aggregate(bitsPerTok,
      transform(sequence(lit(0), lit(63)), _ => lit(0)),
      (acc, bits) => zip_with(acc, bits, (a, b) => a + b))
    aggregate(
      zip_with(votes, sequence(lit(0), lit(63)),
        (v, j) => when(v <= 0, lit(0L))
          .when(j === 63, lit(Long.MinValue))
          .otherwise(pow(lit(2.0), j).cast("long"))),
      lit(0L), (a, b) => a + b)
  }
}
