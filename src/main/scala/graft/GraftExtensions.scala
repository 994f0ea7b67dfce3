package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

import graft.functions._

/** SparkSessionExtensions entry point and the one place graft's native
  * SQL functions are registered: every entry of
  * [[GraftExtensions.functions]] is injected, plus the opt-in
  * [[plans.RangeJoinRule]]. [[GraftSession.build]] wires this class
  * in; any other session gets the same functions through
  * `--conf spark.sql.extensions=graft.GraftExtensions`, and sessions
  * derived with `newSession()` inherit them.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, cls, build) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name),
        (exprs: Seq[Expression]) => build(new GraftExtensions.Args(name, exprs))))
    }
    // opt-in bucketed rewrite of point-in-interval theta-joins
    // (spark.graft.rangeJoin.bucketSeconds > 0 enables it)
    ext.injectOptimizerRule(session => plans.RangeJoinRule(session))
  }
}

object GraftExtensions {
  type Builder = Args => Expression

  /** Every native SQL function: (SQL name, expression class, builder).
    * Arguments that configure the expression itself (window widths,
    * k, capacities, codebooks) must be constants; see [[Args]]. */
  val functions: Seq[(String, Class[_], Builder)] = Seq(
    ("graft_dot", classOf[DotProduct], a => DotProduct(a(0), a(1))),
    ("graft_dot_long", classOf[DotProductLong], a => DotProductLong(a(0), a(1))),
    ("graft_sliding_min", classOf[SlidingMin], a => SlidingMin(a(0), a.int(1, "w"))),
    ("graft_inversions", classOf[InversionCount], a => InversionCount(a(0))),
    ("graft_pq_encode", classOf[PqEncode], a => PqEncode(a(0),
      a.arrays(1, "codebook").map(_.toLongArray()), a.int(2, "ksub"))),
    ("graft_plane_bands", classOf[PlaneBands], a => PlaneBands(a(0),
      a.arrays(1, "planes").map(_.toDoubleArray()), a.int(2, "bands"),
      a.int(3, "bitsPerBand"), String.valueOf(a.const(4, "errWhere")))),
    ("graft_int8_quantize", classOf[Int8Quantize], a => Int8Quantize(a(0))),
    ("graft_minhash", classOf[MinHashAgg],
      a => MinHashAgg(a(0), a.int(1, "k")).toAggregateExpression()),
    ("graft_minhash_array", classOf[MinHashArray], a => MinHashArray(a(0), a.int(1, "k"))),
    ("graft_translit", classOf[Transliterate], a => Transliterate(a(0))),
    ("graft_shingles", classOf[WordShingles], a => WordShingles(a(0), a.int(1, "n"))),
    ("graft_token_ngrams", classOf[TokenNgrams], a => TokenNgrams(a(0), a.int(1, "n"))),
    ("graft_intersect_count", classOf[IntersectCount], a => IntersectCount(a(0), a(1))),
    ("graft_simhash64", classOf[SimHash64], a => SimHash64(a(0))),
    ("graft_topk", classOf[TopKAgg],
      a => TopKAgg(a(0), a(1), a.int(2, "k")).toAggregateExpression()),
    ("graft_heavyhitters", classOf[HeavyHittersAgg],
      a => HeavyHittersAgg(a(0), a.int(1, "cap")).toAggregateExpression()),
    ("graft_quantile_sketch", classOf[QuantileSketchAgg],
      a => QuantileSketchAgg(a(0), a.int(1, "cap")).toAggregateExpression()),
    ("graft_kmin", classOf[KMinAgg],
      a => KMinAgg(a(0), a.int(1, "k")).toAggregateExpression()),
    ("graft_vecsum", classOf[VectorSumAgg],
      a => VectorSumAgg(a(0), a.int(1, "dims")).toAggregateExpression()),
    ("graft_vecoutersum", classOf[VectorOuterSumAgg],
      a => VectorOuterSumAgg(a(0), a.int(1, "dims")).toAggregateExpression()))

  /** The arguments of one call of `fn`. Those that configure the
    * expression itself are evaluated at plan time: a column reference
    * or a nondeterministic expression there is an error naming the
    * function and the argument, as is a missing argument. */
  final class Args(fn: String, exprs: Seq[Expression]) {
    def apply(i: Int): Expression =
      if (i < exprs.length) exprs(i)
      else throw new IllegalArgumentException(
        s"$fn: missing argument ${i + 1}, got ${exprs.length}")

    def const(i: Int, arg: String): Any = {
      val e = apply(i)
      if (e.foldable) e.eval()
      else throw new IllegalArgumentException(
        s"$fn: $arg must be a constant, got ${e.sql}")
    }

    /** A constant integral argument that fits in an Int. */
    def int(i: Int, arg: String): Int =
      (apply(i).dataType, const(i, arg)) match {
        case (ByteType | ShortType | IntegerType | LongType, v: Number)
            if v.longValue.isValidInt => v.intValue
        case (_, v) => throw new IllegalArgumentException(
          s"$fn: $arg must be an int constant, got ${apply(i).sql} = $v")
      }

    /** A constant array of arrays (a codebook or plane matrix). */
    def arrays(i: Int, arg: String): Array[ArrayData] = const(i, arg) match {
      case outer: ArrayData => Array.tabulate(outer.numElements())(outer.getArray)
      case v => throw new IllegalArgumentException(
        s"$fn: $arg must be a constant array of arrays, got ${apply(i).sql} = $v")
    }
  }
}
