package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.catalyst.FunctionIdentifier
import graft.TestSpark

/** The one registration path: every native function comes from
  * [[GraftExtensions.functions]], so a session that only has the
  * extensions (`newSession()`, `--conf spark.sql.extensions=...`)
  * resolves all of them, and arguments that must be constants fail
  * at analysis with an error naming the function and the argument.
  * Analysis only — no Spark job runs here. */
class GraftExtensionsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def messages(t: Throwable): Seq[String] =
    if (t == null) Seq.empty
    else Option(t.getMessage).toSeq ++ messages(t.getCause)

  test("the table names 20 distinct functions") {
    val names = GraftExtensions.functions.map(_._1)
    assert(names.size == 20 && names.distinct.size == 20, names)
  }

  test("a session with only the extensions resolves every function") {
    val registry = spark.newSession().sessionState.functionRegistry
    GraftExtensions.functions.foreach { case (name, cls, _) =>
      val info = registry.lookupFunction(FunctionIdentifier(name))
      assert(info.map(_.getClassName).contains(cls.getName), name)
    }
  }

  test("RangeJoinRule runs only in the injected optimizer batches") {
    import scala.language.reflectiveCalls
    type Batch = { def name: String; def rules: Seq[AnyRef] }
    val batches = spark.sessionState.optimizer
      .asInstanceOf[{ def batches: Seq[Batch] }].batches
    val withRule = batches
      .filter(_.rules.exists(_.isInstanceOf[plans.RangeJoinRule])).map(_.name)
    assert(withRule.nonEmpty &&
      withRule.forall(_.startsWith("Operator Optimization")), withRule)
    assert(spark.experimental.extraOptimizations.isEmpty)
  }

  private val mustBeConstant = Seq(
    "graft_sliding_min(a, n)" -> "w",
    "graft_sliding_min(a, cast(rand() * 2 AS INT) + 1)" -> "w",
    "graft_pq_encode(a, cb, 2)" -> "codebook",
    "graft_pq_encode(a, array(array(1L, 2L), array(3L, 4L)), n)" -> "ksub",
    "graft_plane_bands(v, pl, 1, 2, 'x')" -> "planes",
    "graft_plane_bands(v, array(array(1D, 0D)), n, 1, 'x')" -> "bands",
    "graft_plane_bands(v, array(array(1D, 0D)), 1, n, 'x')" -> "bitsPerBand",
    "graft_plane_bands(v, array(array(1D, 0D)), 1, 1, s)" -> "errWhere",
    "graft_minhash(s, n)" -> "k",
    "graft_minhash_array(sa, n)" -> "k",
    "graft_shingles(s, n)" -> "n",
    "graft_token_ngrams(s, n)" -> "n",
    "graft_topk(d, l, n)" -> "k",
    "graft_heavyhitters(s, n)" -> "cap",
    "graft_quantile_sketch(d, n)" -> "cap",
    "graft_kmin(l, n)" -> "k",
    "graft_kmin(l, 1.5D)" -> "k",
    "graft_kmin(l, 3000000000L)" -> "k",
    "graft_vecsum(a, n)" -> "dims",
    "graft_vecoutersum(a, n)" -> "dims")

  test("a non-constant or non-int argument is an error naming the function") {
    spark.sql("""SELECT array(3L, 1L) AS a, array(1D, 0D) AS v, 'x y' AS s,
        array('x') AS sa, 2 AS n, 1D AS d, 1L AS l,
        array(array(1L, 2L)) AS cb, array(array(1D, 0D)) AS pl""")
      .createOrReplaceTempView("graft_args")
    mustBeConstant.foreach { case (call, arg) =>
      val fn = call.takeWhile(_ != '(')
      val e = intercept[Exception](spark.sql(s"SELECT $call FROM graft_args"))
      assert(messages(e).exists(m => m.contains(fn) && m.contains(s" $arg ")),
        s"$call: ${messages(e)}")
    }
    val missing = intercept[Exception](spark.sql("SELECT graft_dot(v) FROM graft_args"))
    assert(messages(missing).exists(m =>
      m.contains("graft_dot") && m.contains("missing argument 2")), messages(missing))
    // a constant integral expression of any width is accepted
    spark.sql("SELECT graft_sliding_min(a, 1 + 1) FROM graft_args")
    spark.sql("SELECT graft_kmin(l, 2L) FROM graft_args")
  }
}
