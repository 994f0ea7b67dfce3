package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.FormattedMode
import java.nio.file.Files
import graft.TestSpark

/** Physical-plan assertions (SURVEY.md §4): the optimizations the
  * 100 TB design depends on must be visible in the plan, not assumed —
  * predicate pushdown to parquet, partition pruning on the part=
  * layout, broadcast joins for dimensions, no-shuffle bucketed joins.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(FormattedMode)

  /** Every SparkEntry query built once at sf0.001, in name order. The
    * three all-query audits below share these frames: building a query
    * runs its eager training and index saves, so building it per audit
    * tripled the suite's cost. */
  private lazy val built: Seq[(String, org.apache.spark.sql.DataFrame)] =
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      name -> fn(spark, "/root/testdata/sf0.001")
    }

  test("filters and projection push down to the parquet scan") {
    val plan = planOf(SparkEntry.queries("q02_filter_pushdown")(
      spark, "/root/testdata/sf0.001"))
    assert(plan.contains("PushedFilters:"))
    assert(plan.contains("GreaterThan(l_quantity,49.0)"))
    // projection pruning: the scan must NOT read all 11 lineitem columns
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("l_tax") && !readSchema.contains("l_comment"))
  }

  test("part= partition layout prunes to one directory") {
    val dir = Files.createTempDirectory("prune").toString
    val df = Seq(("a", "P1_20230101", 1), ("b", "P2_20230101", 2))
      .toDF("v", "part", "n")
    df.write.partitionBy("part").mode("overwrite").parquet(dir)
    val plan = planOf(spark.read.parquet(dir).where($"part" === "P1_20230101"))
    assert(plan.contains("PartitionFilters: [isnotnull(part"))
    // (DataFrame.inputFiles ignores pruning — assert via results)
    val rows = spark.read.parquet(dir).where($"part" === "P1_20230101").collect()
    assert(rows.length == 1 && rows(0).getAs[String]("v") == "a")
  }

  test("dimension joins broadcast (no shuffle of the big side)") {
    val plan = planOf(SparkEntry.queries("q03_join_revenue_by_nation")(
      spark, "/root/testdata/sf0.001"))
    assert(plan.contains("BroadcastHashJoin"))
  }

  test("bucketed tables join without an exchange") {
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    // a crashed prior run can leave the managed location behind
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    Seq("b_orders", "b_lineitem").foreach { t =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh, t))
    }
    val o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    o.write.bucketBy(4, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("b_orders")
    li.write.bucketBy(4, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("b_lineitem")
    val joined = spark.table("b_lineitem").join(
      spark.table("b_orders").hint("merge"),
      $"l_orderkey" === $"o_orderkey")
    val plan = planOf(joined)
    // co-located bucketed join: SortMergeJoin with NO shuffle exchanges
    assert(plan.contains("SortMergeJoin"))
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join should not shuffle:\n$plan")
  }

  test("RangeJoinRule rewrites pure interval theta-joins away from BNLJ") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val points = Seq((1L, ts("2024-01-01 10:30:00")),
        (2L, ts("2024-01-01 13:00:00")), (3L, ts("2024-01-02 09:00:00")))
      .toDF("pid", "pts")
    val intervals = Seq((10L, ts("2024-01-01 10:00:00"), ts("2024-01-01 12:00:00")),
        (11L, ts("2024-01-02 08:00:00"), ts("2024-01-02 10:00:00")),
        // inverted interval: matches nothing under BNLJ; the rewrite
        // must emit zero buckets for it, not throw from sequence()
        (12L, ts("2024-01-03 10:00:00"), ts("2024-01-03 08:00:00")))
      .toDF("iid", "lo", "hi")
    def joined = points.join(intervals,
      points("pts") >= intervals("lo") && points("pts") <= intervals("hi"))
    def result = joined.collect().map(r =>
      (r.getAs[Long]("pid"), r.getAs[Long]("iid"))).toSet
    val key = "spark.graft.rangeJoin.bucketSeconds"
    spark.conf.unset(key)
    // without the rule: no equi-key → nested-loop join
    assert(joined.queryExecution.executedPlan.toString
      .contains("BroadcastNestedLoopJoin"))
    val expected = result
    try {
      spark.conf.set(key, "3600")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
      assert(result == expected)
      assert(expected == Set((1L, 10L), (3L, 11L)))
      // TIMESTAMP_NTZ columns rewrite too (relabel-through-TIMESTAMP path)
      val pNtz = points.withColumn("pts", $"pts".cast("timestamp_ntz"))
      val iNtz = intervals.withColumn("lo", $"lo".cast("timestamp_ntz"))
        .withColumn("hi", $"hi".cast("timestamp_ntz"))
      val jNtz = pNtz.join(iNtz,
        pNtz("pts") >= iNtz("lo") && pNtz("pts") <= iNtz("hi"))
      assert(!jNtz.queryExecution.executedPlan.toString
        .contains("BroadcastNestedLoopJoin"))
      assert(jNtz.collect().map(r =>
        (r.getAs[Long]("pid"), r.getAs[Long]("iid"))).toSet == expected)
    } finally spark.conf.unset(key)
  }

  test("native top-k aggregates without a window sort") {
    val plan = planOf(SparkEntry.queries("x41_native_topk")(
      spark, "/root/testdata/sf0.001"))
    // the whole point: partial ObjectHashAggregate map-side, no
    // WindowExec and no per-partition Sort before the aggregate
    assert(plan.contains("ObjectHashAggregate"), plan)
    assert(!plan.contains("Window"), s"top-k must not use a window:\n$plan")
    val firstAgg = plan.indexOf("ObjectHashAggregate")
    val sortIdx = plan.indexOf("Sort ")
    assert(sortIdx == -1 || sortIdx < firstAgg,
      "any Sort must be the final presentation orderBy, not an input sort")
  }

  test("blocked fuzzy join is an equality join, never a cartesian") {
    val plan = planOf(SparkEntry.queries("x35_fuzzy_blocked_join")(
      spark, "/root/testdata/sf0.001"))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"fuzzy candidates must come from the block-key equi-join:\n$plan")
  }

  test("no query plans an accidental cartesian / nested-loop join") {
    // BNLJ is legitimate ONLY where one side is definitionally tiny:
    val whitelist = Set(
      "x06_ann_bruteforce_topk", // exact baseline: queries broadcast the corpus scan
      "x14_ann_ivf_topk",        // k-means assignment: ≤nCentroids rows broadcast
      "x21_term_relevance",      // 1-row corpus-total broadcast
      "x28_vocab_coverage",      // 1-row total broadcast
      "x39_skew_key_profile",    // 1-row total broadcast
      "x43_corpus_drift",        // 1-row totals broadcast
      "x44_histogram_profile",   // 1-row (min,max) bounds broadcast
      "x48_unigram_surprisal",   // 1-row corpus-total broadcast
      "x53_bm25_top_terms",      // 1-row (n_docs, t_toks) broadcast
      "x55_pmi_collocations",    // 1-row pair-total broadcast
      "x69_kmeans_assign",       // ≤k-row centroid table broadcast
      "x72_decayed_score",       // 1-row max-timestamp broadcast
      "x77_hard_negatives",      // exact baseline: queries broadcast the corpus scan
      "x83_hits",                // 1-row L1-total broadcast per round
      "x85_negative_sampling",   // item vocabulary broadcast (dimension-sized)
      "x86_equal_freq_bins",     // 1-row row-count broadcast (NTILE arithmetic)
      "x87_kmeans_lloyd",        // ≤k-row centroid broadcast per round
      "x89_basket_lift",         // 1-row basket-total broadcast
      "x93_kn_continuation",     // 1-row bigram-type-total broadcast
      "x98_kmv_join_estimate",   // two 1-row sketch frames crossed
      "x99_ks_distance",         // 1-row sample-total broadcast
      "x115_cohen_kappa",        // two 1-row frames crossed (totals × pe)
      "x116_retrieval_eval",     // exact baseline: queries broadcast the corpus scan
      "x119_modularity",         // 1-row edge-count broadcast
      "x120_information_gain",   // 1-row N + entropy-sum frames crossed
      "x122_kl_drift",           // 1-row (totals, vocab-size) broadcast
      "x127_mixture_quota",      // 1-row budget-minimum broadcast
      "x132_component_sizes",    // two 1-row counts crossed (singletons)
      "x135_decile_lift",        // 1-row (n, n_pos) totals broadcast
      "x140_class_tfidf",        // 1-row group-count broadcast
      "x142_lsh_banding_audit",  // three 1-row counts crossed
      "x143_principal_direction", // 1-row renormalizer broadcast per round
      "x144_bootstrap_ci",       // 1-row order-statistic frame crossed
      "x146_term_burstiness",    // 1-row corpus-size broadcast
      "x147_rank_biased_overlap", // two 1-row frames crossed (S × n_joint)
      "x148_cross_surprisal",    // 1-row (total, V) broadcast
      "x159_oov_curve",          // 1-row totals broadcast
      "x169_mutual_banding_audit", // exact ground-truth side broadcasts the fixture slice
      "x170_knn_banding_audit",  // exact ground-truth side broadcasts the fixture slice
      "x172_pq_adc_topk",        // ≤6-row query distance tables crossed with the codes scan
      "x174_ndcg_at_k",          // exact-ranking baseline: ≤6-row query set broadcast
      "x176_fleiss_kappa",       // three 1-row sufficient-statistic frames crossed
      "x178_pq_recall_audit",    // audit: exact side crosses the ≤6-row query set; 1-row counts
      "x181_ivf_pq_topk",        // ≤16-row coarse-centroid table crossed with the query set
      "x183_sqrt_temperature_mix", // 1-row Σw total crossed with the per-source frame
      "x184_semantic_banding_audit", // audit: exact int8 ground truth a<b broadcast over the fixture
      "x185_dsir_importance",    // two 1-row model totals crossed with the B-row bucket table
      "x186_unimax_allocation",  // three 1-row water-filling scalars (k, m, cumcap) crossed
      "x187_jl_distortion_audit", // audit: hash-sampled sub-corpus a<b broadcast pair join
      "x189_semantic_dedup_ivf", // ≤k-row centroid broadcast (the x87 assignment cross join)
      "x192_semantic_ivf_audit", // audit: exact int8 ground truth a<b broadcast over the fixture
      "x194_bm25_retrieval",     // 1-row (N, T) corpus totals crossed with the postings hits
      "x196_hybrid_retrieval",   // composes x194's totals cross + x06's ≤6-row query broadcast
      "x197_pq_refine_topk",     // ADC stage (dtab × codes scan) now EXECUTES at build (bounded collect); the refine plan joins the local candidate frame
      "x198_rocchio_classifier", // 1-row class-token-total frame crossed with the B-row weight table
      "x200_corpus_overlap_matrix", // ≤groups-row signature matrix a<b broadcast theta join
      "x201_signature_merge_overlap", // same ≤groups-row a<b theta join over merged signatures
      "x202_dedup_threshold_sweep", // ≤64-row threshold list crossed with the bounded pair list
      "x205_truncation_recall",  // exact baseline: panel broadcast over the corpus scan + 1-row panel count crossed
      "x207_containment_from_store", // x200's ≤groups-row a<b theta join, sizes from the maintained store
      "x210_persistent_pq_serve",  // x197 served from the persisted index: candidates pushed into the sorted payload scan
      "x213_pq_append_serve",    // x210's served shape over frozen-codebook slices (same local-candidate refine plan)
      "x215_pq_compact_serve",   // x213's served shape after compaction (same local-candidate refine plan, one slice)
      "x216_ivfpq_refine_serve", // x212's routed ADC (≤16-row centroid cross) + x210's local-candidate refine plan
      "x217_ivfpq_sliced_refine") // x216's served shape over frozen-artifact slices
    val offenders = built.flatMap {
      case (name, df) =>
        val plan = planOf(df)
        if (plan.contains("CartesianProduct")) Some(s"$name: CartesianProduct")
        else if (plan.contains("BroadcastNestedLoopJoin") &&
                 !whitelist.contains(name)) Some(s"$name: BNLJ")
        else None
    }
    assert(offenders.isEmpty, offenders.mkString("; "))
  }

  test("no query plans an unpartitioned (single-reducer) window") {
    // Window.orderBy with no partition key moves EVERY row to one
    // task — the global-sort scale cliff. The library's cumsum/rank
    // operators route through Prefix.globalRunningSums (range
    // exchange + per-partition offsets) instead; this gate keeps the
    // class extinct. Checked on the pre-AQE physical plan so
    // WindowExec nodes are still visible as such.
    val offenders = built.flatMap {
      case (name, df) =>
        val bad = df.queryExecution.sparkPlan.collect {
          case w: org.apache.spark.sql.execution.window.WindowExec
              if w.partitionSpec.isEmpty => w.nodeName
          case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec
              if w.partitionSpec.isEmpty => w.nodeName
        }
        if (bad.nonEmpty) Some(s"$name: ${bad.mkString(",")}") else None
    }
    assert(offenders.isEmpty,
      s"single-partition windows found:\n${offenders.mkString("\n")}")
  }

  test("no query explicitly broadcasts an unbounded corpus-sized frame") {
    // The x152/x158 class of round 5: a library operator that
    // broadcast()s a corpus table works on the fixture and OOMs the
    // executors at 100 TB. With autoBroadcastJoinThreshold disabled,
    // every surviving broadcast join is an EXPLICIT library decision —
    // each one must either never scan a corpus table, or reduce it
    // through an aggregate / limit before broadcasting (1-row totals,
    // ≤k centroid tables, top-k seeds). Whitelisted: brute-force
    // ground-truth baselines whose broadcast side is a documented
    // fixture-bounded query set. Each built frame's logical plan is
    // planned again under the disabled threshold.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}
    import org.apache.spark.sql.catalyst.optimizer.BuildLeft
    val corpus = Seq("lineitem", "orders", "events", "documents",
      "embeddings", "customer", "part", "partsupp", "supplier")
    val whitelist = Set(
      "q04_broadcast_join_brand",  // the broadcast-join demonstrator itself: an explicit user
                                   // choice to broadcast a dimension (2-col part projection)
      "x23_decontamination",       // benchmark-suite shingles broadcast: the eval set is
                                   // definitionally small relative to the training corpus
      "x06_ann_bruteforce_topk",   // exact baseline: ≤5-row query set broadcast (vec_id < 5)
      "x14_ann_ivf_topk",          // ≤5-row query set + ≤k centroid probes broadcast
      "x15_ann_lsh_topk",          // exact-sketch baseline: ≤5-row query set broadcast
      "x77_hard_negatives",        // exact baseline: ≤5-row labeled query set broadcast
      "x116_retrieval_eval",       // eval harness: ≤5-row query set broadcast
      "x169_mutual_banding_audit", // audit: exact ground truth broadcasts the 500-row fixture slice
      "x170_knn_banding_audit",    // audit: exact ground truth broadcasts the 500-row fixture slice
      "x172_pq_adc_topk",          // ≤6-row query set broadcast (vec_id % 97); corpus side scans CODES
      "x174_ndcg_at_k",            // eval harness: ≤6-row query set broadcast (vec_id % 97)
      "x178_pq_recall_audit",      // audit: ≤6-row query set broadcast on both sides
      "x181_ivf_pq_topk",          // ≤16-row centroid broadcast; queries scan reduces via probe top-n
      "x184_semantic_banding_audit", // audit: exact int8 ground truth broadcasts the fixture slice
      "x187_jl_distortion_audit",  // audit: hash-sampled sub-corpus broadcast, documented audit-only
      "x192_semantic_ivf_audit",   // audit: exact int8 ground truth broadcasts the fixture slice
      "x194_bm25_retrieval",       // retrieval: ≤6-row query-term panel broadcast (doc_id % 97)
      "x196_hybrid_retrieval",     // hybrid: the same two panel broadcasts as x194 + x06
      "x197_pq_refine_topk",       // refine: ≤6-row panel broadcast; ADC candidates collected + pushed into the payload scan
      "x205_truncation_recall",    // audit: ≤6-row query set broadcast (vec_id % 97), full + sliced
      "x210_persistent_pq_serve",  // x197 served from disk: panel broadcast + candidate-pruned payload scan
      "x213_pq_append_serve",    // x210's panel broadcast, served from appended slices
      "x215_pq_compact_serve",   // x210's panel broadcast, served from the compacted slice
      "x216_ivfpq_refine_serve", // ≤16-row centroid broadcast + panel broadcast + candidate-pruned payload scan
      "x217_ivfpq_sliced_refine") // x216's broadcasts, served from the slice union
    def scansCorpus(p: SparkPlan): Boolean = p.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.relation.location.rootPaths.exists(rp =>
            corpus.exists(t => rp.toString.contains(s"$t.parquet"))) => f
    }.nonEmpty
    def reduced(p: SparkPlan): Boolean = p.collect {
      case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a.nodeName
      case l: org.apache.spark.sql.execution.GlobalLimitExec => l.nodeName
      case l: org.apache.spark.sql.execution.LocalLimitExec => l.nodeName
      case l: org.apache.spark.sql.execution.CollectLimitExec => l.nodeName
    }.nonEmpty
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      val offenders = built.flatMap {
        case (name, _) if whitelist.contains(name) => None
        case (name, df) =>
          val plan = spark.sessionState
            .executePlan(df.queryExecution.logical).sparkPlan
          val builds = plan.collect {
            case j: BroadcastHashJoinExec =>
              if (j.buildSide == BuildLeft) j.left else j.right
            case j: BroadcastNestedLoopJoinExec =>
              if (j.buildSide == BuildLeft) j.left else j.right
          }
          val bad = builds.filter(b => scansCorpus(b) && !reduced(b))
          if (bad.nonEmpty)
            Some(s"$name: broadcasts unreduced corpus scan:\n${bad.head}")
          else None
      }
      assert(offenders.isEmpty, offenders.mkString("\n\n"))
    } finally spark.conf.set(key, saved)
  }

  test("deterministic sampling is a pure narrow plan (scan + filter only)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val sampled = graft.ext.Sampling.stratifiedSample(
      docs, "lang", "doc_id", Map("en" -> 0.5, "de" -> 0.25), "s")
    val split = graft.ext.Sampling.hashSplit(sampled, "doc_id",
      Seq("train" -> 0.9, "test" -> 0.1), "s")
    val plan = planOf(split)
    // no shuffle, no RNG: the whole sample+split is scan-speed
    assert(!plan.contains("Exchange"), s"sampling must not shuffle:\n$plan")
    assert(!plan.toLowerCase.contains("rand"), "hash-based, not RNG-based")
  }
}
