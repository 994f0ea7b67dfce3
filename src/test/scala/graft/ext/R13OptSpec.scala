package graft.ext

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** Round-13 optimization equivalences: every rewrite in this round is
  * pinned against an inline replica of the shape it replaced —
  * bit-identical outputs, not just statistically similar ones. */
class R13OptSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def rng = new scala.util.Random(1312)

  // --- native PlaneBands vs the compositional when(dot > 0) form ----

  private def oldBandBuckets(vec: org.apache.spark.sql.Column,
                             planes: Array[Array[Double]],
                             bands: Int, bits: Int)
      : org.apache.spark.sql.Column = {
    def planeDot(pl: Array[Double]) =
      graft.functions.VectorExpressions.dot_product(vec, typedLit(pl.toSeq))
    array((0 until bands).map { b =>
      (0 until bits).map { j =>
        when(planeDot(planes(b * bits + j)) > 0, lit(1L << j))
          .otherwise(lit(0L))
      }.reduce(_ + _)
    }: _*)
  }

  test("PlaneBands: bit-identical to the per-plane when(dot>0) chain (float + double)") {
    val r = rng
    val planes = Planes.components(32, 8) // 8 bands x 4 bits
    val fvecs = (0 until 64).map(i =>
      (i.toLong, Array.fill(8)(r.nextFloat() * 2 - 1)))
    val fdf = fvecs.toDF("id", "v")
    val gotF = fdf.select($"id",
        Planes.bandBuckets($"v", planes, 8, 4).as("nb"),
        oldBandBuckets($"v", planes, 8, 4).as("ob"))
      .collect()
    gotF.foreach { row =>
      assert(row.getSeq[Long](1) == row.getSeq[Long](2),
        s"float vec id=${row.getLong(0)}")
    }
    val dvecs = (0 until 64).map(i =>
      (i.toLong, Array.fill(8)(r.nextDouble() * 2 - 1)))
    val gotD = dvecs.toDF("id", "v").select($"id",
        Planes.bandBuckets($"v", planes, 8, 4).as("nb"),
        oldBandBuckets($"v", planes, 8, 4).as("ob"))
      .collect()
    gotD.foreach { row =>
      assert(row.getSeq[Long](1) == row.getSeq[Long](2),
        s"double vec id=${row.getLong(0)}")
    }
  }

  test("PlaneBands: sketch matches the old bit-sum formula and fails loudly on bad input") {
    val r = rng
    val planes = Planes.components(8, 4)
    val vecs = (0 until 32).map(i => (i.toLong, Array.fill(4)(r.nextFloat() - 0.5f)))
    val got = vecs.toDF("id", "v")
      .select($"id", Planes.sketch($"v", planes).as("sk")).collect()
      .map(row => row.getLong(0) -> row.getLong(1)).toMap
    vecs.foreach { case (id, v) =>
      val expected = planes.zipWithIndex.map { case (pl, j) =>
        val dot = v.zip(pl).foldLeft(0.0) { case (a, (x, p)) => a + x.toDouble * p }
        if (dot > 0) 1L << j else 0L
      }.sum
      assert(got(id) == expected, s"id=$id")
    }
    // wrong length raises (the silent-bucket-collapse guard), with the
    // same message core as the raise_error it replaced
    val short = Seq((1L, Array(0.5f))).toDF("id", "v")
    val e = intercept[Exception] {
      short.select(Planes.bandBuckets($"v", planes, 2, 4)).collect()
    }
    assert(e.getMessage != null)
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("vector length 1")),
      s"got: ${messages(e)}")
    // NULL vector raises too (parity with the when/raise_error guard)
    val nulldf = Seq((1L, null: Array[Float])).toDF("id", "v")
    val e2 = intercept[Exception] {
      nulldf.select(Planes.sketch($"v", planes)).collect()
    }
    assert(messages(e2).exists(_.contains("vector length NULL")),
      s"got: ${messages(e2)}")
  }

  // --- int8Assign bounded fast path vs the crossJoin+min shape ------

  private def oldInt8Assign(df: org.apache.spark.sql.DataFrame, id: String,
                            vec: String, seedGroup: String)
      : org.apache.spark.sql.DataFrame = {
    val q = df.select(col(id).as("vid"), col(seedGroup).as("grp"),
      Similarity.int8Quantize(col(vec)).getField("q").as("q8"))
    val sums = q
      .select(col("grp"), posexplode(col("q8")).as(Seq("pos", "v")))
      .groupBy("grp", "pos")
      .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
      .withColumn("c", expr("((2 * (s + 127 * n) + n) div (2 * n)) - 127"))
    val cents = sums.groupBy(col("grp").as("cluster"))
      .agg(transform(sort_array(collect_list(struct(col("pos"), col("c")))),
        x => x("c")).as("cvec"))
    val dotL = graft.functions.VectorExpressions.dot_long _
    q.withColumn("_qq", dotL(col("q8"), col("q8")))
      .crossJoin(broadcast(
        cents.withColumn("_cc", dotL(col("cvec"), col("cvec")))))
      .withColumn("d2",
        col("_qq") - dotL(col("q8"), col("cvec")) * 2 + col("_cc"))
      .groupBy(col("vid"))
      .agg(min(struct(col("d2"), col("cluster").cast("long").as("cluster")))
        .as("m"))
      .select(col("vid").as("vec_id"), col("m.cluster").as("cluster"),
        col("m.d2").as("d2"))
  }

  test("int8Assign fast path == old broadcast+min shape (incl. null embedding)") {
    val r = rng
    val rows = (0L until 40L).map { i =>
      (i, (i % 5).toInt, Array.fill(6)(r.nextFloat() * 2 - 1))
    } :+ ((99L, 2, null: Array[Float])) // null vector: fallback semantics
    val df = rows.toDF("vec_id", "label", "embedding")
    val got = Similarity.int8Assign(df, "vec_id", "embedding", "label")
      .collect().map(x => (x.getLong(0), x.getLong(1),
        if (x.isNullAt(2)) null else x.getLong(2))).sortBy(_._1).toSeq
    val old = oldInt8Assign(df, "vec_id", "embedding", "label")
      .collect().map(x => (x.getLong(0), x.getLong(1),
        if (x.isNullAt(2)) null else x.getLong(2))).sortBy(_._1).toSeq
    assert(got == old)
  }

  test("int8Assign falls back (same answer) on mixed-dim groups") {
    // two groups whose centroid vectors have DIFFERENT lengths: the
    // rectangular in-row table cannot represent this — must take the
    // old shape and keep its exact semantics
    val df = Seq(
      (1L, 0, Array(1.0f, 0.0f)),
      (2L, 0, Array(0.5f, 0.5f)),
      (3L, 1, Array(0.0f, 1.0f, 0.5f)) // dim 3 group
    ).toDF("vec_id", "label", "embedding")
    val got = Similarity.int8Assign(df, "vec_id", "embedding", "label")
      .collect().map(x => (x.getLong(0), x.getLong(1),
        if (x.isNullAt(2)) null else x.getLong(2))).sortBy(_._1).toSeq
    val old = oldInt8Assign(df, "vec_id", "embedding", "label")
      .collect().map(x => (x.getLong(0), x.getLong(1),
        if (x.isNullAt(2)) null else x.getLong(2))).sortBy(_._1).toSeq
    assert(got == old)
  }

  // --- ivfTopKInt8 empty-corpus guard -------------------------------

  test("ivfTopKInt8: empty corpus yields an empty frame, not a plan-build crash") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter($"vec_id" < 3)
    val empty = emb.filter(lit(false))
    val got = Similarity.ivfTopKInt8(queries, "vec_id", "embedding",
      empty, "vec_id", "embedding", k = 5, nCentroids = 4, nProbe = 2)
    assert(got.count() == 0)
    assert(got.columns.toSeq ==
      Seq("query_id", "neighbour_id", "cosine", "rank"))
  }

  // --- prefixSelect (agg form) vs the rank-window form --------------

  test("ngramJaccardPairs unchanged by the in-row prefix (window replica)") {
    val r = rng
    val words = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa")
    val docs = (0L until 30L).map { i =>
      val n = 6 + r.nextInt(10)
      (i, (0 until n).map(_ => words(r.nextInt(words.size))).mkString(" "))
    }.toDF("doc_id", "text")
    val got = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 2, 0.4)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getDouble(2)))
      .sortBy(p => (p._1, p._2)).toSeq
    // replica of the pre-r13 rank-window pipeline, end to end
    val sets = docs.select(col("doc_id").as("_id"),
        Dedup.shingles(col("text"), 2).as("shs"))
      .withColumn("sz", size(col("shs")).cast("long"))
    val rows = sets.select(col("_id"), col("sz"), explode(col("shs")).as("sh"))
    val dfreq = rows.groupBy("sh").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("_id").orderBy(col("df"), col("sh"))
    val prefix = rows.join(dfreq, "sh")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= col("sz") - ceil(lit(0.4) * col("sz")) + 1)
      .select("_id", "sh")
    val candidates = prefix.as("a").join(prefix.as("b"),
        col("a.sh") === col("b.sh") && col("a._id") < col("b._id"))
      .select(col("a._id").as("id_a"), col("b._id").as("id_b"))
      .distinct()
    val old = candidates
      .join(sets.as("sa"), col("id_a") === col("sa._id"))
      .join(sets.as("sb"), col("id_b") === col("sb._id"))
      .withColumn("shared", graft.functions.IntersectCount.intersectCount(
        col("sa.shs"), col("sb.shs")))
      .select(col("id_a"), col("id_b"),
        (col("shared").cast("double") /
          (col("sa.sz") + col("sb.sz") - col("shared"))).as("jaccard"))
      .filter(col("jaccard") >= 0.4)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getDouble(2)))
      .sortBy(p => (p._1, p._2)).toSeq
    assert(got == old)
  }

  // --- VectorOuterSumAgg vs the vecSum∘flatten∘transform² form -------

  test("vecOuterSum: bit-identical to vecSum over the HOF outer product (nulls included)") {
    val r = rng
    val dims = 7
    val rows: Seq[(Long, Array[java.lang.Long])] =
      Seq(
        // a null ELEMENT FIRST (one partition, see coalesce below):
        // rows processed after it catch any stale per-partition
        // scratch state (the null mask is reused across update calls)
        (90L, Array[java.lang.Long](1L, null, 3L, -4L, 5L, -6L, 7L)),
        // a null ROW: skipped entirely
        (91L, null: Array[java.lang.Long])) ++
      (0L until 50L).map { i =>
        (i, Array.fill[java.lang.Long](dims)(
          java.lang.Long.valueOf((r.nextInt(255) - 127).toLong)))
      }
    val df = rows.toDF("id", "q").coalesce(1)
    val outer = flatten(transform(col("q"), qi =>
      transform(col("q"), qj => qi * qj)))
    val got = df.agg(
        graft.functions.VectorSumAgg.vecOuterSum(col("q"), dims).as("g"),
        graft.functions.VectorSumAgg.vecSum(outer, dims * dims).as("o"))
      .collect().head
    assert(got.getSeq[Long](0) == got.getSeq[Long](1))
    // wrong width raises, like the composed form's vecSum did
    val bad = Seq((1L, Array(1L, 2L))).toDF("id", "q")
    val e = intercept[Exception] {
      bad.agg(graft.functions.VectorSumAgg.vecOuterSum(col("q"), dims))
        .collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("graft_vecoutersum")))
  }

  test("int8Gram unchanged by the native outer-product aggregate (sf0.001 embeddings)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val got = Similarity.int8Gram(emb, "embedding", 64).collect().head
    // pre-r13 composition, end to end
    val q = Similarity.int8Quantize(col("embedding")).getField("q")
    val rows = emb.select(q.as("_q"))
    val outer = flatten(transform(col("_q"), qi =>
      transform(col("_q"), qj => qi * qj)))
    val old = rows.agg(
      count(lit(1)).as("n"),
      graft.functions.VectorSumAgg.vecSum(col("_q"), 64).as("sums"),
      graft.functions.VectorSumAgg.vecSum(outer, 64 * 64).as("gram"))
      .collect().head
    assert(got.getLong(0) == old.getLong(0))
    assert(got.getSeq[Long](1) == old.getSeq[Long](1))
    assert(got.getSeq[Long](2) == old.getSeq[Long](2))
  }

  // --- bigram/skipgram zip form vs the transform(sequence) HOFs ------

  test("bigramPairs: bit-identical to the transform(sequence) struct builder") {
    val r = rng
    val words = Vector("a", "bb", "ccc", "dd", "e")
    val docs = ((0L until 40L).map { i =>
      val n = r.nextInt(8) // 0-token and 1-token docs included
      (i, (0 until n).map(_ => words(r.nextInt(words.size))).mkString(" "))
    } ++ Seq((90L, ""), (91L, "solo"), (92L, "  double  spaced  x "))
    ).toDF("doc_id", "text")
    val toks = filter(split(col("text"), " "), t => t =!= "")
    // every caller pre-filters size(_t) >= 2 before building bigrams —
    // that is the operator domain the equivalence claim covers (below
    // it, sequence(1, size-1) STEPS BACKWARDS for size=1 and emitted
    // out-of-bounds null pairs; the zip form yields [] there)
    val got = docs.select(col("doc_id"), toks.as("_t"))
      .filter(size(col("_t")) >= 2)
      .select(col("doc_id"),
        TextAnalysis.bigramPairs(col("_t")).as("nb"),
        expr("transform(sequence(1, size(_t) - 1)," +
          " i -> struct(_t[i-1] AS prev, _t[i] AS tok))").as("ob"))
      .collect()
    assert(got.nonEmpty)
    got.foreach { row =>
      val nb = row.getSeq[org.apache.spark.sql.Row](1)
      val ob = row.getSeq[org.apache.spark.sql.Row](2)
      assert(nb.map(x => (x.getString(0), x.getString(1))) ==
        ob.map(x => (x.getString(0), x.getString(1))),
        s"doc=${row.getLong(0)}")
    }
    // short docs: the zip form is total — [] instead of garbage pairs
    val shorts = docs.select(col("doc_id"), toks.as("_t"))
      .filter(size(col("_t")) < 2)
      .select(TextAnalysis.bigramPairs(col("_t")).as("nb"))
      .collect()
    assert(shorts.nonEmpty)
    shorts.foreach(r =>
      assert(r.getSeq[org.apache.spark.sql.Row](0).isEmpty))
  }

  test("skipgramCounts unchanged by the sliced-zip pair builder (HOF replica)") {
    val r = rng
    val words = Vector("alpha", "beta", "gamma", "delta", "eps")
    val docs = ((0L until 60L).map { i =>
      val n = r.nextInt(10)
      (i, (0 until n).map(_ => words(r.nextInt(words.size))).mkString(" "))
    } ++ Seq((90L, ""), (91L, "solo"), (92L, "two toks"))).toDF("doc_id", "text")
    // k large enough to return EVERY pair — the comparison is the
    // whole counted multiset, not just the top block
    val got = TextAnalysis.skipgramCounts(docs, "text", window = 2, k = 100000)
      .collect().map(x => (x.getString(0), x.getString(1), x.getLong(2)))
      .sortBy(p => (p._1, p._2)).toSeq
    // pre-r13 HOF pipeline, end to end
    val toks = filter(split(col("text"), " "), t => t =!= "")
    val offsets = ((-2 to 2).filter(_ != 0)).map(o => lit(o))
    val pairs = docs.select(toks.as("_t"))
      .filter(size(col("_t")) >= 2)
      .select(explode(flatten(transform(
        sequence(lit(1), size(col("_t"))),
        i => filter(
          transform(array(offsets: _*), o =>
            when(i + o >= 1 && i + o <= size(col("_t")),
              struct(element_at(col("_t"), i).as("center"),
                element_at(col("_t"), i + o).as("context")))),
          s => s.isNotNull)))).as("p"))
      .select(col("p.center").as("center"), col("p.context").as("context"))
    val old = pairs.groupBy("center", "context").agg(count(lit(1)).as("cnt"))
      .collect().map(x => (x.getString(0), x.getString(1), x.getLong(2)))
      .sortBy(p => (p._1, p._2)).toSeq
    assert(got == old)
    assert(got.nonEmpty)
  }

  // --- pqCodebook deferred quantize ----------------------------------

  test("pqCodebook unchanged by quantize-after-limit (pre-r13 replica)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val got = Similarity.pqCodebook(emb, "vec_id", "embedding",
      subspaces = 8, ksub = 16, dim = 64)
    val oldSel = emb
      .select(col("vec_id").as("_id"),
        Similarity.int8Quantize(col("embedding")).getField("q").as("_q"))
      .orderBy(md5(col("_id").cast("string").cast("binary")), col("_id"))
      .limit(16)
      .orderBy(col("_id"))
      .select(col("_q")).collect()
      .map(_.getSeq[Long](0).toIndexedSeq)
    val old = (0 until 8).map(m =>
      oldSel.toIndexedSeq.map(q => q.slice(m * 8, (m + 1) * 8)))
    assert(got == old)
  }

  // --- native Int8Quantize vs the 3-pass HOF composition --------------

  test("Int8Quantize: bit-identical to the HOF struct on every pinned edge (float + double)") {
    val r = rng
    def check(df: org.apache.spark.sql.DataFrame): Unit = {
      val rows = df.select(col("id"),
          Similarity.int8Quantize(col("v")).as("nw"),
          graft.HofReference.int8QuantizeHof(col("v")).as("od"))
        .collect()
      assert(rows.nonEmpty)
      rows.foreach { row =>
        val nw = row.getStruct(1); val od = row.getStruct(2)
        // maxabs: null-equal or bit-equal double
        assert(nw.isNullAt(0) == od.isNullAt(0), s"id=${row.getLong(0)} maxabs nullity")
        if (!nw.isNullAt(0))
          assert(java.lang.Double.doubleToLongBits(nw.getDouble(0)) ==
            java.lang.Double.doubleToLongBits(od.getDouble(0)),
            s"id=${row.getLong(0)} maxabs")
        // q: null-equal or element-equal
        assert(nw.isNullAt(1) == od.isNullAt(1), s"id=${row.getLong(0)} q nullity")
        if (!nw.isNullAt(1))
          assert(nw.getSeq[Long](1) == od.getSeq[Long](1),
            s"id=${row.getLong(0)} q")
      }
    }
    // float vectors: random, zero, tiny, NaN, ±Inf, null elements,
    // all-null, empty, null row
    val fRows: Seq[(Long, Array[java.lang.Float])] =
      (0L until 40L).map { i =>
        (i, Array.fill[java.lang.Float](6)(
          java.lang.Float.valueOf(r.nextFloat() * 2 - 1)))
      } ++ Seq(
        (90L, Array[java.lang.Float](0f, 0f, 0f)),
        (91L, Array[java.lang.Float](1e-8f, -1e-8f, 2e-8f)),
        (92L, Array[java.lang.Float](Float.NaN, 1f, -1f)),
        (93L, Array[java.lang.Float](Float.PositiveInfinity, 1f,
          Float.NegativeInfinity)),
        (94L, Array[java.lang.Float](0.5f, null, -0.25f)),
        (95L, Array[java.lang.Float](null, null)),
        (96L, Array[java.lang.Float]()),
        (97L, null: Array[java.lang.Float]))
    check(fRows.toDF("id", "v"))
    // double vectors: same edge battery
    val dRows: Seq[(Long, Array[java.lang.Double])] =
      (0L until 40L).map { i =>
        (i, Array.fill[java.lang.Double](6)(
          java.lang.Double.valueOf(r.nextDouble() * 2 - 1)))
      } ++ Seq(
        (90L, Array[java.lang.Double](0.0, 0.0)),
        (91L, Array[java.lang.Double](Double.NaN, 0.75)),
        (92L, Array[java.lang.Double](Double.PositiveInfinity, -0.5)),
        (93L, Array[java.lang.Double](0.5, null, -0.25)),
        (94L, Array[java.lang.Double](null)),
        (95L, Array[java.lang.Double]()),
        (96L, null: Array[java.lang.Double]))
    check(dRows.toDF("id", "v"))
  }

  // --- TokenNgrams as the dedup window builder -------------------------

  test("substring-dedup windows: TokenNgrams == the transform(sequence) builder, positions included") {
    val r = rng
    val words = Vector("aa", "bb", "cc", "dd", "ee", "ff")
    val docs = ((0L until 50L).map { i =>
      val n = r.nextInt(12) // includes docs shorter than l
      (i, (0 until n).map(_ => words(r.nextInt(words.size))).mkString(" "))
    } ++ Seq((90L, ""), (91L, "  padded   spaces  x "), (92L, "one two")))
      .toDF("doc_id", "text")
    val l = 4
    val toks = filter(split(col("text"), " "), t => t =!= "")
    val oldWindows = when(size(toks) < l, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), size(toks) - l),
        i => concat_ws(" ", slice(toks, i + 1, lit(l)))))
    val rows = docs.select(col("doc_id"),
        graft.functions.TokenNgrams.tokenNgrams(col("text"), l).as("nw"),
        oldWindows.as("od"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { row =>
      assert(row.getSeq[String](1) == row.getSeq[String](2),
        s"doc=${row.getLong(0)}")
    }
    // the operator consumes windows ONLY through posexplode — element
    // AND position equality above is the full equivalence; sanity-check
    // the rewrite still fires and keeps one row per doc
    val got = Dedup.substringDedupRewrite(docs, "doc_id", "text", l)
      .select("doc_id", "n_removed")
      .collect().map(x => (x.getLong(0), x.getLong(1)))
    assert(got.length == docs.count())
    assert(got.exists(_._2 > 0)) // something was actually rewritten
  }

  // --- Concurrent.awaitAll -------------------------------------------

  test("Concurrent.awaitAll runs every task and propagates the task's own exception") {
    val hits = new java.util.concurrent.atomic.AtomicInteger(0)
    graft.io.Concurrent.awaitAll(Seq(
      () => { hits.incrementAndGet(); () },
      () => { hits.incrementAndGet(); () },
      () => { hits.incrementAndGet(); () }))
    assert(hits.get == 3)
    val boom = intercept[IllegalStateException] {
      graft.io.Concurrent.awaitAll(Seq(
        () => (),
        () => throw new IllegalStateException("task failure surfaces")))
    }
    assert(boom.getMessage == "task failure surfaces")
  }
}
