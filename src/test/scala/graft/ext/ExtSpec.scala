package graft.ext

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

class ExtSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog again and again"),
    (1L, "the quick brown fox jumps over the lazy cat again and again"), // near-dup of 0
    (2L, "completely different words about spark catalyst optimizer plans"),
    (3L, "the quick brown fox jumps over the lazy dog again and again"), // exact dup of 0
  ).toDF("doc_id", "text")

  test("exact dedup groups") {
    val groups = Dedup.exactDupGroups(docs, "doc_id", "text").collect()
    assert(groups.length == 1)
    assert(groups(0).getSeq[Long](groups(0).fieldIndex("ids")).toSeq == Seq(0L, 3L))
  }

  test("ngram jaccard finds the planted near-dup") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)))  // one word differs
    assert(pairs.contains((0L, 3L)))  // identical
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L))
  }

  test("bm25TopTerms: hand-computed scores, saturation and rank order") {
    val corpus = Seq(
      (0L, "apple apple banana"),
      (1L, "banana cherry"),
      (2L, "cherry cherry cherry durian")).toDF("doc_id", "text")
    // N=3, T=9; df: apple 1, banana 2, cherry 2, durian 1
    // idf_bits: apple/durian = floor(log2(3)) = 1; banana/cherry = 0
    // doc0 apple (tf=2, dl=3): 1e6*44*9*2 // (20*9*2 + 6*9 + 18*3*3)
    //   = 792e6 // 576 = 1_375_000
    // doc2 durian (tf=1, dl=4): 396e6 // (180 + 54 + 216) = 880_000
    val rows = TextAnalysis.bm25TopTerms(corpus, "doc_id", "text", k = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getString(2), r.getLong(5)))
      .toMap
    assert(rows((0L, 1L)) == ("apple", 1375000L))
    assert(rows((2L, 1L)) == ("durian", 880000L))
    // zero-idf terms score 0 and tie-break lexicographically
    assert(rows((1L, 1L)) == ("banana", 0L))
    assert(rows((1L, 2L)) == ("cherry", 0L))
  }

  test("collocations: PMI buckets match a driver-side reference, sign included") {
    // doc1/doc2 pump a's prev-count and b's tok-count; doc3 holds the
    // single (a,b) pair → (a,b) occurs well below chance (negative PMI)
    val corpus = Seq(
      (1L, "a x a x a x a x a x a x a x a y"),
      (2L, "x b y b x b y b x b y b x b y b"),
      (3L, "a b")).toDF("doc_id", "text")
    val got = TextAnalysis.collocations(corpus, "text",
        minCount = 1L, k = 100)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(5)))).toMap
    // reference: exact integer PMI buckets over the same bigram stream
    val pairs = Seq("a x a x a x a x a x a x a x a y",
        "x b y b x b y b x b y b x b y b", "a b")
      .flatMap(t => t.split(" ").toSeq.sliding(2).map(s => (s(0), s(1))))
    val cab = pairs.groupBy(identity).map { case (p, xs) => p -> xs.size.toLong }
    val ca = cab.groupBy(_._1._1).map { case (p, m) => p -> m.values.sum }
    val cb = cab.groupBy(_._1._2).map { case (t, m) => t -> m.values.sum }
    val n = cab.values.sum
    def bits(num: Long, den: Long): Long =
      if (num >= den) 63 - java.lang.Long.numberOfLeadingZeros(num / den)
      else -(63 - java.lang.Long.numberOfLeadingZeros(den / num))
    val expect = cab.map { case ((p, t), c) =>
      (p, t) -> ((c, bits(c * n, ca(p) * cb(t))))
    }
    assert(got == expect)
    assert(got(("a", "b"))._2 < 0) // the planted below-chance pair
  }

  test("robustOutliers: exact median/MAD scaling, odd and even groups") {
    val df = (Seq(1, 2, 3, 4, 5, 6, 7, 8, 100).map(v => ("a", v.toDouble)) ++
      Seq(1, 2, 3, 4).map(v => ("b", v.toDouble))).toDF("g", "price")
    val out = Profile.robustOutliers(df, "g", "price", madK = 3)
      .collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // a: cents median 500 (x2=1000); devs sorted 0,100,100,200,200,
    //    300,300,400,9500 → MAD 200 (x4=800); only 9500 > 3·200
    assert(out("a") == ((9L, 1000L, 800L, 1L)))
    // b: even group — median 250 (x2=500); devs 50,50,150,150 →
    //    MAD interpolates to 100 (x4=400); no dev > 300
    assert(out("b") == ((4L, 500L, 400L, 0L)))
  }

  test("fdViolations: holding key, violated attribute, null lhs skipped") {
    val df = Seq(
      (Some(1), "a", "x"), (Some(1), "a", "x"),  // dup rows collapse
      (Some(2), "b", "x"), (Some(2), "c", "x"),  // 2 → {b,c}: violation
      (None, "d", "x")                            // null lhs ignored
    ).toDF("k", "v", "w")
    val got = Profile.fdViolations(df, Seq(("k", "v"), ("k", "w"), ("v", "w")))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    assert(got(("k", "v")) == ((2L, 1L, false))) // k=2 maps to two vs
    assert(got(("k", "w")) == ((2L, 0L, true)))
    assert(got(("v", "w")) == ((4L, 0L, true)))  // d→x counts: null k row kept
  }

  test("columnStats profiles nulls, exact distincts, min/max per column") {
    val df = Seq((1L, Some("a")), (2L, None), (2L, Some("b")))
      .toDF("k", "v")
    val out = Profile.columnStats(df, Seq("k", "v"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3),
          r.getString(4), r.getString(5)))).toMap
    assert(out("k") == ((3L, 0L, 2L, "1", "2")))
    assert(out("v") == ((3L, 1L, 2L, "a", "b")))
    intercept[IllegalArgumentException] {
      Profile.columnStats(df, Seq("missing"))
    }
  }

  test("unigramSurprisal: integer Zipf buckets, hand-computed") {
    // corpus counts: a=5, b=1, total=6
    val corpus = Seq((1L, "a a a a"), (2L, "a b")).toDF("doc_id", "text")
    val out = TextAnalysis.unigramSurprisal(corpus, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // doc 1: every 'a' has 6 div 5 = 1 -> 0 bits
    assert(out(1L) == ((4L, 0L, 0L)))
    // doc 2: 'b' has 6 div 1 = 6 -> floor(log2 6) = 2 bits; ppm = 1e6
    assert(out(2L) == ((2L, 2L, 1000000L)))
  }

  test("bigramSurprisal: conditional Zipf buckets, hand-computed") {
    // bigram counts: (a,b)=2 from docs 1+2; (b,a)=1; (a,c)=1
    // context counts: a=3, b=1
    val corpus = Seq((1L, "a b a"), (2L, "a b"), (3L, "a c"), (4L, "x"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.bigramSurprisal(corpus, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // doc 1: (a,b): 3 div 2 = 1 -> 0 bits; (b,a): 1 div 1 = 1 -> 0 bits
    assert(out(1L) == ((2L, 0L, 0L)))
    // doc 3: (a,c): 3 div 1 = 3 -> 1 bit; ppm = 1e6
    assert(out(3L) == ((1L, 1L, 1000000L)))
    assert(!out.contains(4L)) // single-token doc emits no row
  }

  test("removeContaminatedSpans drops exactly the matching windows") {
    val corpus = Seq(
      (1L, "aa bb cc dd ee ff"),   // "bb cc dd" contaminated → drop toks 1-3
      (2L, "xx yy zz"),            // clean
      (3L, "bb cc dd bb cc dd"),   // two overlapping hits → all dropped
      (4L, "aa bb")                // shorter than n → untouched
    ).toDF("doc_id", "text")
    val bench = Seq((100L, "bb cc dd qq")).toDF("bench_id", "text")
    val out = Dedup.removeContaminatedSpans(
        corpus, "doc_id", "text", bench, "text", n = 3)
      .select("doc_id", "text_clean", "n_removed")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    // bench shingles: "bb cc dd", "cc dd qq"
    assert(out(1L) == (("aa ee ff", 3L)))
    assert(out(2L) == (("xx yy zz", 0L)))
    assert(out(3L) == (("", 6L)))
    assert(out(4L) == (("aa bb", 0L)))
  }

  test("dedupCorpus keeps the quality argmax per cluster, passes singletons") {
    // cluster {0,1,3}; quality picks doc 1 (highest score); doc 2
    // untouched (never paired)
    val pairs = Seq((0L, 1L), (0L, 3L)).toDF("id_a", "id_b")
    val quality = when($"doc_id" === 1, 100L).otherwise($"doc_id")
    val kept = Dedup.dedupCorpus(docs, "doc_id", pairs, quality)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(1L, 2L))
    // ties on quality fall to the smallest id
    val flat = Dedup.dedupCorpus(docs, "doc_id", pairs, lit(7L))
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(flat == Seq(0L, 2L))
  }

  test("minhash LSH agrees with exact jaccard at high margin") {
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLshPairs(docs, "doc_id", "text", 3, 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == exact)
  }

  test("simhash: near-dups land close in hamming space") {
    val sigs = docs.select($"doc_id", Dedup.simhash64($"text").as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(sigs(0L) == sigs(3L))                    // identical text
    assert(hamming(sigs(0L), sigs(1L)) < hamming(sigs(0L), sigs(2L)))
  }

  test("LSH ANN recall vs brute force") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter($"vec_id" < 3)
    val exact = Similarity.bruteForceTopK(queries, "vec_id", "embedding",
        emb, "vec_id", "embedding", 5)
      .select("query_id", "neighbour_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // 4 bits → 16 buckets over ~150 vectors: recall won't be total, but
    // buckets must produce non-empty, exact-scored, correctly-ranked hits
    val approx = Similarity.lshTopK(queries, "vec_id", "embedding",
        emb, "vec_id", "embedding", 5, bits = 4)
      .collect()
    assert(approx.nonEmpty)
    val recall = approx.map(r => (r.getAs[Long]("query_id"),
      r.getAs[Long]("neighbour_id"))).count(exact.contains).toDouble / exact.size
    assert(recall >= 0.2, s"recall=$recall")
  }

  test("int8 IVF ANN: deterministic quantizer keeps recall and repeats exactly") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter($"vec_id" < 3)
    val exact = Similarity.bruteForceTopK(queries, "vec_id", "embedding",
        emb, "vec_id", "embedding", 5)
      .select("query_id", "neighbour_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopKInt8(queries, "vec_id", "embedding",
        emb, "vec_id", "embedding", k = 5, nCentroids = 8, nProbe = 4)
      .collect()
    assert(ivf.nonEmpty)
    val recall = ivf.map(r => (r.getAs[Long]("query_id"),
      r.getAs[Long]("neighbour_id"))).count(exact.contains).toDouble / exact.size
    assert(recall >= 0.4, s"recall=$recall")
    val ivf2 = Similarity.ivfTopKInt8(queries, "vec_id", "embedding",
        emb, "vec_id", "embedding", k = 5, nCentroids = 8, nProbe = 4)
      .collect()
    assert(ivf.map(_.toString).toSeq == ivf2.map(_.toString).toSeq)
  }

  test("bucketed embedding near-dups: candidates are a verified subset of exact") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val exact = Dedup.embeddingNearDupsExact(emb, "vec_id", "embedding", 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val banded = Dedup.embeddingNearDups(emb, "vec_id", "embedding", 0.4,
        bands = 8, bitsPerBand = 4, dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // every banded pair is a true pair with the IDENTICAL cosine (bit-equal:
    // exact verify runs the same codegen'd dot product)
    banded.foreach { case (pair, cos) => assert(exact(pair) == cos) }
    assert(banded.nonEmpty)
    // no BroadcastNestedLoopJoin anywhere in the bucketed plan
    val plan = Dedup.embeddingNearDups(emb, "vec_id", "embedding", 0.4)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
  }

  test("semanticDupPairsInt8: integer scores match driver recomputation") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    // scale-invariance of the quantizer: v and 3v share the sketch AND
    // the quantized vector, so a scaled clone is always a perfect pair
    val clone = emb.filter($"vec_id" === 1)
      .select(($"vec_id" + 100000).as("vec_id"),
        transform($"embedding", x => x * 3.0f).as("embedding"))
    val zero = emb.sparkSession.sql(
      "SELECT CAST(200000 AS BIGINT) AS vec_id, " +
        "CAST(array_repeat(CAST(0.0 AS FLOAT), 64) AS ARRAY<FLOAT>) AS embedding")
    val in = emb.select($"vec_id", $"embedding").unionByName(clone).unionByName(zero)
    val got = Dedup.semanticDupPairsInt8(in, "vec_id", "embedding",
        cos2Num = 1, cos2Den = 4).collect()
    assert(got.nonEmpty)
    def quant(v: Seq[Float]): Array[Long] = {
      val m = v.map(x => math.abs(x.toDouble)).max
      if (m == 0.0) Array.fill(v.size)(0L)
      else {
        val scale = 127.0 / m
        v.map(x => math.max(-127L, math.min(127L,
          math.floor(x.toDouble * scale + 0.5).toLong))).toArray
      }
    }
    val vecs = in.collect()
      .map(r => r.getLong(0) -> quant(r.getSeq[Float](1))).toMap
    got.foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      val (qa, qb) = (vecs(a), vecs(b))
      val dotq = qa.zip(qb).map { case (x, y) => x * y }.sum
      val na = qa.map(x => x * x).sum
      val nb = qb.map(x => x * x).sum
      assert((r.getLong(2), r.getLong(3), r.getLong(4)) == ((dotq, na, nb)))
      assert(dotq > 0 && 4 * dotq * dotq >= na * nb)
    }
    // the scaled clone pairs with its original; the zero vector never pairs
    assert(got.exists(r => r.getLong(0) == 1L && r.getLong(1) == 100001L))
    assert(!got.exists(r => r.getLong(0) == 200000L || r.getLong(1) == 200000L))
  }

  test("dot product: codegen'd native == HOF form; null on length mismatch") {
    val df = Seq(
      (Array(1.0f, 2.0f, 3.0f), Array(2.0, 0.5, -1.0)),
    ).toDF("a", "b")
    val r = df.select(
      graft.functions.VectorExpressions.dot_product($"a", $"b").as("native"),
      aggregate(zip_with($"a", $"b", (x, y) => x.cast("double") * y),
        lit(0.0), (acc, v) => acc + v).as("hof"))
      .first()
    assert(r.getDouble(0) == r.getDouble(1))
    // mismatched lengths → NULL, not a truncated partial sum
    val mism = Seq((Array(1.0f, 2.0f), Array(1.0, 2.0, 3.0)))
      .toDF("a", "b")
      .select(graft.functions.VectorExpressions.dot_product($"a", $"b").as("d"))
      .first()
    assert(mism.isNullAt(0))
    // long sibling: exact-integer == HOF form across random int8 vectors
    val rnd = new scala.util.Random(7)
    val li = (1 to 50).map { _ =>
      (Array.fill(16)(rnd.nextInt(255) - 127L),
        Array.fill(16)(rnd.nextInt(255) - 127L))
    }.toDF("a", "b")
    val both = li.select(
      graft.functions.VectorExpressions.dot_long($"a", $"b").as("native"),
      aggregate(zip_with($"a", $"b", (x, y) => x * y),
        lit(0L), (acc, v) => acc + v).as("hof")).collect()
    both.foreach(r => assert(r.getLong(0) == r.getLong(1)))
    val lmism = Seq((Array(1L, 2L), Array(1L, 2L, 3L))).toDF("a", "b")
      .select(graft.functions.VectorExpressions.dot_long($"a", $"b").as("d"))
      .first()
    assert(lmism.isNullAt(0))
  }

  test("connected components: multi-hop chains converge to min label") {
    // path 1-2-3-4-5 (diameter 4 → several propagation rounds),
    // separate pair 10-11, singleton edge 20-21
    val pairs = Seq((2L, 1L), (2L, 3L), (4L, 3L), (4L, 5L),
      (11L, 10L), (20L, 21L)).toDF("id_a", "id_b")
    val comp = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 5L).forall(comp(_) == 1L))
    assert(comp(10L) == 10L && comp(11L) == 10L)
    assert(comp(20L) == 20L && comp(21L) == 20L)
    // 60-node path: pointer jumping must converge in O(log d) rounds
    // (plain propagation would need 59 — past sanity for a tiny graph)
    val chain = (100L until 159L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val chainComp = Dedup.connectedComponents(chain)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((100L to 159L).forall(chainComp(_) == 100L))
  }

  test("connected components == driver-side union-find on random graphs") {
    // fixed-seed randomized graphs (a ScalaCheck property at default
    // 100 cases costs minutes of driver loops — 10 seeded graphs give
    // the same shape coverage at suite-friendly cost)
    val rnd = new scala.util.Random(42)
    (1 to 10).foreach { _ =>
      val edges = Seq.fill(12)((rnd.nextLong(20), rnd.nextLong(20)))
        .filter { case (a, b) => a != b }
      val got = Dedup.connectedComponents(edges.toDF("id_a", "id_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      assert(nodes.forall(n => got(n) == find(n)), s"edges=$edges")
    }
  }

  test("resolveDuplicates keeps the longest variant, smallest id on ties") {
    val corpus = Seq(
      (0L, "short text"),
      (1L, "short text padded with more words"), // longest in cluster {0,1,3}
      (3L, "short text"),
      (7L, "solo other")).toDF("doc_id", "text")
    val pairs = Seq((0L, 1L), (1L, 3L)).toDF("id_a", "id_b")
    val r = Dedup.resolveDuplicates(corpus, "doc_id", "text", pairs).collect()
    assert(r.length == 1)
    assert(r(0).getAs[Long]("cluster") == 0L)
    assert(r(0).getAs[Long]("n_docs") == 3L)
    assert(r(0).getAs[String]("ids") == "0,1,3")
    assert(r(0).getAs[Long]("keep_id") == 1L)
    // tie on length → smallest id wins
    val tied = Dedup.resolveDuplicates(
      corpus.withColumn("text", lit("same length")), "doc_id", "text", pairs)
      .collect()
    assert(tied(0).getAs[Long]("keep_id") == 0L)
  }

  test("deterministic sampling: reproducible, stratified, split-stable") {
    val corpus = spark.range(0, 1000)
      .select($"id".as("doc_id"),
        when($"id" % 2 === 0, "en").otherwise("de").as("lang"))
    val rates = Map("en" -> 0.5, "de" -> 0.125)
    val s1 = Sampling.stratifiedSample(corpus, "lang", "doc_id", rates, "t")
    val s2 = Sampling.stratifiedSample(corpus, "lang", "doc_id", rates, "t")
    // deterministic: identical sets across runs
    assert(s1.collect().map(_.getLong(0)).toSet ==
      s2.collect().map(_.getLong(0)).toSet)
    // rates land near nominal per stratum (8-bit quantized hash)
    val byLang = s1.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byLang("en") > 200 && byLang("en") < 300)   // ~250
    assert(byLang("de") > 30 && byLang("de") < 95)     // ~62
    // a different salt draws a different sample
    val s3 = Sampling.stratifiedSample(corpus, "lang", "doc_id", rates, "u")
    assert(s3.collect().map(_.getLong(0)).toSet !=
      s1.collect().map(_.getLong(0)).toSet)
    // split: partitions the input, stable under corpus growth
    val split = Sampling.hashSplit(corpus, "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), "t")
    assert(split.count() == 1000)
    val nTrain = split.filter($"split" === "train").count()
    assert(nTrain > 700 && nTrain < 880)
    val small = Sampling.hashSplit(corpus.filter($"doc_id" < 100), "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), "t")
    val fullMap = split.collect().map(r =>
      r.getLong(0) -> r.getAs[String]("split")).toMap
    assert(small.collect().forall(r =>
      fullMap(r.getLong(0)) == r.getAs[String]("split")))
  }

  test("weightedSample: ticket-prefix monotonicity, exact driver replay") {
    val rows = (1 to 200).map(i => (i.toLong, (i % 23) + 1))
    val df = rows.toDF("k", "w")
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def prio(k: Long, w: Int): String =
      (0 until math.max(1, math.min(16, w))).map(j => md5hex(s"s:$k:$j")).min
    // exact replay: top-25 by (min ticket, key) matches the driver
    val expect = rows.map { case (k, w) => (k, prio(k, w)) }
      .sortBy { case (k, p) => (p, k) }.take(25)
    Seq(1, 13).foreach { parts =>
      val got = Sampling.weightedSample(df.repartition(parts), "k",
          col("w"), n = 25, salt = "s:", maxWeight = 16)
        .select($"k", $"priority").collect().map(r => (r.getLong(0), r.getString(1)))
      assert(got.toSeq == expect, s"parts=$parts")
    }
    // prefix property: raising every weight can only lower priorities
    val p1 = Sampling.weightedSample(df, "k", lit(1), n = 200, salt = "s:")
      .select($"k", $"priority").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val p9 = Sampling.weightedSample(df, "k", lit(9), n = 200, salt = "s:")
      .select($"k", $"priority").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    p9.foreach { case (k, p) => assert(p <= p1(k)) }
    // clamping: weight 0 / negative behave as 1; huge weights as maxWeight
    val pc = Sampling.weightedSample(df, "k", lit(-5), n = 200, salt = "s:")
      .select($"k", $"sample_weight", $"priority").collect()
    pc.foreach { r =>
      assert(r.getLong(1) == 1L && r.getString(2) == p1(r.getLong(0)))
    }
    val pm = Sampling.weightedSample(df, "k", lit(10000), n = 5, salt = "s:",
        maxWeight = 4).select($"sample_weight").collect()
    pm.foreach(r => assert(r.getLong(0) == 4L))
  }

  test("context packing: bins advance with the running token offset") {
    val rows = Seq((1L, 60L), (2L, 60L), (3L, 60L), (4L, 10L), (5L, 200L))
      .toDF("doc_id", "tok")
    val packed = Packing.packByBudget(rows.withColumn("g", lit("a")),
        Seq("g"), "doc_id", col("tok"), budget = 100L)
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("bin"), r.getAs[Long]("bin_offset"))).toMap
    // starts: 0, 60, 120, 180, 190 → bins 0,0,1,1,1
    assert(packed(1L) == (0L, 0L))
    assert(packed(2L) == (0L, 60L))
    assert(packed(3L) == (1L, 20L))
    assert(packed(4L) == (1L, 80L))
    assert(packed(5L) == (1L, 90L))
    // sharded grouping: same totals, bounded windows
    val sharded = Packing.packByBudget(
      rows.withColumn("g", pmod(xxhash64($"doc_id"), lit(2))),
      Seq("g"), "doc_id", col("tok"), budget = 100L)
    assert(sharded.agg(sum("n_tokens")).head().getLong(0) == 390L)
  }

  test("balanced shards: serpentine deal matches a local replay") {
    val items = Seq(10L, 9L, 9L, 7L, 5L, 5L, 4L, 2L, 1L, 1L, 1L)
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val df = items.toDF("doc_id", "tok").repartition(5)
    val got = Packing.balancedShards(df, "doc_id", col("tok"), nShards = 3)
      .select($"doc_id", $"shard").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // local serpentine over (−tok, id)-sorted items
    val want = items.sortBy { case (id, t) => (-t, id) }.zipWithIndex.map {
      case ((id, _), rn) =>
        val (pass, pos) = (rn / 3, rn % 3)
        id -> (if (pass % 2 == 0) pos.toLong else (2 - pos).toLong)
    }.toMap
    assert(got == want)
  }

  test("balanced shards: max−min load ≤ largest item; degenerate shapes") {
    (1 to 5).foreach { seed =>
      val items = (0 until 200).map(i =>
        (i.toLong, ((i * 2654435761L + seed * 97L) % 500 + 1)))
      val df = items.toDF("doc_id", "tok").repartition(7)
      val loads = Packing.balancedShards(df, "doc_id", col("tok"), nShards = 8)
        .groupBy("shard").agg(sum("n_tokens").as("l"))
        .collect().map(_.getLong(1))
      assert(loads.length == 8)
      assert(loads.max - loads.min <= items.map(_._2).max,
        s"seed $seed: spread ${loads.max - loads.min}")
    }
    // one shard → everything shard 0; null/negative tokens clamp to 0
    val weird = Seq((1L, Some(5L)), (2L, None), (3L, Some(-4L)))
      .toDF("doc_id", "tok")
    val one = Packing.balancedShards(weird, "doc_id", col("tok"), nShards = 1)
      .select($"shard", $"n_tokens").collect()
    assert(one.forall(_.getLong(0) == 0L))
    assert(one.map(_.getLong(1)).sorted.toSeq == Seq(0L, 0L, 5L))
  }

  test("corpus overlap matrix: identical, half-shared, disjoint corpora") {
    // 40 sentences of distinct vocab; corpus A = all, B = first half,
    // C = disjoint vocabulary entirely
    def sent(tag: String, i: Int) =
      (0 until 6).map(j => s"$tag${i}w$j").mkString(" ")
    val rows =
      (0 until 40).map(i => ("A", sent("s", i))) ++
        (0 until 20).map(i => ("B", sent("s", i))) ++
        (0 until 40).map(i => ("C", sent("zq", i)))
    val df = rows.toDF("src", "text").repartition(5)
    val m = Dedup.corpusOverlapMatrix(df, "src", "text", n = 3, k = 128)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getAs[Long]("n_match"), r.getAs[Long]("jaccard_est_ppm"),
          r.getAs[Long]("cont_a_ppm"), r.getAs[Long]("cont_b_ppm")))).toMap
    assert(m.keySet == Set(("A", "B"), ("A", "C"), ("B", "C")))
    // B ⊂ A with |B|/|A| = 1/2 → true Jaccard 0.5; k=128 s.e. ≈ 4.4 pp
    val est = m(("A", "B"))._2 / 1e6
    assert(est > 0.3 && est < 0.7, s"A∩B estimate $est")
    // containment: B fully inside A → cont_b ≈ 1, cont_a ≈ 0.5
    assert(m(("A", "B"))._4 > 800000L, s"cont(B in A) ${m(("A", "B"))._4}")
    assert(m(("A", "B"))._3 > 300000L && m(("A", "B"))._3 < 700000L)
    // disjoint vocabularies: no shared shingle, mins coincide only by
    // 48-bit hash accident
    assert(m(("A", "C"))._1 <= 2 && m(("B", "C"))._1 <= 2)
    // identical corpora agree on every slot
    val dup = df.filter($"src" === "A").union(
      df.filter($"src" === "A").withColumn("src", lit("D")))
    val full = Dedup.corpusOverlapMatrix(dup, "src", "text", n = 3, k = 128)
      .collect().head
    assert(full.getAs[Long]("n_match") == 128L &&
      full.getAs[Long]("jaccard_est_ppm") == 1000000L &&
      full.getAs[Long]("cont_a_ppm") == 1000000L &&
      full.getAs[Long]("cont_b_ppm") == 1000000L)
  }

  test("ngram diversity: hand-counted bigrams, templated group flagged") {
    val df = Seq(
      ("tpl", "buy now buy now buy now"),     // bigrams: 5 total, 2 distinct
      ("tpl", "buy now buy now"),             // 3 more, same 2
      ("div", "alpha beta gamma delta"),      // 3 total, 3 distinct
      ("one", "solo"),                        // 1 token → no bigram
      ("nul", null)                           // NULL → no row
    ).toDF("src", "text")
    val got = TextAnalysis.ngramDiversity(df, "src", "text", n = 2)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got.keySet == Set("tpl", "div"))
    assert(got("tpl") == ((8L, 2L, 250000L)))
    assert(got("div") == ((3L, 3L, 1000000L)))
  }

  test("packing efficiency: bins, straddlers and overflow fill from the x20 fixture") {
    val rows = Seq((1L, 60L), (2L, 60L), (3L, 60L), (4L, 10L), (5L, 200L))
      .toDF("doc_id", "tok").withColumn("g", lit("a"))
    val packed = Packing.packByBudget(rows, Seq("g"), "doc_id",
      col("tok"), budget = 100L)
    val r = Packing.packingEfficiency(packed, Seq("g"), budget = 100L)
      .collect().head
    // starts 0,60,120,180,190 → bins 0,0,1,1,1 → 2 bins, capacity 200
    assert(r.getAs[Long]("n_bins") == 2L)
    assert(r.getAs[Long]("n_docs") == 5L)
    assert(r.getAs[Long]("total_tokens") == 390L)
    assert(r.getAs[Long]("capacity") == 200L)
    // docs 2 (60+60>100) and 5 (90+200>100) cross a bin boundary
    assert(r.getAs[Long]("n_straddlers") == 2L)
    // the tail doc overruns the last boundary → fill > 10⁶, documented
    assert(r.getAs[Long]("fill_ppm") == 1950000L)
  }

  test("corpus signatures: slice merge == from-scratch, one-slice groups survive") {
    def sent(tag: String, i: Int) =
      (0 until 6).map(j => s"$tag${i}w$j").mkString(" ")
    val rows = (0 until 30).map(i => (s"g${i % 3}", sent("s", i))) ++
      (0 until 10).map(i => ("gNew", sent("n", i)))
    val df = rows.toDF("src", "text").repartition(5)
    val full = Dedup.corpusSignatures(df, "src", "text", n = 3, k = 64)
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    // slice so gNew lives ONLY in the second slice
    val s1 = Dedup.corpusSignatures(
      df.filter($"src" =!= "gNew"), "src", "text", n = 3, k = 64)
    val s2 = Dedup.corpusSignatures(
      df.filter($"src" === "gNew" || $"src" === "g0"), "src", "text",
      n = 3, k = 64)
    val merged = Dedup.mergeCorpusSignatures(s1.unionByName(s2), k = 64)
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    // g0 appears in BOTH slices (min of mins), gNew in one — all must
    // equal the from-scratch signature exactly
    assert(merged == full)
    // and the refreshed matrix equals the matrix over full signatures
    val viaMerge = Dedup.overlapFromSignatures(
        Dedup.mergeCorpusSignatures(s1.unionByName(s2), k = 64), k = 64)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val viaFull = Dedup.overlapFromSignatures(
        Dedup.corpusSignatures(df, "src", "text", n = 3, k = 64), k = 64)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(viaMerge == viaFull)
    // a k mismatch fails loudly instead of silently skipping slots
    val ex = intercept[Exception] {
      Dedup.mergeCorpusSignatures(s1.unionByName(s2), k = 128).collect()
    }
    assert(ex.getMessage.contains("signature length") ||
      Option(ex.getCause).exists(_.getMessage.contains("signature length")))
  }

  test("containmentFromSignatures: maintained store == from-scratch matrix") {
    def sent(tag: String, i: Int) =
      (0 until 6).map(j => s"$tag${i}w$j").mkString(" ")
    // g0/g1 share half their sentences → nonzero containments
    val rows = (0 until 20).map(i => (s"g${i % 2}", sent("s", i))) ++
      (0 until 10).map(i => ("g0", sent("x", i))) ++
      (0 until 10).map(i => ("g2", sent("s", i))) // g2 ⊂ g0∪g1's texts
    val df = rows.toDF("src", "text").repartition(5)
    val slices = Seq($"src" =!= "g2", $"src" === "g2" || $"src" === "g0")
      .map(p => df.filter(p))
    val sigs = Dedup.mergeCorpusSignatures(
      slices.map(Dedup.corpusSignatures(_, "src", "text", n = 3, k = 64))
        .reduce(_ unionByName _), k = 64)
    val store = Dedup.mergeDistinctShingleStores(
      slices.map(Dedup.distinctShingleStore(_, "src", "text", n = 3)))
    def key(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6), r.getLong(7))).toMap
    val fromStore = key(Dedup.containmentFromSignatures(sigs, store, k = 64))
    val fromText = key(Dedup.corpusOverlapMatrix(df, "src", "text",
      n = 3, k = 64))
    assert(fromStore == fromText && fromStore.nonEmpty)
    // the overlapping slice (g0 in both) cannot double-count: store
    // sizes are exact distinct counts
    val n0 = store.filter($"grp" === "g0").count()
    assert(fromText.keys.exists(_._1 == "g0"))
    assert(fromStore.collectFirst {
      case ((a, _), v) if a == "g0" => v._2 }.get == n0)
  }

  test("containmentFromSignatures: a signed group missing from the store drifts loudly") {
    def sent(i: Int) = (0 until 6).map(j => s"d${i}w$j").mkString(" ")
    val df = (0 until 12).map(i => (s"g${i % 3}", sent(i)))
      .toDF("src", "text")
    val sigs = Dedup.corpusSignatures(df, "src", "text", n = 3, k = 64)
    // the store was maintained from a slice that never saw g1 — state
    // drift between the two lockstep indexes must FAIL, not silently
    // drop g1's rows from the matrix
    val store = Dedup.distinctShingleStore(
      df.filter($"src" =!= "g1"), "src", "text", n = 3)
    val e = intercept[Exception] {
      Dedup.containmentFromSignatures(sigs, store, k = 64).collect()
    }
    def drifted(t: Throwable): Boolean = t != null &&
      (Option(t.getMessage).exists(_.contains("drifted")) ||
        drifted(t.getCause))
    assert(drifted(e))
  }

  test("dedup threshold sweep: hand counts, zero rows kept, floor guard") {
    val pairs = Seq(
      (1L, 2L, 0.95), (1L, 3L, 0.80), (2L, 3L, 0.62), (4L, 5L, 0.55))
      .toDF("id_a", "id_b", "jaccard")
    val got = Dedup.dedupThresholdSweep(pairs,
        Seq(0.5, 0.7, 0.9, 0.99), floor = 0.5)
      .collect().map(r => r.getDouble(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(got(0.5) == ((4L, 5L)))  // all pairs, docs {1,2,3,4,5}
    assert(got(0.7) == ((2L, 3L)))  // (1,2) (1,3) → docs {1,2,3}
    assert(got(0.9) == ((1L, 2L)))  // (1,2)
    assert(got(0.99) == ((0L, 0L))) // nothing survives — row kept
    intercept[IllegalArgumentException] {
      Dedup.dedupThresholdSweep(pairs, Seq(0.4, 0.6), floor = 0.5)
    }
  }

  test("corpus overlap matrix: null-text-only groups appear in no pair") {
    val df = Seq(("A", Some("one two three four")), ("B", None),
      ("C", Some("one two three five"))).toDF("src", "text")
    // B has only NULL text → no shingle rows (a SHORT text still
    // shingles: WordShingles emits the truncated tokens[0, len) gram)
    val pairs = Dedup.corpusOverlapMatrix(df, "src", "text", n = 3, k = 16)
      .select("grp_a", "grp_b").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(pairs == Set(("A", "C")))
  }

  test("text analysis shapes") {
    val r = docs.select(
      TextAnalysis.tokenCount($"text").as("n"),
      TextAnalysis.fingerprint($"text").as("fp"),
      TextAnalysis.langId($"text",
        Seq("en" -> Seq("the"), "xx" -> Seq("zzz"))).as("lang"))
      .collect()
    assert(r(0).getAs[Int]("n") == 12)
    assert(r(0).getAs[String]("fp").length == 32)
    assert(r(0).getAs[String]("lang") == "en")
    assert(r(2).getAs[String]("lang") == "en") // tie (0 = 0) → first wins
  }

  test("decontamination flags benchmark overlap, excludes self-matches") {
    val bench = docs.filter($"doc_id" === 0L)
    val hits = Dedup.contamination(docs, "doc_id", "text",
        bench, "doc_id", "text", n = 3, minShared = 5L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // docs 1 (near-dup) and 3 (exact dup) overlap doc 0; 0 itself excluded
    assert(hits == Set((1L, 0L), (3L, 0L)))
    // the benchmark side must broadcast (eval suites are tiny)
    val plan = Dedup.contamination(docs, "doc_id", "text",
      bench, "doc_id", "text", 3, 5L).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("countOfCounts: spectrum and Turing numerator, missing N_{r+1} is 0") {
    val corpus = Seq((1L, "a a b"), (2L, "b c")).toDF("doc_id", "text")
    // counts: a→2, b→2, c→1 ⇒ N_1=1, N_2=2
    val got = TextAnalysis.countOfCounts(corpus, "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map(1L -> ((1L, 4L)), 2L -> ((2L, 0L))))
  }

  test("hardNegatives: same-label twin excluded, nearest other-label wins") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f), 0),   // query
      (1L, Array(0.99f, 0.1f), 0),  // same-label twin — closest overall, excluded
      (2L, Array(0.9f, 0.3f), 1),   // hardest negative
      (3L, Array(0.0f, 1.0f), 1),   // easy negative
      (4L, Array(-1.0f, 0.0f), 2)   // opposite
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.hardNegatives(
        emb.filter($"vec_id" === 0L), "vec_id", "embedding", "label",
        emb, "vec_id", "embedding", "label", k = 2)
      .select($"neighbour_id", $"neg_label", $"rank")
      .orderBy($"rank")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    assert(got.toSeq == Seq((2L, 1, 1), (3L, 1, 2)))
  }

  test("containmentPairs: directed asymmetry — the quote hits, the page does not") {
    val corpus = Seq(
      (1L, "q w e r t"),                 // 3 shingles, all inside doc 2
      (2L, "q w e r t y u"),             // 5 shingles, superset of doc 1's
      (3L, "completely unrelated words here now")
    ).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(corpus, "doc_id", "text",
        n = 3, threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // C(1→2) = 3/3; C(2→1) = 3/5 misses the threshold; 3 pairs with nobody
    assert(got == Map((1L, 2L) -> 1.0))
    // at θ=0.5 the reverse direction appears with its exact value
    val loose = Dedup.containmentPairs(corpus, "doc_id", "text", 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(loose == Map((1L, 2L) -> 1.0, (2L, 1L) -> 0.6))
  }

  test("pruneBoilerplate: hot chunks removed at every position, cold docs untouched") {
    val corpus = Seq(
      (0L, "aa bb cc dd"),  // "aa bb" hot (df 3) at chunk 0
      (1L, "aa bb xx yy"),
      (2L, "aa bb zz"),     // tail chunk "zz" also hot (df 3)
      (3L, "pp qq rr"),     // no hot chunk — text must be untouched
      (4L, "zz"),
      (5L, "zz")
    ).toDF("doc_id", "text")
    val got = Dedup.pruneBoilerplate(corpus, "doc_id", "text",
        window = 2, minDocs = 3L)
      .select($"doc_id", $"text_clean", $"n_removed", $"n_chunks_removed")
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(0L) == (("cc dd", 2L, 1L)))
    assert(got(1L) == (("xx yy", 2L, 1L)))
    // both of doc 2's chunks are hot — fully emptied, 3 tokens dropped
    assert(got(2L) == (("", 3L, 2L)))
    assert(got(3L) == (("pp qq rr", 0L, 0L)))
    assert(got(4L) == (("", 1L, 1L)) && got(5L) == (("", 1L, 1L)))
  }

  test("repetition signals: ratio and top token") {
    val r = Seq((1L, "a a a b"), (2L, "w x y z"))
      .toDF("doc_id", "text")
      .select($"doc_id", TextAnalysis.repetitionRatio($"text").as("rr"),
        TextAnalysis.topToken($"text").getField("token").as("tok"),
        TextAnalysis.topToken($"text").getField("count").as("n"))
      .collect().map(x => x.getLong(0) ->
        (x.getDouble(1), x.getString(2), x.getInt(3))).toMap
    assert(r(1L) == (0.5, "a", 3))
    assert(r(2L) == (0.0, "w", 1))  // all distinct → tie → smallest token
  }

  test("token chunking: overlap, stride, short tail") {
    val chunks = Seq((1L, "t0 t1 t2 t3 t4")).toDF("doc_id", "text")
      .select(posexplode(TextAnalysis.chunkTokens($"text", window = 3,
        stride = 2)).as(Seq("i", "chunk")))
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(chunks == Map(0 -> "t0 t1 t2", 1 -> "t2 t3 t4", 2 -> "t4"))
  }

  test("embedding centroids: exact per-dimension means") {
    val df = Seq(("a", Seq(1.0, 3.0)), ("a", Seq(2.0, 5.0)),
      ("b", Seq(10.0, 20.0))).toDF("g", "v")
    val c = Similarity.centroids(df, "g", "v")
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(c == Map(("a", 0) -> 1.5, ("a", 1) -> 4.0,
      ("b", 0) -> 10.0, ("b", 1) -> 20.0))
  }

  test("term relevance: rare terms outrank corpus-wide ones") {
    val top = TextAnalysis.topTermsByRarity(docs, "doc_id", "text", k = 2)
      .filter($"doc_id" === 2L).orderBy($"rank").collect()
    // doc 2's vocabulary is unique to it → its top terms have df = 1
    assert(top.length == 2)
    assert(top.forall(_.getAs[Long]("term_df") == 1L))
    assert(top.forall(_.getAs[Double]("score") == 4.0)) // tf=1 · N=4 / df=1
    // ties broken alphabetically
    assert(top(0).getAs[String]("term") < top(1).getAs[String]("term"))
  }

  test("int8 quantization: range, round trip, zero vector") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Array(0.5f, -1.0f, 0.25f, 0.999f)),
      (2L, Array(0.0f, 0.0f, 0.0f, 0.0f)), // zero vector → zeros
      (3L, Array(1e-8f, -1e-8f, 2e-8f, -2e-8f))
    ).toDF("id", "v")
    val qz = graft.ext.Similarity.int8Quantize($"v")
    val rows = vecs.select($"id", qz.getField("maxabs").as("m"),
      qz.getField("q").as("q")).collect().sortBy(_.getLong(0))
    val q1 = rows(0).getSeq[Long](2)
    assert(q1 == Seq(64L, -127L, 32L, 127L))
    assert(rows(1).getSeq[Long](2) == Seq(0L, 0L, 0L, 0L))
    // reconstruction error ≤ half a quantization step everywhere
    rows.filter(_.getDouble(1) > 0).foreach { r =>
      val m = r.getDouble(1)
      val v = vecs.filter($"id" === r.getLong(0)).head().getSeq[Float](1)
      r.getSeq[Long](2).zip(v).foreach { case (q, x) =>
        assert(math.abs(q * m / 127.0 - x) <= m / 254.0 + 1e-12)
      }
    }
  }

  test("int8Assign: mislabeled vector reassigned, half-up centroid rounding") {
    import spark.implicits._
    val vecs = Seq(
      (1L, 0, Array(1.0f, 0.0f)),
      (2L, 0, Array(1.0f, 0.0f)),
      (3L, 1, Array(0.0f, 1.0f)),
      (4L, 1, Array(0.0f, 1.0f)),
      (5L, 1, Array(1.0f, 0.0f)) // labeled 1, sits on cluster 0
    ).toDF("vec_id", "label", "embedding")
    val got = graft.ext.Similarity
      .int8Assign(vecs, "vec_id", "embedding", "label")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // centroids: c0 = (127, 0); c1 = mean of (0,127)x2,(127,0) =
    // (42.33→42, 84.67→85)
    assert(got(1L)._1 == 0L && got(1L)._2 == 0L)
    assert(got(5L)._1 == 0L, "mislabeled vector must be reassigned")
    assert(got(3L)._1 == 1L)
    // pin the exact integer distance of the reassigned vector:
    // d(q=(127,0), c1=(42,85)) = 85^2 + 85^2 = 14450 > d to c0 = 0
    assert(got(5L)._2 == 0L)
    val d5c1 = (127 - 42) * (127 - 42) + 85 * 85
    assert(d5c1 == 14450)
  }

  test("int8Assign: half-up mean rounding pinned by the distance value") {
    import spark.implicits._
    // group 0: q-vectors (127,0) and (127,127) → mean dim2 = 63.5,
    // half-up = 64; if an engine rounded half-even (63) the distance
    // below would be 64^2 = 4096, not 63^2 = 3969
    val vecs = Seq(
      (1L, 0, Array(1.0f, 0.0f)),
      (2L, 0, Array(0.5f, 0.5f)),
      (3L, 1, Array(0.0f, 1.0f))
    ).toDF("vec_id", "label", "embedding")
    val got = graft.ext.Similarity
      .int8Assign(vecs, "vec_id", "embedding", "label")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got(2L) == ((0L, 3969L)))
  }

  test("skipgramCounts: hand-computed window pairs, edge clipping, tie order") {
    import spark.implicits._
    val corpus = Seq("a b c", "a a").toDF("text")
    val got = TextAnalysis.skipgramCounts(corpus, "text", window = 2, k = 50)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    // "a b c" w=2: (a,b)(a,c)(b,a)(b,c)(c,a)(c,b); "a a": (a,a)x2
    assert(got.head == (("a", "a", 2L)))
    assert(got.toSet == Set(
      ("a", "a", 2L), ("a", "b", 1L), ("a", "c", 1L),
      ("b", "a", 1L), ("b", "c", 1L), ("c", "a", 1L), ("c", "b", 1L)))
    // tie block ordered (center, context)
    assert(got.tail == got.tail.sorted)
  }

  test("gopher flags: each rule fires independently") {
    import spark.implicits._
    val docs = Seq(
      // 60 tokens incl. stopwords, healthy lengths → all pass
      (1L, (Seq.fill(6)("the") ++ (1 to 54).map(i => s"tok$i")).mkString(" ")),
      (2L, "too short"), // fails pass_len
      (3L, (1 to 60).map(_ => "superlongtokenword").mkString(" ")), // mean>10, rep
      (4L, (1 to 60).map(i => s"tok$i").mkString(" ")) // no stopwords
    ).toDF("id", "text")
    val f = graft.ext.TextAnalysis.gopherFlags($"text", Seq("the", "a"))
    val m = docs.select($"id", f.as("f")).collect()
      .map(r => r.getLong(0) -> r.getStruct(1)).toMap
    assert(m(1L).getBoolean(4)) // pass_all
    assert(!m(2L).getBoolean(0)) // pass_len fails
    assert(!m(3L).getBoolean(1) && !m(3L).getBoolean(3)) // mean + rep fail
    assert(!m(4L).getBoolean(2) && m(4L).getBoolean(0)) // stop fails, len ok
  }

  test("mixture: quotas bind per source, admission is hash-stable") {
    import spark.implicits._
    val rows = (1L to 30L).map(i => (i, if (i <= 10) "a" else "b")).toDF("id", "src")
    val out = Sampling.mixture(rows, "src", "id",
      Map("a" -> 0.6, "b" -> 0.2), budget = 10, salt = "s")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(out.count(_._2 == "a") == 6 && out.count(_._2 == "b") == 2)
    // growth stability: adding rows to src b never evicts an admitted
    // row unless it hashes earlier — re-run with extra rows, admitted
    // set can only change by hash order, and src a is untouched
    val more = rows.unionAll(Seq((100L, "b"), (101L, "b")).toDF("id", "src"))
    val out2 = Sampling.mixture(more, "src", "id",
      Map("a" -> 0.6, "b" -> 0.2), budget = 10, salt = "s")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(out2.filter(_._2 == "a").toSet == out.filter(_._2 == "a").toSet)
  }

  test("keyProfile flags the planted hot key with a salt fan-out") {
    import spark.implicits._
    val rows = ((1 to 900).map(_ => 7L) ++ (1001 to 1100).map(_.toLong))
      .toDF("k")
    val prof = Skew.keyProfile(rows, "k", topK = 3, parts = 10).collect()
    assert(prof(0).getLong(0) == 7L)
    assert(prof(0).getLong(1) == 900L)
    assert(prof(0).getLong(2) == 900000L)  // 90% in ppm
    assert(prof(0).getLong(3) == 9L)       // needs 9 of 10 reducers
    assert(prof(1).getLong(3) == 1L)       // uniform keys need no salt
  }

  test("hashNegatives: never a seen item, exactly k, deterministic") {
    import spark.implicits._
    val inter = Seq(
      (1L, 10L), (1L, 11L), (1L, 10L),   // user 1 saw {10, 11}
      (2L, 12L),                          // user 2 saw {12}
      (3L, 10L), (3L, 11L), (3L, 12L), (3L, 13L) // saw all → no negatives
    ).toDF("u", "i")
    val got = Sampling.hashNegatives(inter, "u", "i", k = 2, salt = "s")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byUser = got.groupBy(_._1)
    // vocab = {10,11,12,13}; negatives never intersect the seen set
    assert(byUser(1L).map(_._2).toSet.subsetOf(Set(12L, 13L)))
    assert(byUser(1L).length == 2 && byUser(2L).length == 2)
    assert(!byUser.contains(3L))
    assert(byUser(2L).map(_._2).toSet.subsetOf(Set(10L, 11L, 13L)))
    // ranks are 1..k and the draw is partition-stable
    assert(byUser(1L).map(_._3).sorted.toSeq == Seq(1L, 2L))
    val again = Sampling.hashNegatives(inter.repartition(7), "u", "i",
      k = 2, salt = "s").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.sorted.toSeq == again.sorted.toSeq)
  }

  test("rrfFuse: integer contributions, union semantics, missing-list ids") {
    import spark.implicits._
    val a = Seq((10L, 1), (11L, 2), (12L, 3)).toDF("id", "rank")
    val b = Seq((11L, 1), (10L, 2), (13L, 3)).toDF("id", "rank")
    val got = Index.rrfFuse(Seq(a, b), k = 60, topN = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    def c(r: Int) = 1000000000L / (60 + r)
    val want = Seq(
      (10L, c(1) + c(2), 2L), (11L, c(2) + c(1), 2L),
      (12L, c(3), 1L), (13L, c(3), 1L))
      .sortBy(t => (-t._2, t._1))
    assert(got.toSeq == want)
  }

  test("rrfFuseByQuery: per-query fusion, partial coverage, bounded topN") {
    import spark.implicits._
    // query 1 appears in both legs, query 2 only in the lexical leg
    val lex = Seq((1L, 10L, 1L), (1L, 11L, 2L), (2L, 20L, 1L))
      .toDF("query_id", "id", "rank")
    val dense = Seq((1L, 11L, 1L), (1L, 12L, 2L))
      .toDF("query_id", "id", "rank")
    val got = Index.rrfFuseByQuery(Seq(lex, dense), k = 60, topN = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    def c(r: Int) = 1000000000L / (60 + r)
    val want = Seq(
      // query 1: 11 fuses from both legs and wins; 10 beats 12 (both
      // single-leg, same contribution c(1) vs c(2): 10 has c(1)... no —
      // 10 contributes c(1) lexically, 12 contributes c(2) densely
      (1L, 1L, 11L, c(2) + c(1), 2L),
      (1L, 2L, 10L, c(1), 1L),
      // query 2: lexical-only, fuses from one leg (union semantics)
      (2L, 1L, 20L, c(1), 1L))
    assert(got.toSeq.sortBy(t => (t._1, t._2)) == want)
  }

  test("rrfFuseByQuery: string ids fuse via the internal dense-id round trip") {
    import spark.implicits._
    // the long-id fixture with ids renamed to doc-key strings
    val lex = Seq((1L, "doc-b", 1L), (1L, "doc-c", 2L), (2L, "doc-z", 1L))
      .toDF("query_id", "id", "rank")
    val dense = Seq((1L, "doc-c", 1L), (1L, "doc-d", 2L))
      .toDF("query_id", "id", "rank")
    val got = Index.rrfFuseByQuery(Seq(lex, dense), k = 60, topN = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        r.getLong(4)))
    def c(r: Int) = 1000000000L / (60 + r)
    val want = Seq(
      (1L, 1L, "doc-c", c(2) + c(1), 2L),
      (1L, 2L, "doc-b", c(1), 1L),
      (2L, 1L, "doc-z", c(1), 1L))
    assert(got.toSeq.sortBy(t => (t._1, t._2)) == want)
    // a non-integral, non-string id still fails loudly
    val bad = Seq((1L, 1.5, 1L)).toDF("query_id", "id", "rank")
    val e = intercept[IllegalArgumentException](
      Index.rrfFuseByQuery(Seq(bad), k = 60, topN = 1))
    assert(e.getMessage.contains("integral or string"))
  }

  test("paretoFrontier: dominated points drop, per-cost champions kept") {
    import spark.implicits._
    val pts = Seq(
      (1.0, 5.0), (1.0, 3.0),   // same cost: champion is gain 5
      (2.0, 4.0),               // dominated by (1, 5)
      (3.0, 8.0),               // frontier
      (4.0, 8.0),               // equal gain at higher cost → dominated
      (5.0, 9.0)                // frontier
    ).toDF("c", "g")
    val got = Profile.paretoFrontier(pts, "c", "g")
      .collect().map(r => (r.getDouble(0), r.getDouble(1))).toSet
    assert(got == Set((1.0, 5.0), (3.0, 8.0), (5.0, 9.0)))
  }

  test("sortedNeighborPairs: dirty-first-token pair found, window bound holds") {
    import spark.implicits._
    // equality blocking on the first token would separate "marror" from
    // "mirror" — sort order keeps them adjacent
    val names = Seq("mirror finish steel", "marror finish steel",
      "aaaa zzzz", "zzzz aaaa").toDF("k")
    val got = Fuzzy.sortedNeighborPairs(names, "k", window = 3, maxDist = 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(got.toSeq == Seq(("marror finish steel", "mirror finish steel", 1L)))
    // window=1 must only pair adjacent ranks
    val many = (0 to 9).map(i => s"key$i").toDF("k")
    val adj = Fuzzy.sortedNeighborPairs(many, "k", window = 1, maxDist = 1)
    assert(adj.count() == 9)
  }

  test("ksDistance: hand-computed gap, integer numerator, argmin value") {
    import spark.implicits._
    // A = {1,2,3,4}, B = {3,4,5,6}: nA=nB=4; gaps·16 at v=1..6:
    // 4,8,8,8,4,0 → max 8 first achieved at v=2
    val a = Seq(1.0, 2.0, 3.0, 4.0).toDF("x")
    val b = Seq(3.0, 4.0, 5.0, 6.0).toDF("x")
    val r = Drift.ksDistance(a, b, "x").head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)) ==
      ((8L, 4L, 4L, 2.0)))
    // identical samples → zero distance
    val z = Drift.ksDistance(a, a, "x").head()
    assert(z.getLong(0) == 0L)
  }

  test("benfordProfile: digits from decimal rendering, sub-1 rows dropped") {
    import spark.implicits._
    val rows = Seq(1.5, 19.0, 123.0, 2.0, 0.4, 987.0, 91.0).toDF("x")
    val got = Profile.benfordProfile(rows, "x")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 3L, 2L -> 1L, 9L -> 2L))
  }

  test("kmv intersectEstimate: exact when unfilled, within 15% when filled") {
    import spark.implicits._
    // unfilled: 60+60 keys, overlap 20, k=512 → exact answer
    val a1 = (0L until 60L).toDF("k")
    val b1 = (40L until 100L).toDF("k")
    def est(a: org.apache.spark.sql.DataFrame,
            b: org.apache.spark.sql.DataFrame, k: Int) =
      a.agg(Kmv.summary($"k", k, "s").as("sa"))
        .crossJoin(b.agg(Kmv.summary($"k", k, "s").as("sb")))
        .select(Kmv.intersectEstimate($"sa", $"sb", k).as("e"))
        .head().getDouble(0)
    assert(est(a1, b1, 512) == 20.0)
    // filled: 4000+4000 keys, overlap 2000, k=512 → estimate ±15%
    val a2 = (0L until 4000L).toDF("k")
    val b2 = (2000L until 6000L).toDF("k")
    val e = est(a2, b2, 512)
    assert(math.abs(e - 2000.0) <= 300.0, s"estimate $e off by > 15%")
  }

  test("idfWeightedJaccardPairs: template sharing demoted, rare passage promoted") {
    import spark.implicits._
    val template = "breaking news site menu home about contact subscribe today"
    val rare = "quantum error correction surface code threshold theorem"
    val corpus = (
      Seq((1L, s"$template $rare alpha beta"),
          (2L, s"$template $rare gamma delta")) ++
      (3L to 10L).map(i => (i, s"$template filler$i junk$i"))
    ).toDF("doc_id", "text")
    def shingleSet(t: String) =
      t.split(" ").sliding(3).map(_.mkString(" ")).toSet
    val texts = (Seq((1L, s"$template $rare alpha beta"),
      (2L, s"$template $rare gamma delta")) ++
      (3L to 10L).map(i => (i, s"$template filler$i junk$i"))).toMap
    // driver-side reference with identical integer weights
    val n = texts.size.toLong
    val allSh = texts.values.flatMap(shingleSet).toSeq
    val dfm = allSh.groupBy(identity).map { case (s, o) => s -> o.size.toLong }
    def w(s: String) =
      math.min(4L, java.lang.Long.toBinaryString(n / dfm(s)).length.toLong)
    def wj(a: Long, b: Long) = {
      val (sa, sb) = (shingleSet(texts(a)), shingleSet(texts(b)))
      val wi = (sa & sb).toSeq.map(w).sum.toDouble
      wi / ((sa.toSeq.map(w).sum + sb.toSeq.map(w).sum) - wi)
    }
    val want = (for {
      a <- texts.keys; b <- texts.keys if a < b && wj(a, b) >= 0.5
    } yield (a, b)).toSet
    val got = Dedup.idfWeightedJaccardPairs(corpus, "doc_id", "text",
        n = 3, threshold = 0.5, wMax = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want)
    // the semantic point: the rare-passage pair is IN, and at least
    // one template-only pair that plain Jaccard admits at 0.5 is OUT
    assert(got.contains((1L, 2L)))
    val unweighted = Dedup.ngramJaccardPairs(corpus, "doc_id", "text",
        n = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val templateOnly = unweighted.filter { case (a, b) => a >= 3 && b >= 3 }
    assert(templateOnly.nonEmpty && templateOnly.forall(!got.contains(_)))
  }

  test("epochShuffle: balanced contiguous positions, salt changes the permutation") {
    import spark.implicits._
    val rows = (0L until 200L).toDF("k")
    val out = Sampling.epochShuffle(rows, "k", salt = "e1", shards = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.length == 200 && out.map(_._1).toSet.size == 200)
    // per shard: positions are exactly 0..n-1 (a permutation segment)
    out.groupBy(_._2).foreach { case (_, rs) =>
      assert(rs.map(_._3).sorted.toSeq == (0L until rs.length).toSeq)
    }
    // stable across partitioning; a new salt reorders
    val again = Sampling.epochShuffle(rows.repartition(7), "k", "e1", 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.sorted.toSeq == again.sorted.toSeq)
    val epoch2 = Sampling.epochShuffle(rows, "k", "e2", 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.sorted.toSeq != epoch2.sorted.toSeq)
  }

  test("knContinuationCounts: context variety, not frequency") {
    import spark.implicits._
    // "san francisco" 3x (frequent, bound); "the" follows 3 distinct
    // words and precedes 2 — variety beats frequency
    val docs2 = Seq(
      (1L, "san francisco san francisco san francisco"),
      (2L, "in the house by the sea near the house")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.knContinuationCounts(docs2, "text")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // bigram types: (san,francisco),(francisco,san) + (in,the),(the,house),
    // (house,by),(by,the),(the,sea),(sea,near),(near,the) = 9
    assert(got("francisco") == ((1L, 1L, 9L))) // frequent but single-context
    assert(got("the") == ((3L, 2L, 9L)))       // 3 left contexts, 2 right
    assert(got("in") == ((0L, 1L, 9L)))        // sentence-initial only
  }

  test("internalRepeats: planted loop found, period and span exact") {
    import spark.implicits._
    val docs3 = Seq(
      // "a b c d e" repeats 6 tokens later: run of 3 3-grams, span 5
      (1L, "a b c d e x y z w q a b c d e t u v"),
      (2L, "all distinct tokens with no internal repetition at all now")
    ).toDF("doc_id", "text")
    val got = Dedup.internalRepeats(docs3, "doc_id", "text", n = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    assert(got.toSeq == Seq((1L, 3L, 5L, 10L)))
  }

  test("rendezvousShard: adding a shard moves only the new shard's keys") {
    import spark.implicits._
    val rows = (0L until 500L).toDF("k")
    val before = Sampling.rendezvousShard(rows, "k", "rv", Seq(0L, 1L, 2L, 3L))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val after = Sampling.rendezvousShard(rows, "k", "rv", Seq(0L, 1L, 2L, 3L, 4L))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val moved = before.keys.filter(k => before(k) != after(k)).toSeq
    // every moved key lands on the NEW shard; nothing reshuffles
    // among the old shards (the HRW property mod-N hashing lacks)
    assert(moved.nonEmpty && moved.forall(k => after(k) == 4L))
    // expected movement is n/5 = 100; allow a generous band
    assert(moved.length > 50 && moved.length < 160)
    // all shards populated, assignment covers every key
    assert(after.values.toSet == Set(0L, 1L, 2L, 3L, 4L))
  }

  test("overlapSpans: longest verbatim run found on the diagonal") {
    import spark.implicits._
    // share the 5-token span "a b c d e" (3 consecutive 3-grams) plus
    // one scattered 3-gram "p q r" that must NOT extend the run
    val pair = Seq(
      (1L, "a b c d e x1 x2 p q r x3"),
      (2L, "z1 a b c d e z2 p q r z3"),
      (3L, "totally unrelated words here right now")
    ).toDF("doc_id", "text")
    val got = Dedup.overlapSpans(pair, "doc_id", "text", n = 3,
        threshold = 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    assert(got.toSeq == Seq((1L, 2L, 3L, 5L)))
  }

  test("kmeansLloyd: separated blobs converge to their own clusters") {
    import spark.implicits._
    // two tight blobs around (100,0,...) and (0,100,...); seeds are the
    // two smallest ids — one in each blob → Lloyd separates them
    val vecs = (0L until 20L).map { i =>
      val blob = (i % 2).toInt
      val base = if (blob == 0) Array(100f, 0f, 0f, 5f)
                 else Array(0f, 100f, 5f, 0f)
      (i, base.map(v => v + (i % 5).toFloat))
    }.toDF("vec_id", "embedding")
    val got = Similarity.kmeansLloyd(vecs, "vec_id", "embedding",
        k = 2, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // even ids (blob 0) share seed 0's cluster; odd ids seed 1's
    assert((0L until 20L).forall(i => got(i) == got(i % 2)))
    assert(got(0L) != got(1L))
    // bit-stable across partitioning
    val again = Similarity.kmeansLloyd(vecs.repartition(7), "vec_id",
        "embedding", k = 2, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == again)
  }

  test("kmeansLloyd: a cluster losing all members keeps its centroid") {
    import spark.implicits._
    // seed 1 (vec 1) sits between the blobs but nearer blob 0's mass:
    // after round 1 it may capture nothing — the operator must not
    // crash or drop the cluster id
    val vecs = (Seq((0L, Array(100f, 0f)), (1L, Array(98f, 0f))) ++
      (2L until 12L).map(i => (i, Array(100f, 0f)))).toDF("vec_id", "embedding")
    val got = Similarity.kmeansLloyd(vecs, "vec_id", "embedding",
      k = 2, rounds = 2).collect()
    assert(got.length == 12)
    assert(got.map(_.getLong(1)).toSet.subsetOf(Set(0L, 1L)))
  }

  test("itemPairStats: hand-computed support, lift and confidence") {
    import spark.implicits._
    // baskets: {a,b} {a,b} {a,c} {b} — n=4 baskets
    val rows = Seq(
      (1L, "a"), (1L, "b"), (1L, "a"),   // duplicate presence collapses
      (2L, "a"), (2L, "b"),
      (3L, "a"), (3L, "c"),
      (4L, "b")
    ).toDF("basket", "item")
    val got = Assoc.itemPairStats(rows, "basket", "item")
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
        r.getLong(6))).sortBy(t => (t._1, t._2))
    // (a,b): n_ab=2, n_a=3, n_b=3 → lift = 2·4·1e6/9 = 888888 (floor),
    //        conf = 2·1e6/3 = 666666
    // (a,c): n_ab=1, n_a=3, n_c=1 → lift = 4·1e6/3 = 1333333,
    //        conf = 333333
    assert(got.toSeq == Seq(
      ("a", "b", 2L, 3L, 3L, 888888L, 666666L),
      ("a", "c", 1L, 3L, 1L, 1333333L, 333333L)))
  }

  test("equalFrequencyBins: populations differ by <= 1, bounds nest") {
    import spark.implicits._
    // 23 rows into 5 bins: 3 bins of 5, 2 of 4 (NTILE rule)
    val rows = (1 to 23).map(i => ((i * 37 % 100).toDouble, i.toLong))
      .toDF("v", "k")
    val got = Profile.equalFrequencyBins(rows, "v", "k", bins = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3)))
    assert(got.map(_._1).toSeq == (1L to 5L))
    assert(got.map(_._2).toSeq == Seq(5L, 5L, 5L, 4L, 4L))
    // bin boundaries are monotone: each bin's lo >= previous bin's hi
    got.zip(got.tail).foreach { case (p, n) => assert(n._3 >= p._4) }
    assert(got.map(_._2).sum == 23L)
  }

  test("tokenEntropy: hand-computed quantized bits, degenerate cases") {
    import spark.implicits._
    val rows = Seq(
      (0L, "a a a a"),            // uniform single token → 0 bits
      (1L, "a b c d"),            // uniform over 4 → 2 bits/token exactly
      (2L, "a a a b"),            // N=4: a: 3·floor(log2(4 div 3))=0, b: 1·2
      (3L, "x")                   // single token
    ).toDF("doc_id", "text")
    val got = rows.select($"doc_id", TextAnalysis.tokenEntropy($"text").as("e"))
      .select($"doc_id", $"e.n_toks", $"e.n_distinct", $"e.entropy_ppm")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2),
        r.getLong(3)))).toMap
    assert(got(0L) == ((4L, 1L, 0L)))
    assert(got(1L) == ((4L, 4L, 2000000L)))
    assert(got(2L) == ((4L, 2L, 500000L))) // 2 bits · 1 tok / 4 toks
    assert(got(3L) == ((1L, 1L, 0L)))
  }

  test("CMS: estimates dominate exact counts; shard merge == whole") {
    import spark.implicits._
    val toks = (1 to 400).map(i => s"t${i % 37}").toDF("tok")
    val exact = toks.groupBy("tok").agg(count(lit(1)).as("exact"))
    val sk = Cms.sketch(toks, "tok", depth = 4, width = 64)
    val est = Cms.estimate(sk, exact.select("tok"), "tok",
        depth = 4, width = 64)
      .join(exact, "tok").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(est.nonEmpty)
    est.foreach { case (_, e, x) => assert(e >= x) } // one-sided error
    // never-seen key estimates 0 only if all 4 rows miss; must be >= 0
    // and <= total stream length
    est.foreach { case (_, e, _) => assert(e >= 0L && e <= 400L) }
    // mergeability: the cell-wise sum of shard sketches == whole sketch
    val whole = sk.collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    val even = toks.filter(substring($"tok", 2, 10).cast("int") % 2 === 0)
    val odd = toks.filter(substring($"tok", 2, 10).cast("int") % 2 =!= 0)
    val merged = Cms.sketch(even, "tok", 4, 64)
      .unionByName(Cms.sketch(odd, "tok", 4, 64))
      .groupBy("row", "bucket").agg(sum($"cnt"))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(merged == whole)
  }

  test("fellegiSunter: hand-scored pairs, null never agrees") {
    import spark.implicits._
    val rows = Seq(
      (1L, "b1", "US", "AUTO"),
      (2L, "b1", "US", "AUTO"),          // agrees on both: 15+12=27
      (3L, "b1", "US", "RAIL"),          // nat only: 15-6=9
      (4L, "b1", null.asInstanceOf[String], "AUTO") // null nat: -8+12=4
    ).toDF("id", "blk", "nat", "seg")
    val got = Fuzzy.fellegiSunter(rows, "id", "blk",
        fields = Seq(("nat", 15L, -8L), ("seg", 12L, -6L)), threshold = 20L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getBoolean(3))).toMap
    assert(got((1L, 2L)) == ((27L, true)))
    assert(got((1L, 3L)) == ((9L, false)))
    assert(got((1L, 4L)) == ((4L, false)))  // null nat → disagreement
    assert(got((3L, 4L)) == ((-14L, false)))
    assert(got.size == 6) // all C(4,2) pairs share the block
  }

  test("personalizedPageRank: teleport mass sits on sources only") {
    import spark.implicits._
    // star: 1 -> 2, 1 -> 3; source set {1}
    val edges = Seq((1L, 2L), (1L, 3L)).toDF("src", "dst")
    val pr = Graph.personalizedPageRankInt(edges, "src", "dst",
        sources = Seq(1L), iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val S = Graph.Scale
    // iter math: base = (S - 0.85S) = 0.15S on node 1 only.
    // r0 = (S, 0, 0); r1 = (0.15S, (S div 2)*85 div 100, same)
    assert(pr(1L) == S - S * 85 / 100)
    // r2: node 2/3 get (r1(1) div 2) * 85 div 100
    val r1_1 = S - S * 85 / 100
    assert(pr(2L) == r1_1 / 2 * 85 / 100)
    assert(pr(2L) == pr(3L))
    // sinks keep no teleport mass: nothing flows back to 1
  }

  test("privacy audit: k-anonymity and l-diversity verdicts") {
    import spark.implicits._
    val rows = Seq(
      ("10001", 1980, "flu"), ("10001", 1980, "flu"), ("10001", 1980, "flu"),
      ("10001", 1980, "cold"), ("10001", 1980, "acne"),   // 5 rows, 3 values
      ("10002", 1990, "flu"), ("10002", 1990, "flu"),     // 2 rows < k
      ("10003", 1975, "hiv")                              // 1 row, 1 value
    ).toDF("zip", "by", "dx")
    val ka = Privacy.kAnonymity(rows, Seq("zip", "by"), k = 5)
      .collect().map(r => (r.getString(0), r.getLong(2), r.getBoolean(3)))
      .toSet
    assert(ka == Set(("10001", 5L, false), ("10002", 2L, true),
      ("10003", 1L, true)))
    val ld = Privacy.lDiversity(rows, Seq("zip", "by"), "dx", l = 3)
      .collect().map(r => (r.getString(0), r.getLong(3), r.getBoolean(4)))
      .toSet
    assert(ld == Set(("10001", 3L, true), ("10002", 1L, false),
      ("10003", 1L, false)))
  }

  test("leakageSafeSplit: near-dup clusters never straddle splits") {
    import spark.implicits._
    val corpus = Seq(
      (0L, "a"), (1L, "a"), (2L, "a"),    // cluster {0,1,2}
      (3L, "b"), (4L, "b"),               // cluster {3,4}
      (5L, "c")                           // singleton
    ).toDF("doc_id", "text")
    val pairs = Seq((0L, 1L), (1L, 2L), (3L, 4L)).toDF("id_a", "id_b")
    val got = Sampling.leakageSafeSplit(corpus, "doc_id", pairs,
        splits = Seq(("train", 0.8), ("test", 0.2)), salt = "s")
      .select("doc_id", "cluster", "split")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    // same cluster => same split, always
    got.groupBy(_._2).values.foreach { g =>
      assert(g.map(_._3).distinct.length == 1)
    }
    // cluster labels are the component minima; singleton keeps its id
    val byDoc = got.map(r => r._1 -> r._2).toMap
    assert(byDoc(0L) == 0L && byDoc(1L) == 0L && byDoc(2L) == 0L)
    assert(byDoc(3L) == 3L && byDoc(4L) == 3L)
    assert(byDoc(5L) == 5L)
  }

  test("shingleNovelty: later sources only count unseen shingles") {
    import spark.implicits._
    val rows = Seq(
      ("s0", 0L, "a b c d"),        // shingles: "a b c", "b c d"
      ("s1", 1L, "a b c e"),        // "a b c" (seen), "b c e" (novel)
      ("s2", 2L, "a b c d")         // both seen
    ).toDF("source", "ord", "text")
    val got = Dedup.shingleNovelty(rows, "source", "ord", "text", n = 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).sortBy(_._2)
    assert(got.toSeq == Seq(
      ("s0", 0L, 2L, 2L),
      ("s1", 1L, 2L, 1L),
      ("s2", 2L, 2L, 0L)))
  }

  test("knnLabelDisagreement flags the point inside the wrong cluster") {
    val df = Seq(
      (1L, Seq(1.0f, 0.0f), 0), (2L, Seq(9.0f, 1.0f), 0),
      (3L, Seq(0.0f, 1.0f), 1), (4L, Seq(1.0f, 9.0f), 0)) // 4 mislabeled
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.knnLabelDisagreementExact(df, "vec_id", "embedding",
        "label", k = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(3), r.getLong(4))))
      .toMap
    assert(got(1L) == ((0L, 0L)) && got(2L) == ((0L, 0L)))
    // 4's neighbours: 3 (other label) and 2 → half disagree
    assert(got(4L) == ((1L, 500000L)))
    // 3 is outvoted by the mislabeled neighbourhood: full disagreement
    assert(got(3L) == ((2L, 1000000L)))
  }

  test("oovCurve: exact coverage from the count spectrum, ties share mass") {
    val df = Seq("x x x y y z").toDF("text")
    val got = TextAnalysis.oovCurve(df, "text", Seq(1L, 2L, 5L))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))).toMap
    assert(got(1L) == ((1L, 3L, 6L, 500000L)))
    assert(got(2L) == ((2L, 5L, 6L, 166666L)))
    assert(got(5L) == ((3L, 6L, 6L, 0L)))
    // tie band: either of the two 2-count terms covers the same mass
    val tie = TextAnalysis.oovCurve(Seq("a a b b c").toDF("text"), "text",
      Seq(1L)).collect().head
    assert(tie.getLong(2) == 2L && tie.getLong(4) == 600000L)
  }

  test("mutualNearestPairs keeps only reciprocal top-1 matches") {
    val a = Seq((0L, Seq(1.0f, 0.0f)), (2L, Seq(2.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val b = Seq((1L, Seq(1.0f, 0.0f)), (3L, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.mutualNearestPairsExact(a, "vec_id", "embedding",
        b, "vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // a0→b1 and b1→a0 (cos 1.0): mutual. a2→b1 (0.894 > 0.447) but
    // b1 prefers a0; b3→a2 but a2 prefers b1 → only one pair survives
    assert(got == Set((0L, 1L)))
    // independently-keyed sets: a COLLIDING id is not a self-match —
    // id 7 in A must still pair with id 7 in B (regression: the
    // self-kNN exclusion used to drop exactly these true pairs)
    val a2 = Seq((7L, Seq(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val b2 = Seq((7L, Seq(1.0f, 0.0f)), (8L, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val got2 = Similarity.mutualNearestPairsExact(a2, "vec_id", "embedding",
        b2, "vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got2 == Set((7L, 7L)))
  }

  test("banded ANN paths: recall gates on the embeddings fixture") {
    // The banded mutualNearestPairs / knnLabelDisagreement are the
    // 100 TB defaults (no corpus broadcast); their recall vs the
    // exact brute-force baselines is a PARAMETER property (bands ×
    // bitsPerBand) that a hash gate cannot see — both engines replay
    // the same banding. This spec pins it: a parameter or Planes
    // regression that drops recall below 85% on the fixture fails
    // here. (Measured at 16 bands × 4 bits: knn ≈ 0.88, mutual
    // ≈ 0.88–0.94 across sf0.001–0.1.)
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val knn = Similarity.knnBandingAudit(emb.filter($"vec_id" < 500),
        "vec_id", "embedding", k = 10).collect().head
    assert(knn.getAs[Long]("n_exact") == 5000L)
    assert(knn.getAs[Long]("recall_ppm") >= 850000L,
      s"knn banding recall regressed: $knn")
    val mut = Similarity.mutualBandingAudit(
        emb.filter($"vec_id" % 2 === 0), "vec_id", "embedding",
        emb.filter($"vec_id" % 2 === 1), "vec_id", "embedding")
      .collect().head
    assert(mut.getAs[Long]("n_exact") > 0L)
    assert(mut.getAs[Long]("recall_ppm") >= 850000L,
      s"mutual banding recall regressed: $mut")
  }

  test("banded paths: a vector/dim mismatch fails loudly, never degenerates") {
    // Before round 7 a non-64-dim vector made every plane dot NULL and
    // every bucket 0, silently degenerating the banded equi-join to the
    // full cross product on one hot (band, bucket) key. Now the length
    // is validated at execution time: small-dim fixtures must pass the
    // real dim, and a mismatch raises instead of going quadratic.
    val a = Seq((0L, Seq(1.0f, 0.0f)), (2L, Seq(2.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val b = Seq((1L, Seq(1.0f, 0.0f)), (3L, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val ex = intercept[Exception] {
      Similarity.mutualNearestPairs(a, "vec_id", "embedding",
        b, "vec_id", "embedding").collect() // default dim = 64, vecs are 2
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ msgs(e.getCause))
    assert(msgs(ex).exists(_.contains("banding dim")), ex.toString)
    // with the REAL dim the banded path works on tiny fixtures too:
    // identical vectors share every band bucket, so the (0,1) mutual
    // pair survives banding
    val banded = Similarity.mutualNearestPairs(a, "vec_id", "embedding",
        b, "vec_id", "embedding", dim = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(banded.contains((0L, 1L)))
  }

  test("oversized-bucket cap: hot buckets sub-split, small buckets inert") {
    // Planes.subHash must match the engine-portable md5 spec: constants
    // are int(md5(decimal_id)[0:6 hex], 16), cross-checked against the
    // DuckDB mirror (Planes.cappedSkCteSql) and python hashlib
    val h = spark.range(1).select(
      Planes.subHash(lit(42L)).as("a"), Planes.subHash(lit(7L)).as("b"),
      Planes.subHash(lit(123456L)).as("c")).collect().head
    assert((h.getLong(0), h.getLong(1), h.getLong(2)) ==
      ((10604742L, 9376996L, 14748380L)))
    // 600 IDENTICAL vectors — the pathological bucket: every band
    // agrees, so uncapped candidates are all 2·C(600,2) = 359400
    // ordered pairs. cap=100 → ns=6 sub-buckets (~100 members each):
    // candidate volume must drop to ~ 2·Σ C(m_s,2) ≈ 1/6 of that.
    val hot = spark.range(600).select(col("id").as("_id"),
      typedLit(Seq(1.0f, 0.5f, -0.25f, 0.125f)).as("v"))
    val capped = Similarity.bandedSelfCandidates(hot, bands = 4,
      bitsPerBand = 2, dim = 4, maxBucket = 100).count()
    val uncapped = Similarity.bandedSelfCandidates(hot, bands = 4,
      bitsPerBand = 2, dim = 4, maxBucket = 100000).count()
    assert(uncapped == 359400L)
    assert(capped > 0L && capped < uncapped / 4,
      s"cap did not bound the hot bucket: $capped vs $uncapped")
    // determinism: the sub-split is hash-ranked, not random
    assert(capped == Similarity.bandedSelfCandidates(hot, bands = 4,
      bitsPerBand = 2, dim = 4, maxBucket = 100).count())
    // below the cap ns = 1 everywhere: candidates byte-identical to
    // the uncapped generator (the correctness-gate regime)
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .filter($"vec_id" < 200)
      .select($"vec_id".as("_id"), $"embedding".as("v"))
    val a = Similarity.bandedSelfCandidates(emb, 16, 4, 64, 4096)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = Similarity.bandedSelfCandidates(emb, 16, 4, 64, 1 << 20)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a == b)
  }

  test("winnowFingerprints: shared run of w+n−1 tokens shares a fingerprint") {
    // n=3, w=8 → any shared run of 10 tokens yields one full window of
    // identical gram hashes in both docs, whose minimum is selected
    val shared = (1 to 10).map(i => s"s$i").mkString(" ")
    val df = Seq(
      (1L, s"alpha beta $shared gamma"),
      (2L, s"x y z $shared"),
      (3L, "nothing in common here at all")).toDF("doc_id", "text")
    val fps = df.select($"doc_id",
        TextAnalysis.winnowFingerprints($"text", n = 3, w = 8).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert((fps(1L) intersect fps(2L)).nonEmpty)
    assert((fps(1L) intersect fps(3L)).isEmpty)
    // sets are sorted-distinct and non-empty even below one window
    val tiny = Seq((9L, "a b")).toDF("doc_id", "text")
      .select(TextAnalysis.winnowFingerprints($"text", n = 3, w = 8).as("fp"))
      .collect().head.getSeq[Long](0)
    assert(tiny.size == 1) // single short gram → its own fingerprint
  }

  test("pqTopKRefined: full-coverage refine == exact cosine ranking") {
    // 24 vectors, dim 8; refine wide enough that the candidate set is
    // the WHOLE corpus — the refined ranking must then equal the
    // exact cosine ranking (self included; ties id-ascending)
    val corpus = (0L until 24L).map { i =>
      (i, Array.tabulate(8)(j => math.sin((i % 7 + 1) * (j + 1) * 0.37)))
    }.toDF("id", "vec")
    val cb = Similarity.pqCodebook(corpus, "id", "vec",
      subspaces = 4, ksub = 8, dim = 8)
    val queries = corpus.filter(col("id") < 3)
    val got = Similarity.pqTopKRefined(queries, "id", "vec",
        corpus, "id", "vec", cb, k = 5, refine = 5) // 25 ≥ corpus
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // exact reference, driver-side
    val vecs = (0L until 24L).map { i =>
      i -> Array.tabulate(8)(j => math.sin((i % 7 + 1) * (j + 1) * 0.37))
    }.toMap
    def cos(a: Array[Double], b: Array[Double]) = {
      val d = a.zip(b).map(p => p._1 * p._2).sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    for (q <- 0L until 3L) {
      val want = vecs.toSeq.map { case (cid, cv) => (cid, cos(vecs(q), cv)) }
        .sortBy { case (cid, c) => (-c, cid) }.take(5).map(_._1)
      val gotRanks = (1L to 5L).map(r => got((q, r)))
      assert(gotRanks == want, s"query $q refined != exact")
    }
  }

  test("pqEncode/pqTopK: codebook members round-trip, ADC = reconstruct") {
    // dim 4, 2 subspaces of 2 dims; maxabs 127 ⇒ quantization is the
    // identity on these integer-valued vectors
    def v(a: Float, b: Float, c: Float, dd: Float) = Array(a, b, c, dd)
    val corpus = Seq(
      (1L, v(127, 0, 0, 127)), (2L, v(0, 127, 127, 0)),
      (3L, v(127, 10, 0, 127)), (4L, v(5, 127, 127, 9)),
      (5L, v(60, 60, 60, 127))).toDF("id", "vec")
    val cb = Similarity.pqCodebook(corpus, "id", "vec",
      subspaces = 2, ksub = 2, dim = 4)
    assert(cb.length == 2 && cb.forall(_.length == 2))
    // every codebook source vector encodes to its own entries with
    // zero reconstruction error ⇒ its ADC self-distance is 0
    val enc = Similarity.pqEncode(corpus, "id", "vec", cb)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(enc.size == 5 && enc.values.forall(_.forall(c => c >= 0 && c < 2)))
    val top = Similarity.pqTopK(corpus, "id", "vec", corpus, "id", "vec",
        cb, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    // brute-force ADC oracle: distance to the RECONSTRUCTED corpus
    val recon = enc.map { case (id, codes) =>
      id -> codes.zipWithIndex.flatMap { case (c, m) => cb(m)(c) }
    }
    val qs = Map(1L -> Seq(127L, 0L, 0L, 127L), 2L -> Seq(0L, 127L, 127L, 0L),
      3L -> Seq(127L, 10L, 0L, 127L), 4L -> Seq(5L, 127L, 127L, 9L),
      5L -> Seq(60L, 60L, 60L, 127L))
    for ((q, qv) <- qs; (cid, rv) <- recon) {
      val d2 = qv.zip(rv).map { case (x, y) => (x - y) * (x - y) }.sum
      val rank = top.collectFirst {
        case ((`q`, r), (c, _)) if c == cid => r }.get
      assert(top((q, rank)) == ((cid, d2)))
    }
  }

  test("truncationRecallAudit: full-dim prefix == 1e6; local replay at cut dims") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val panel = emb.filter($"vec_id" % 7 === 0)
    val got = Similarity.truncationRecallAudit(panel, "vec_id", "embedding",
        emb, "vec_id", "embedding", dims = Seq(8, 64), k = 5)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // dim 64 IS the full dim → identical ranking → full overlap
    val (nq64, ov64, ppm64) = got(64L)
    assert(ppm64 == 1000000L && ov64 == nq64 * 5)
    // dim 8: replay locally with the same tie-break (cos desc, id asc)
    val vecs = emb.select($"vec_id", $"embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float], d: Int): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < d) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    def topk(q: Long, d: Int): Set[Long] =
      vecs.keys.filter(_ != q).toSeq
        .map(c => (c, cos(vecs(q), vecs(c), d)))
        .sortBy { case (c, s) => (-s, c) }.take(5).map(_._1).toSet
    val qs = vecs.keys.filter(_ % 7 == 0).toSeq
    val wantOv = qs.map(q => (topk(q, 8) & topk(q, 64)).size).sum.toLong
    assert(got(8L)._2 == wantOv)
    assert(got(8L)._1 == qs.size.toLong)
    // a dim past the real embedding dimension would silently alias the
    // full dim (slice truncates) — the audit rejects it loudly
    val e = intercept[IllegalArgumentException](
      Similarity.truncationRecallAudit(panel, "vec_id", "embedding",
        emb, "vec_id", "embedding", dims = Seq(8, 128), k = 5))
    assert(e.getMessage.contains("128"))
  }

  test("pqRecallAudit: full-corpus codebook reconstructs exactly -> recall 1e6") {
    // ksub = corpus size: every vector IS a codebook entry in every
    // subspace, so reconstruction error is 0 and ADC == exact L2
    def v(a: Float, b: Float, c: Float, dd: Float) = Array(a, b, c, dd)
    val corpus = Seq(
      (1L, v(127, 0, 3, 127)), (2L, v(0, 127, 127, 2)),
      (3L, v(127, 10, 0, 127)), (4L, v(5, 127, 127, 9))).toDF("id", "vec")
    val cb = Similarity.pqCodebook(corpus, "id", "vec",
      subspaces = 2, ksub = 4, dim = 4)
    val r = Similarity.pqRecallAudit(corpus, "id", "vec", corpus, "id",
      "vec", cb, k = 2).collect().head
    assert(r.getAs[Long]("n_queries") == 4L)
    assert(r.getAs[Long]("n_truth") == 8L)
    assert(r.getAs[Long]("n_hits") == 8L)
    assert(r.getAs[Long]("recall_ppm") == 1000000L)
  }

  test("sqrtTemperatureQuota: hand-computed quotas; isqrt edge cases") {
    // supplies 100 / 400 / 10000 → weights 10 / 20 / 100 (Σ 130)
    val df = Seq.fill(100)(("a", 1L)) ++
      Seq.fill(4)(("b", 100L)) ++ Seq(("c", 10000L))
    val got = Sampling.sqrtTemperatureQuota(df.toDF("src", "n"), "src",
        col("n"), budgetTokens = 1300L)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // quotas: 1300·10/130=100 (== avail), 1300·20/130=200, 100·13=1000
    assert(got("a") == ((100L, 10L, 76923L, 100L)))
    assert(got("b") == ((400L, 20L, 153846L, 200L)))
    assert(got("c") == ((10000L, 100L, 769230L, 1000L)))
    // isqrt boundary: k²−1 floors to k−1, k² to k (the 2⁵²-safety
    // argument in the scaladoc, exercised at the spec scale)
    val edge = Sampling.sqrtTemperatureQuota(
        Seq(("p", 2499L), ("q", 2500L)).toDF("src", "n"), "src",
        col("n"), budgetTokens = 0L)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(edge == Map("p" -> 49L, "q" -> 50L))
  }

  test("topPByGroup: exact boundary keep rule, ties by id") {
    val df = Seq(("g", "a", 5L), ("g", "b", 3L), ("g", "c", 2L),
      ("h", "x", 1L), ("h", "y", 1L)).toDF("grp", "item", "w")
    def run(p: Long) = Sampling.topPByGroup(df, "grp", "item",
        col("w"), p).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(3), r.getLong(4)))
      .toSet
    // p=0.8 of g's total 10: a (cum 5), b (cum 8); c's cum-before 8
    // is NOT < 8 — boundary excluded exactly
    assert(run(800000L) == Set(("g", "a", 5L, 1L), ("g", "b", 8L, 2L),
      ("h", "x", 1L, 1L), ("h", "y", 2L, 2L)))
    // p=0.81 admits c; equal weights in h order by item id
    assert(run(810000L).contains(("g", "c", 10L, 3L)))
    assert(run(500000L) == Set(("g", "a", 5L, 1L), ("h", "x", 1L, 1L)))
  }

  test("substringDedupRewrite: keep-first, later docs lose shared spans, overlaps merge") {
    val df = Seq(
      (0L, "a b c d e f g h i j"),            // keeper (smallest id)
      (1L, "x a b c d e f g h y z"),          // shares the 8-token window a..h
      (2L, "p q"),                            // too short for any window
      (3L, "q a b c d e f g h i r")           // shares TWO overlapping windows
    ).toDF("doc_id", "text")
    val got = Dedup.substringDedupRewrite(df, "doc_id", "text", l = 8)
      .select("doc_id", "text_clean", "n_removed")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2)))
      .toMap
    assert(got(0L) == ("a b c d e f g h i j", 0L)) // first occurrence kept
    assert(got(1L) == ("x y z", 8L))               // one window masked
    assert(got(2L) == ("p q", 0L))                 // untouched
    assert(got(3L) == ("q r", 9L))                 // overlapping windows merge
  }

  test("substringDedupRewrite: interval-merge pass == brute-force masking (property)") {
    // the r9 O(tokens + starts) rewrite must agree with the definition
    // (a token is removed iff ANY masked window covers it) on corpora
    // engineered for dense, overlapping, and adjacent masked runs
    val l = 4
    val rnd = new scala.util.Random(91)
    val phrases = Array("p0 p1 p2 p3", "q0 q1 q2 q3 q4", "r0 r1 r2 r3")
    val docs = (0L until 60L).map { i =>
      val parts = (0 until 3 + rnd.nextInt(5)).map { _ =>
        if (rnd.nextBoolean()) phrases(rnd.nextInt(3))
        else (0 until 1 + rnd.nextInt(4)).map(_ => s"u${rnd.nextInt(200)}")
          .mkString(" ")
      }
      (i, parts.mkString(" "))
    }
    val got = Dedup.substringDedupRewrite(docs.toDF("doc_id", "text"),
        "doc_id", "text", l)
      .select("doc_id", "text_clean", "n_removed")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2)))
      .toMap
    // brute force: windows -> min-doc keeper -> per-token coverage scan
    val toks = docs.map { case (id, t) =>
      id -> t.split(" ").filter(_.nonEmpty)
    }.toMap
    val keeper = scala.collection.mutable.Map.empty[String, Long]
    for ((id, ts) <- toks.toSeq.sortBy(_._1); i <- 0 to ts.length - l)
      { val w = ts.slice(i, i + l).mkString(" ")
        keeper(w) = math.min(keeper.getOrElse(w, Long.MaxValue), id) }
    for ((id, ts) <- toks) {
      val starts = (0 to ts.length - l).filter { i =>
        keeper(ts.slice(i, i + l).mkString(" ")) < id
      }.toSet
      val kept = ts.indices.filterNot(i =>
        starts.exists(s => s <= i && i < s + l)).map(ts)
      assert(got(id) == (kept.mkString(" "), (ts.length - kept.size).toLong),
        s"doc $id diverged")
    }
  }

  test("bm25Retrieve: self-retrieval, score recomputation, deterministic ties") {
    // 6 docs with distinctive vocab; queries = first tokens of docs
    // 0 and 3 — each query's own doc must surface, scored by the same
    // integer BM25 arithmetic as bm25TopTerms
    val docs = Seq(
      (0L, "apple banana cherry durian elderberry"),
      (1L, "apple fig grape"),
      (2L, "banana fig hazelnut iceplum"),
      (3L, "jackfruit kiwi lime mango mango"),
      (4L, "kiwi lime apple"),
      (5L, "noni orange papaya")).toDF("doc_id", "text")
    val queries = Seq((0L, "apple banana"), (3L, "mango kiwi"))
      .toDF("query_id", "qtext")
    val got = TextAnalysis.bm25Retrieve(queries, "query_id", "qtext",
        docs, "doc_id", "text", k = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // every query retrieves its source doc first (it contains both
    // terms; others at most one)
    val top = got.filter(_._2 == 1L).map(r => r._1 -> r._3).toMap
    assert(top == Map(0L -> 0L, 3L -> 3L))
    // recompute one score by hand: query 0, doc 1 ("apple") —
    // N=6, T=23, df(apple)=3, tf=1, dl=3
    // idf_bits = len(bin(6//3))-1 = 1
    // ppm = (1e6*44*23*1) div (20*23*1 + 6*23 + 18*3*6) = 1012000000 div 922
    val expected = 1L * (1000000L * 44 * 23 / (20 * 23 + 6 * 23 + 18 * 3 * 6))
    val d1 = got.find(r => r._1 == 0L && r._3 == 1L).get
    assert(d1._4 == expected)
    // ranks are dense from 1 and scores non-increasing per query
    got.groupBy(_._1).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1L to sorted.length).toSeq)
      assert(sorted.sliding(2).forall(p =>
        p.length < 2 || p(0)._4 >= p(1)._4))
    }
  }

  test("unimaxAllocation: hand-computed water-filling, all three regimes") {
    // supplies 10/100/1000, caps at 2 epochs = 20/200/2000
    val df = Seq(("a", 10L), ("b", 100L), ("c", 1000L)).toDF("lang", "toks")
    def run(budget: Long) = Sampling.unimaxAllocation(df, "lang",
        col("toks"), budget, maxEpochsPpm = 2000000L)
      .collect().map(r => r.getString(0) -> (r.getLong(2), r.getLong(3)))
      .toMap
    // mixed: a,b capped (20+200), c gets the remaining 380
    val mixed = run(600L)
    assert(mixed("a") == (20L, 20L))
    assert(mixed("b") == (200L, 200L))
    assert(mixed("c") == (2000L, 380L))
    // budget covers every cap: all capped
    val all = run(3000L)
    assert(all("a") == (20L, 20L) && all("b") == (200L, 200L) &&
      all("c") == (2000L, 2000L))
    // tiny budget: nobody capped, equal trunc shares
    val none = run(30L)
    assert(none.values.map(_._2).toSeq.sorted == Seq(10L, 10L, 10L))
  }

  test("dsirWeights: target-like docs outscore junk; feature counts exact") {
    val target = Seq((100L, "the quick brown fox jumps high"),
      (101L, "the lazy dog sleeps under the tree")).toDF("doc_id", "text")
    val raw = Seq(
      (0L, "the quick brown fox jumps high"),        // verbatim target-like
      (1L, "zzq xkcd qqqq zorp glyph blarg"),        // junk, zero target overlap
      (2L, "the lazy dog sleeps")).toDF("doc_id", "text")
    val got = Sampling.dsirWeights(raw, target, "doc_id", "text",
        buckets = 1024)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // n_feats = unigrams + bigrams
    assert(got(0L)._1 == 6 + 5)
    assert(got(2L)._1 == 4 + 3)
    // target-like docs score strictly higher than the junk doc
    assert(got(0L)._3 > got(1L)._3)
    assert(got(2L)._3 > got(1L)._3)
    // determinism
    val again = Sampling.dsirWeights(raw, target, "doc_id", "text",
        buckets = 1024)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(again == got)
  }

  test("topPByGroup rejects fractional weights instead of silently truncating") {
    val df = Seq(("g", "a", 1.5), ("g", "b", 0.4)).toDF("grp", "item", "w")
    val e = intercept[IllegalArgumentException] {
      Sampling.topPByGroup(df, "grp", "item", col("w"), 500000L)
    }
    assert(e.getMessage.contains("integral"))
  }

  test("ivfPqTopK: probing every list reproduces flat pqTopK exactly") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .filter($"vec_id" < 300)
    val cb = Similarity.pqCodebook(emb, "vec_id", "embedding",
      subspaces = 8, ksub = 8, dim = 64)
    val qs = emb.filter($"vec_id" % 50 === 0)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val flat = key(Similarity.pqTopK(qs, "vec_id", "embedding", emb,
      "vec_id", "embedding", cb, k = 5))
    val ivf = key(Similarity.ivfPqTopK(qs, "vec_id", "embedding", emb,
      "vec_id", "embedding", cb, k = 5, nCentroids = 8, nProbe = 8,
      rounds = 1))
    assert(ivf == flat) // exhaustive probing ⇒ identical ADC top-k
  }

  test("farthestPointSample: hand-computed greedy order and radii") {
    def v(a: Float, b: Float, c: Float, dd: Float) = Array(a, b, c, dd)
    val corpus = Seq(
      (1L, v(0, 0, 0, 127)), (2L, v(127, 0, 0, 127)),
      (3L, v(64, 0, 0, 127)), (4L, v(127, 127, 0, 127))).toDF("id", "vec")
    val got = Similarity.farthestPointSample(corpus, "id", "vec", k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Long])))
    // seed 1; then 4 (d2 32258), then 2 (16129), then 3 (3969)
    assert(got.toSeq == Seq((1L, 1L, None), (2L, 4L, Some(32258L)),
      (3L, 2L, Some(16129L)), (4L, 3L, Some(3969L))))
    // k larger than the corpus: returns every point once, no repeat
    val all5 = Similarity.farthestPointSample(corpus, "id", "vec", k = 9)
      .collect().map(_.getLong(1))
    assert(all5.length == 4 && all5.toSet.size == 4)
  }

  test("vocabGrowth: cumulative tokens and distinct vocab per doc") {
    val df = Seq((1L, "a b a"), (2L, null: String), (3L, "b c"),
      (4L, "c d a")).toDF("doc_id", "text")
    val got = TextAnalysis.vocabGrowth(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got(1L) == ((3L, 2L, 3L, 2L)))   // a,b new
    assert(got(2L) == ((0L, 0L, 3L, 2L)))   // empty doc: zeros carry
    assert(got(3L) == ((2L, 1L, 5L, 3L)))   // c new
    assert(got(4L) == ((3L, 1L, 8L, 4L)))   // d new
  }
}
