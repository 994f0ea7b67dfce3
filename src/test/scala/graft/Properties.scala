package graft

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.{forAll, propBoolean}
import org.apache.spark.sql.functions._

/** Property-based invariants (SURVEY.md §5.2): profile partitioning,
  * SCD2 single-current, cleaning idempotence — over generated data.
  * Kept to few, small Spark jobs per property (maxSize bounded). */
object GraftProperties extends Properties("graft") {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val cellGen: Gen[String] = Gen.oneOf(
    Gen.alphaNumStr.map(s => s" $s "),
    Gen.const(""),
    Gen.const("   "),
    Gen.const("ND1"),
    Gen.const("ND5,extra"),
    Gen.const("No Collateral"),
    Gen.alphaStr.map(_.toUpperCase),
    Gen.const("MiXeD cAsE"),
  )

  property("cleanCell is idempotent and lowercases") =
    forAll(Gen.listOfN(12, cellGen)) { cells =>
      val df = cells.toDF("c")
      val once = df.select(io.CleanCsv.cleanCell($"c").as("v"))
      val twice = once.select(io.CleanCsv.cleanCell($"v").as("v"))
      val a = once.as[Option[String]].collect().toSeq
      val b = twice.as[Option[String]].collect().toSeq
      a == b && a.forall(_.forall(v => v == v.toLowerCase.trim))
    }

  private val rowGen = for {
    pk <- Gen.choose(1, 5)
    payload <- Gen.alphaNumStr
  } yield (s"2023-07-31", s"pool$pk", payload)

  property("profile: good ∪ bad = input and disjoint") =
    forAll(Gen.listOfN(8, Gen.oneOf(
      ("ok", "y", "1.5"), ("bad-enum", "zzz", "1.5"),
      ("bad-num", "y", "abc"), (null, "y", "2")))) { rows =>
      val df = rows.toDF("a", "b", "c")
      val schema = Map(
        "a" -> quality.Rules.ColumnRule(quality.Rules.TString),
        "b" -> quality.Rules.ColumnRule(quality.Rules.TString,
          allowed = Some(Seq("y", "n"))),
        "c" -> quality.Rules.ColumnRule(quality.Rules.TNumber, coerce = true))
      val (good, bad) = quality.Rules.profile(df, schema)
      good.count() + bad.count() == rows.size &&
        good.intersect(bad).isEmpty
    }

  property("scd2: exactly one current row per PK after any merge chain") =
    forAll(Gen.listOfN(3, Gen.listOfN(4, rowGen))) { snapshots =>
      def bronze(rows: Seq[(String, String, String)]) = {
        // merge precondition: one row per PK within a snapshot
        val unique = rows.groupBy(r => (r._1, r._2)).map(_._2.head).toSeq
        val df = unique.toDF("AL1", "AL2", "payload")
          .withColumn("pcd", lit("2023-07-31"))
          .withColumn("ed_code", lit("D1"))
        io.CleanCsv.withBookkeeping(df, "assets")
      }
      val merged = snapshots.map(bronze).reduceLeft(
        (acc, next) => scd2.Scd2.merge(acc, next, "assets"))
      val counts = merged.filter($"iscurrent" === 1)
        .groupBy("AL1", "AL2").count()
        .select("count").as[Long].collect()
      counts.forall(_ == 1L)
    }

  private val textGen: Gen[String] = for {
    n <- Gen.choose(0, 12)
    words <- Gen.listOfN(n, Gen.oneOf("alpha", "beta", "gamma", "x", "räksmörgås", ""))
  } yield words.mkString(" ")

  property("WordShingles == interpreted HOF form") =
    forAll(Gen.listOfN(6, textGen)) { texts =>
      val df = texts.toDF("t")
      val toks = split($"t", " ")
      val hof = array_distinct(transform(
        sequence(lit(0), greatest(size(toks) - 3, lit(0))),
        i => concat_ws(" ", slice(toks, i + 1, lit(3)))))
      df.select(
          ext.Dedup.shingles($"t", 3).as("native"), hof.as("hof"))
        .collect()
        .forall(r => r.getSeq[String](0) == r.getSeq[String](1))
    }

  property("TokenNgrams == interpreted non-empty-token HOF form") =
    forAll(Gen.listOfN(6, textGen), Gen.choose(1, 4)) { (texts, n) =>
      val df = texts.toDF("t")
      val toks = filter(split($"t", " "), x => x =!= "")
      val hof = when(size(toks) < n, array().cast("array<string>"))
        .otherwise(transform(sequence(lit(0), size(toks) - n),
          i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
      df.select(functions.TokenNgrams.tokenNgrams($"t", n).as("native"),
          hof.as("hof"))
        .collect()
        .forall(r => r.getSeq[String](0) == r.getSeq[String](1))
    }

  property("IntersectCount == size(array_intersect) on arbitrary string arrays") =
    // includes NULL elements: ArrayIntersect counts a shared null once
    forAll(Gen.listOfN(4,
      Gen.listOf(Gen.oneOf("a", "b", "cc", "dd", "e f", "", "a",
        null.asInstanceOf[String])))) { lists =>
      val rows = lists.map(l => Tuple2(l, lists.headOption.getOrElse(Nil)))
      val df = rows.toDF("x", "y")
      df.select(
          functions.IntersectCount.intersectCount($"x", $"y").as("native"),
          size(array_intersect($"x", $"y")).cast("long").as("hof"))
        .collect()
        .forall(r => r.getLong(0) == r.getLong(1))
    }

  property("MinHashArray per-row == MinHashAgg over exploded rows") =
    forAll(Gen.listOfN(5, Gen.listOf(
      Gen.oneOf("aa bb", "cc", "dd ee ff", "gg", "hh ii")))) { lists =>
      val k = 16
      val rows = lists.zipWithIndex.map { case (l, i) =>
        (i.toLong, l.distinct)
      }.filter(_._2.nonEmpty) // agg drops empty groups; array form doc'd
      rows.isEmpty || {
        val df = rows.toDF("id", "shs")
        val perRow = df.select($"id",
            functions.MinHashArray.minhashArray($"shs", k).as("sig"))
          .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
        val agg = df.select($"id", explode($"shs").as("sh"))
          .groupBy("id")
          .agg(functions.MinHashAgg.minhash($"sh", k).as("sig"))
          .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
        perRow == agg
      }
    }

  property("SimHash64 native == interpreted HOF form") =
    forAll(Gen.listOfN(6, textGen)) { texts =>
      texts.toDF("t")
        .select(ext.Dedup.simhash64($"t").as("native"),
          HofReference.simhash64Hof($"t").as("hof"))
        .collect()
        .forall(r => r.getLong(0) == r.getLong(1))
    }

  property("Transliterate: ASCII-identity, output always ASCII-or-unmapped, idempotent") =
    forAll(Gen.listOfN(6, Gen.oneOf(
      Gen.asciiPrintableStr,
      Gen.oneOf("Ärgerißt", "αβγ δε", "Жизнь Ёж", "mixed Łódź ascii",
        "“quoted” – dash … €100 ½",
        "non\u00A0breaking\u200B spaces \u00AB\u00BB")))) { gens =>
      val texts = gens.map(_.toString)
      val df = texts.toDF("t")
      val tr = functions.Transliterate.transliterate _
      val out = df.select($"t", tr($"t").as("o"), tr(tr($"t")).as("oo")).collect()
      out.forall { r =>
        val t = r.getString(0); val o = r.getString(1); val oo = r.getString(2)
        val asciiIdentity = !t.forall(_ < 0x80) || o == t
        // every fixture sample is fully table-covered → pure-ASCII out
        asciiIdentity && o.forall(_ < 0x80) && o == oo
      }
    }

  property("prefix-filtered Jaccard pairs == brute-force pair set") =
    forAll(Gen.listOfN(6, textGen.suchThat(_.nonEmpty))) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val fast = ext.Dedup.ngramJaccardPairs(df, "doc_id", "text", 2, 0.3)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          math.round(r.getDouble(2) * 1e9))).toSet
      // brute force: all pairs, exact jaccard over distinct 2-gram sets
      def sh(t: String): Set[String] = {
        val toks = t.split(" ", -1)
        (0 to math.max(toks.length - 2, 0))
          .map(i => toks.slice(i, math.min(i + 2, toks.length)).mkString(" "))
          .toSet
      }
      val sets = texts.map(sh).zipWithIndex
      val brute = (for {
        (a, i) <- sets; (b, j) <- sets if i < j
        inter = (a & b).size
        jac = inter.toDouble / (a.size + b.size - inter)
        if jac >= 0.3
      } yield (i.toLong, j.toLong, math.round(jac * 1e9))).toSet
      fast == brute
    }

  property("Bpe.mergeSegs: concatenation preserved, no (a,b) adjacency left") =
    forAll(Gen.listOf(Gen.oneOf("a", "b", "c", "ab"))) { segs =>
      val merged = ext.Bpe.mergeSegs(segs, "a", "b")
      val sameText = merged.mkString == segs.mkString
      // left-to-right non-overlap: no adjacent ("a","b") can survive
      val noPair = !merged.sliding(2).exists(w =>
        w.length == 2 && w(0) == "a" && w(1) == "b")
      sameText && noPair && merged.length <= segs.length
    }

  property("Redact.luhnValid expression == Scala reference on random digit runs") = {
    def refLuhn(s: String): Boolean =
      s.length >= 2 && s.length <= 19 && {
        val total = s.reverse.zipWithIndex.map { case (c, i) =>
          val d = c - '0'
          if (i % 2 == 1) { val t = d * 2; if (t > 9) t - 9 else t } else d
        }.sum
        total % 10 == 0
      }
    val numGen = Gen.choose(1, 21).flatMap(n =>
      Gen.listOfN(n, Gen.numChar).map(_.mkString))
    forAll(Gen.listOfN(8, numGen)) { nums =>
      val got = nums.toDF("n")
        .select(ext.Redact.luhnValid(col("n")).as("ok"))
        .as[Boolean].collect().toSeq
      got == nums.map(refLuhn)
    }
  }

  property("Bpe.encode expression == sequential mergeSegs reference") = {
    // same adversarial alphabet as the train property: heavy overlaps
    // (aa/ab/bb products, repeated letters) stress the fold-vs-scan
    // equivalence the expression form relies on
    val wordGen = Gen.choose(1, 7).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("a", "b", "c")).map(_.mkString))
    val textGen = Gen.choose(1, 5).flatMap(n =>
      Gen.listOfN(n, wordGen).map(_.mkString(" ")))
    val rulesGen = Gen.listOfN(3, Gen.zip(
      Gen.oneOf("a", "b", "c", "ab", "bc"), Gen.oneOf("a", "b", "c")))
    forAll(textGen, rulesGen) { (text, rules) =>
      val got = ext.Bpe.encode(Seq(text).toDF("text"), "text", rules)
        .select("tokens").as[Seq[String]].collect()(0)
      val want = text.split(" ").filter(_.nonEmpty).toSeq.flatMap { w =>
        var segs: Seq[String] = w.split("").toSeq
        rules.foreach { case (a, b) => segs = ext.Bpe.mergeSegs(segs, a, b) }
        segs
      }
      got == want
    }
  }

  property("Bpe.train: batched merge selection == sequential on random corpora") = {
    // adversarial alphabet: few letters → heavy pair-frequency ties,
    // products colliding with later candidates — the cases the
    // selectBatch cut/collision guards exist for
    val wordGen = Gen.choose(1, 6).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("a", "b", "c")).map(_.mkString))
    val corpusGen = Gen.choose(3, 10).flatMap(n => Gen.listOfN(n, wordGen))
    forAll(corpusGen) { words =>
      val df = Seq(words.mkString(" ")).toDF("text")
      ext.Bpe.train(df, "text", merges = 5, batch = 4) ==
        ext.Bpe.train(df, "text", merges = 5, batch = 1)
    }
  }

  property("ZOrder.zValue: bijective interleave (de-interleaves back)") =
    forAll(Gen.choose(0L, 0xFFFFL), Gen.choose(0L, 0xFFFFL)) { (x, y) =>
      val z = Seq((x, y)).toDF("x", "y")
        .select(io.ZOrder.zValue($"x", $"y", 16).as("z"))
        .head().getLong(0)
      def bits(v: Long, offset: Int): Long =
        (0 until 16).map(i => ((v >> (2 * i + offset)) & 1L) << i).reduce(_ | _)
      bits(z, 0) == x && bits(z, 1) == y
    }

  property("native graft_topk == sort-and-take brute force") =
    forAll(Gen.listOfN(24,
      Gen.zip(Gen.choose(0L, 3L), Gen.choose(-50, 50), Gen.choose(0L, 999L)))) { rows =>
      val df = rows.map { case (g, v, id) => (g, v.toDouble, id) }
        .toDF("g", "v", "id").repartition(4) // force the merge path
      val native = df.groupBy($"g")
        .agg(functions.TopKAgg.topk($"v", $"id", 3).as("top"))
        .collect().map(r => r.getLong(0) ->
          r.getSeq[org.apache.spark.sql.Row](1)
            .map(p => (p.getDouble(0), p.getLong(1))).toList).toMap
      // identical (v,id) duplicates tie completely, so the rank lists
      // match element-for-element
      val brute = rows.groupBy(_._1).map { case (g, rs) =>
        g -> rs.map(r => (r._2.toDouble, r._3))
          .sortBy(p => (-p._1, p._2)).take(3).toList
      }
      native == brute
    }

  property("intervalCoverage == driver-side sweep on random intervals") = {
    val ivGen = for {
      s <- Gen.choose(0L, 2000L)
      len <- Gen.choose(0L, 400L)
      tb <- Gen.choose(0, 1000000)
    } yield (s, s + len, tb.toString)
    forAll(Gen.listOfN(12, ivGen)) { ivs =>
      val base = 1700000000000000L // µs epoch anchor
      val df = ivs.zipWithIndex.map { case ((s, e, tb), i) =>
        (1L, new java.sql.Timestamp((base + s * 1000000L) / 1000),
          new java.sql.Timestamp((base + e * 1000000L) / 1000), s"$tb-$i")
      }.toDF("k", "s", "e", "tb")
      val got = ext.Temporal.intervalCoverage(df, "k", "s", "e", "tb")
        .collect().headOption
        .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
      // driver-side sweep over the same integer-second spans
      val sorted = ivs.map { case (s, e, _) => (s, e) }.sortBy(identity)
      val (islands, cov, _) = sorted.foldLeft((0L, 0L, Long.MinValue)) {
        case ((isl, c, hi), (s, e)) =>
          if (s > hi) (isl + 1, c + (e - s), e.max(hi))
          else (isl, c + (e.max(hi) - hi), e.max(hi))
      }
      got.contains((ivs.length.toLong, islands, cov * 1000000L))
    }
  }

  property("rrfFuse == driver-side reference on random rankings") = {
    val rkGen = Gen.choose(2, 8).flatMap(n =>
      Gen.pick(n, 0L until 20L).map(_.toSeq))
    forAll(rkGen, rkGen) { (la, lb) =>
      val a = la.zipWithIndex.map { case (id, i) => (id, i + 1) }
      val b = lb.zipWithIndex.map { case (id, i) => (id, i + 1) }
      val got = ext.Index.rrfFuse(
          Seq(a.toDF("id", "rank"), b.toDF("id", "rank")), k = 60, topN = 50)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      val contrib = (a ++ b).groupBy(_._1).map { case (id, rs) =>
        (id, rs.map(r => 1000000000L / (60 + r._2)).sum, rs.size.toLong)
      }.toSeq
      val want = contrib.sortBy(t => (-t._2, t._1)).take(50)
      got == want
    }
  }

  property("spearmanComponents == BigInt brute force with average ranks") = {
    val pairGen = Gen.listOfN(10,
      Gen.zip(Gen.choose(-5, 5), Gen.choose(-5, 5)))
    forAll(pairGen) { pts =>
      val df = pts.toDF("x", "y").repartition(3)
      val r = ext.Profile.spearmanComponents(df, col("x"), col("y"))
        .collect().head
      def rank2(vs: Seq[Int]): Seq[BigInt] = vs.map { v =>
        BigInt(2 * vs.count(_ < v) + vs.count(_ == v) + 1)
      }
      val rx = rank2(pts.map(_._1)); val ry = rank2(pts.map(_._2))
      val n = BigInt(pts.length)
      val (sx, sy) = (rx.sum, ry.sum)
      val sxx = rx.map(v => v * v).sum; val syy = ry.map(v => v * v).sum
      val sxy = rx.zip(ry).map { case (a, b) => a * b }.sum
      BigInt(r.getDecimal(1).toBigInteger) == n * sxy - sx * sy &&
        BigInt(r.getDecimal(2).toBigInteger) == n * sxx - sx * sx &&
        BigInt(r.getDecimal(3).toBigInteger) == n * syy - sy * sy
    }
  }

  property("trimmedMean == sorted-slice reference on random groups") = {
    val gen = Gen.listOfN(12,
      Gen.zip(Gen.oneOf("g1", "g2"), Gen.choose(-100L, 100L)))
    forAll(gen, Gen.choose(0L, 400000L)) { (rows, alpha) =>
      val df = rows.toDF("g", "v").repartition(3)
      val got = ext.Profile.trimmedMean(df, "g", col("v"), alpha)
        .collect().map(r => r.getString(0) ->
          ((r.getLong(3), r.getDecimal(4).longValue))).toMap
      rows.groupBy(_._1).forall { case (g, grp) =>
        val sorted = grp.map(_._2).sorted
        val k = (sorted.length * alpha / 1000000L).toInt
        val kept = sorted.slice(k, sorted.length - k)
        got(g) == ((kept.length.toLong, kept.sum))
      }
    }
  }

  property("mannKendall == BigInt brute force on random hourly series") = {
    val gen = Gen.listOfN(8, Gen.choose(-30, 30))
    forAll(gen) { vs =>
      val rows = vs.zipWithIndex.map { case (v, i) =>
        ("k", java.sql.Timestamp.valueOf(f"2024-01-01 ${i}%02d:30:00"),
          v / 100.0)
      }
      val df = rows.toDF("k", "ts", "value").repartition(3)
      val r = ext.Temporal.mannKendall(df, "k", "ts", col("value"))
        .collect().head
      val s = (for (i <- vs.indices; j <- vs.indices if i < j)
        yield (vs(j) compare vs(i)).sign).sum
      val n = BigInt(vs.length)
      val tie18 = vs.groupBy(identity).values
        .map(g => BigInt(g.size) * (g.size - 1) * (2 * g.size + 5)).sum
      val var18 = n * (n - 1) * (2 * n + 5) - tie18
      r.getLong(1) == vs.length.toLong &&
        r.getLong(3) == s.toLong && r.getLong(4) == var18.toLong
    }
  }

  property("inversions == brute-force pair count, nulls skipped") = {
    val gen = Gen.listOfN(40, Gen.oneOf(
      Gen.const(None), Gen.choose(-5L, 5L).map(Some(_))))
    forAll(gen) { vs =>
      val df = Seq(Tuple1(vs)).toDF("a")
        .select(graft.functions.VectorExpressions.inversions(col("a")))
      val nn = vs.flatten
      val expect = (for (i <- nn.indices; j <- nn.indices
        if i < j && nn(i) > nn(j)) yield 1).size.toLong
      df.collect().head.getLong(0) == expect
    }
  }

  property("rankBiasedOverlap == weighted replay; bounded in [0, 10^6]") = {
    val listGen = Gen.listOfN(6, Gen.choose(1L, 12L)).map(_.distinct)
    forAll(Gen.zip(listGen, listGen)) { case (la, lb) =>
      (la.nonEmpty && lb.nonEmpty) ==> {
        def ranked(items: Seq[Long]) = items.zipWithIndex
          .map { case (it, p) => (it, (p + 1).toLong) }.toDF("item", "rank")
        val k = 6
        val r = ext.Eval.rankBiasedOverlap(ranked(la), ranked(lb),
          "item", "rank", k).collect().head
        val weights = Seq.iterate(1000000000000000000L, k)(w => w * 9 / 10)
        val ra = la.zipWithIndex.toMap; val rb = lb.zipWithIndex.toMap
        val ms = la.toSet.intersect(lb.toSet).toSeq
          .map(i => math.max(ra(i), rb(i)) + 1)
        val sRef = (1 to k).map { d =>
          val inter = ms.count(_ <= d)
          BigInt(weights(d - 1)) * inter / d
        }.sum
        val rbo = (sRef / BigInt(10000000000000L)).toLong
        r.getAs[Long]("n_joint") == ms.size.toLong &&
          r.getAs[Long]("rbo_ppm") == rbo &&
          rbo >= 0L && rbo <= 1000000L
      }
    }
  }

  property("theilSen == brute-force lower-median pairwise slope") = {
    val gen = Gen.listOfN(6, Gen.choose(-40, 40))
    forAll(gen) { vs =>
      val rows = vs.zipWithIndex.map { case (v, i) =>
        ("k", java.sql.Timestamp.valueOf(f"2024-01-01 ${i}%02d:15:00"),
          v / 100.0)
      }
      val df = rows.toDF("k", "ts", "value").repartition(3)
      val r = ext.Temporal.theilSen(df, "k", "ts", col("value"))
        .collect().head
      val slopes = (for (i <- vs.indices; j <- vs.indices if i < j)
        yield ((vs(j) - vs(i)).toLong, (j - i).toLong))
        .sortBy { case (n, d) => (n.toDouble / d, n, d) }
      val (mn, md) = slopes((slopes.size + 1) / 2 - 1)
      r.getLong(1) == slopes.size.toLong && r.getLong(2) == mn &&
        r.getLong(3) == md && r.getLong(4) == {
          val q = BigInt(mn) * 1000 / md // BigInt / truncates toward zero
          q.toLong
        }
    }
  }

  property("theilSen span cap == brute force over the coarsened series") = {
    // 10 hourly buckets, maxBuckets = 4 ⇒ stride s = ceil(10/4) = 3:
    // coarse buckets {0,1,2,3}, sums within, den in HOURS (steps × 3)
    val gen = Gen.listOfN(10, Gen.choose(-40, 40))
    forAll(gen) { vs =>
      val rows = vs.zipWithIndex.map { case (v, i) =>
        ("k", java.sql.Timestamp.valueOf(f"2024-01-01 ${i}%02d:15:00"),
          v / 100.0)
      }
      val df = rows.toDF("k", "ts", "value").repartition(3)
      val r = ext.Temporal.theilSen(df, "k", "ts", col("value"),
        maxBuckets = 4).collect().head
      val s = 3L
      val cv = vs.grouped(3).map(_.map(_.toLong).sum).toIndexedSeq
      val slopes = (for (i <- cv.indices; j <- cv.indices if i < j)
        yield (cv(j) - cv(i), (j - i) * s))
        .sortBy { case (n, d) => (n.toDouble / d, n, d) }
      val (mn, md) = slopes((slopes.size + 1) / 2 - 1)
      val inert = ext.Temporal.theilSen(df, "k", "ts", col("value"),
        maxBuckets = 16).collect().head
      val dflt = ext.Temporal.theilSen(df, "k", "ts", col("value"))
        .collect().head
      r.getLong(1) == slopes.size.toLong && r.getLong(2) == mn &&
        r.getLong(3) == md &&
        r.getLong(4) == (BigInt(mn) * 1000 / md).toLong &&
        inert.toSeq == dflt.toSeq // above-span caps are the identity
    }
  }

  property("cusumChangepoint == BigInt replay of n*cum - i*T") = {
    val gen = Gen.listOfN(6, Gen.choose(-40, 40))
    forAll(gen) { vs =>
      vs.nonEmpty ==> {
        val rows = vs.zipWithIndex.map { case (v, i) =>
          (3L, java.sql.Timestamp.valueOf(f"2024-01-01 00:${i}%02d:00"),
            (i + 1).toLong, v / 100.0)
        }
        val df = rows.toDF("k", "ts", "eid", "value").repartition(2)
        val r = ext.Temporal.cusumChangepoint(df, "k", "ts", "eid",
          col("value")).collect().head
        val n = BigInt(vs.length); val t = BigInt(vs.sum)
        val devs = vs.scanLeft(BigInt(0))(_ + _).tail.zipWithIndex
          .map { case (cum, i) => (n * cum - BigInt(i + 1) * t, i) }
        val best = devs.maxBy { case (d, i) => (d.abs, -i) }
        r.getAs[Long]("dev_scaled") == best._1.toLong
      }
    }
  }

  property("mergeRetrievedChunks == brute-force island partition") = {
    val gen = Gen.zip(
      Gen.listOf(Gen.choose(0L, 15L)).map(_.distinct), Gen.choose(0, 3))
    forAll(gen) { case (idxs, maxGap) =>
      idxs.nonEmpty ==> {
        val df = idxs.map(i => (1L, i, 5L)).toDF("d", "i", "t")
        val got = ext.Chunk.mergeRetrievedChunks(df, "d", "i", "t", maxGap)
          .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
          .toSet
        val sorted = idxs.sorted
        val spans = sorted.tail.foldLeft(List(List(sorted.head))) {
          (acc, i) =>
            if (i - acc.head.head <= maxGap + 1) (i :: acc.head) :: acc.tail
            else List(i) :: acc
        }.map(_.reverse)
        val expect = spans.map(s =>
          (s.head, s.last, s.size.toLong)).toSet
        got == expect
      }
    }
  }

  property("SlidingMin == brute-force window minima on random arrays") = {
    val gen = Gen.zip(Gen.listOf(Gen.choose(-50L, 50L)), Gen.choose(1, 6))
    forAll(gen) { case (xs, w) =>
      val df = Seq(Tuple1(xs)).toDF("a")
      val got = df.select(
        graft.functions.VectorExpressions.sliding_min(col("a"), w))
        .collect().head.getSeq[Long](0)
      val expect =
        if (xs.isEmpty) Seq.empty[Long]
        else if (xs.length < w) Seq(xs.min)
        else xs.sliding(w).map(_.min).toSeq
      got == expect
    }
  }

  property("SlidingMin: null elements act as +infinity, never NPE") = {
    val gen = Gen.zip(
      Gen.listOf(Gen.option(Gen.choose(-50L, 50L))), Gen.choose(1, 4))
    forAll(gen) { case (xs, w) =>
      val df = Seq(Tuple1(xs)).toDF("a")
      val got = df.select(
        graft.functions.VectorExpressions.sliding_min(col("a"), w))
        .collect().head.getSeq[Long](0)
      def mn(win: Seq[Option[Long]]): Long =
        win.flatten.minOption.getOrElse(Long.MaxValue)
      val expect =
        if (xs.isEmpty) Seq.empty[Long]
        else if (xs.length < w) Seq(mn(xs))
        else xs.sliding(w).map(mn).toSeq
      got == expect
    }
  }

  property("winsorizedMean == sorted-clip reference on random groups") = {
    val gen = Gen.listOfN(12,
      Gen.zip(Gen.oneOf("g1", "g2"), Gen.choose(-100L, 100L)))
    forAll(gen, Gen.choose(0L, 400000L)) { (rows, alpha) =>
      val df = rows.toDF("g", "v").repartition(3)
      val got = ext.Profile.winsorizedMean(df, "g", col("v"), alpha)
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
          r.getDecimal(3).longValue, r.getLong(4)))).toMap
      rows.groupBy(_._1).forall { case (g, grp) =>
        val sorted = grp.map(_._2).sorted
        val n = sorted.length
        val k = (n * alpha / 1000000L).toInt
        val clipped = sorted.zipWithIndex.map { case (v, i) =>
          if (i < k) sorted(k)
          else if (i >= n - k) sorted(n - k - 1)
          else v
        }
        // Scala Long division truncates toward zero — same as truncDiv
        got(g) == ((n.toLong, k.toLong, clipped.sum, clipped.sum / n))
      }
    }
  }

  property("quantileMap: monotone and self-map is the identity") = {
    val gen = Gen.listOfN(8, Gen.choose(-20L, 20L))
      .suchThat(_.nonEmpty)
    forAll(gen, gen) { (ref, src) =>
      val rdf = ref.toDF("v"); val sdf = src.toDF("v")
      val rows = ext.Profile.quantileMap(rdf, sdf, col("v"))
        .orderBy("v_src").collect()
        .map(r => (r.getLong(0), r.getLong(2)))
      val monotone = rows.sliding(2).forall {
        case Array((_, m1), (_, m2)) => m1 <= m2
        case _ => true
      }
      val self = ext.Profile.quantileMap(rdf, rdf, col("v"))
        .collect().forall(r => r.getLong(0) == r.getLong(2))
      monotone && self && rows.forall { case (_, m) => ref.contains(m) }
    }
  }

  property("decileLift conserves rows/positives; buckets in range") = {
    val gen = Gen.listOfN(16,
      Gen.zip(Gen.choose(0L, 6L), Gen.oneOf(true, false)))
    forAll(gen) { rows =>
      val df = rows.toDF("s", "y").repartition(4)
      val got = ext.Eval.decileLift(df, col("s"), col("y"), buckets = 4)
        .collect()
      got.map(_.getLong(1)).sum == rows.length &&
        got.map(_.getLong(2)).sum == rows.count(_._2) &&
        got.forall(r => r.getLong(0) >= 0 && r.getLong(0) < 4)
    }
  }

  property("bloomSemiJoin == exact semi join under dense false positives") = {
    val gen = Gen.listOfN(10, Gen.choose(0L, 300L))
    forAll(gen) { keys =>
      val big = spark.range(120).toDF("id")
      val small = keys.toDF("k")
      val got = ext.BloomJoin.bloomSemiJoin(big, small, "id", "k",
          m = 64, h = 2)
        .collect().map(_.getLong(0)).toSet
      got == keys.filter(_ < 120).toSet
    }
  }

  property("Redact.scrub removes every planted PII occurrence") = {
    val piiGen = Gen.oneOf(
      Gen.alphaLowerStr.suchThat(_.nonEmpty).map(u => s"$u@example.org"),
      Gen.choose(0, 255).map(n => s"10.$n.0.1"),
      Gen.choose(100, 999).map(n => s"+1-555-$n-999"))
    forAll(Gen.listOfN(3, piiGen), Gen.alphaLowerStr) { (pii, filler) =>
      val text = (filler +: pii).mkString(" ")
      val out = Seq(text).toDF("text")
        .select(ext.Redact.scrub($"text").as("t")).head().getString(0)
      val counts = Seq(out).toDF("t")
        .select(ext.Redact.counts($"t"): _*).head()
      (0 until 3).forall(counts.getInt(_) == 0) &&
        !out.contains("@example.org")
    }
  }
}
