package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (north-star extension).
  *
  * Two paths:
  *  - brute-force cosine top-k: exact, one broadcast of the (small)
  *    query set against a corpus scan — linear in corpus size, the
  *    correctness baseline;
  *  - hyperplane-LSH bucketed top-k: sign-bit sketch over
  *    deterministic pseudo-random hyperplanes; candidates must share
  *    the full sketch (or a band of it), cutting the scanned corpus by
  *    ~2^bits. The scale path for 100 TB corpora: bucket join instead
  *    of cross join, with recall controlled by bits/bands.
  *
  * Floating-point contract: all arithmetic is double-precision with a
  * FIXED operation order — elementwise products summed left-to-right
  * (aggregate over zip_with), cosine = dot / (sqrt(na) * sqrt(nb)) —
  * so results are bit-reproducible across engines that mirror the
  * order (the DuckDB oracle does).
  */
object Similarity {

  /** Element products summed in index order, double precision.
    * Backed by the codegen'd native expression
    * [[graft.functions.DotProduct]] — same operation order as the
    * higher-order-function form (`aggregate(zip_with(...))`), ~two
    * orders of magnitude faster in O(n²) pair joins because the loop
    * participates in whole-stage codegen instead of interpreting two
    * lambdas per element. */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.dot_product(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Per-group embedding centroids in long form: one (group, pos,
    * centroid) row per vector dimension — corpus statistics for
    * cluster drift / quantizer seeding. One posexplode + one
    * map-side-combined aggregation; the per-dimension sums are pinned
    * to DECIMAL(27,10) so the result is identical under any
    * partitioning (and engine — a double's decimal expansion can
    * never land exactly on a half at a decimal rounding boundary, so
    * rounding-mode differences cannot bite). */
  def centroids(df: DataFrame, group: String, vec: String): DataFrame =
    df.select(col(group), posexplode(col(vec)).as(Seq("pos", "v")))
      .groupBy(col(group), col("pos"))
      .agg((sum(col("v").cast("double").cast("decimal(27,10)")).cast("double") /
        count(lit(1))).as("centroid"))

  /** Gram-matrix sufficient statistics of an int8-quantized embedding
    * corpus: ONE row holding n, the per-dimension sums Σq_i, and the
    * flattened dims×dims Gram Σq_i·q_j — everything PCA/whitening/
    * covariance needs (cov_ij ∝ n·gram_ij − sums_i·sums_j, exact
    * integers; the driver-side eigensolve over a dims² matrix is then
    * trivial and deterministic). Quantizing first ([[int8Quantize]])
    * makes every product an exact integer: |q_i·q_j| ≤ 127², so the
    * Gram sums are bit-identical under any partitioning for up to
    * ~5·10¹⁴ rows.
    *
    * Plan shape: the outer product is an in-row nested `transform`
    * (dims² longs per row, no explode); the reduction is one
    * [[graft.functions.VectorSumAgg]] group-all aggregate whose
    * partial buffers combine map-side — the shuffle carries one
    * dims²-long buffer per partition, NOT dims²·rows exploded rows.
    * The corpus is scanned once and never shuffled. */
  def int8Gram(df: DataFrame, vec: String, dims: Int): DataFrame = {
    require(dims >= 1 && dims <= 1024, "dims must be in [1, 1024]")
    val q = int8Quantize(col(vec)).getField("q")
    val rows = df.select(q.as("_q"))
    // r13: the outer product folds NATIVELY into the aggregate buffer
    // (graft_vecoutersum) — the previous vecSum(flatten(transform(
    // transform))) composition ran dims+1 interpreted HOF lambdas and
    // materialized a dims²-long array per row just to fold it away
    // (bit-identity pinned in R13OptSpec)
    rows.agg(
      count(lit(1)).as("n"),
      graft.functions.VectorSumAgg.vecSum(col("_q"), dims).as("sums"),
      graft.functions.VectorSumAgg.vecOuterSum(col("_q"), dims).as("gram"))
  }

  /** Dominant principal direction of the embedding corpus by EXACT
    * integer power iteration on the [[int8Gram]] matrix — the
    * whitening/ANN-rotation axis ("which way does this corpus point")
    * without any float eigensolver, so the answer is bit-identical
    * across engines, partitionings and hardware.
    *
    * v₀ = e₁; each round computes w = G·v as in-row HOFs over the
    * 1-row Gram array (no shuffle — the corpus was already reduced to
    * dims² longs by [[int8Gram]]) and renormalizes v ←
    * trunc(w·10⁶ / max|w|) elementwise ([[IntMath.truncDiv]] —
    * toward zero, the semantics DuckDB's integer `//` applies to
    * negative numerators). The per-round renormalization is the
    * overflow guard: entries stay ≤ 10⁶, so a round's products are
    * ≤ |G|ₘₐₓ·10⁶·dims ≤ 127²·n·dims·10⁶ — exact in DECIMAL(38,0)
    * for n·dims up to ~6·10²⁴ rows·dims, i.e. any corpus. Output is
    * one (dim, v_ppm) row per dimension, v_ppm ∈ [−10⁶, 10⁶] with
    * max|v_ppm| = 10⁶ (sign convention: whatever the iteration
    * converged to — deterministic, since there is no randomness).
    *
    * Scale shape: one [[int8Gram]] scan-and-reduce; everything after
    * runs on the dims²-cell Gram frame (materialized once —
    * localCheckpoint — so the corpus is scanned exactly once), each
    * round one broadcast equi-join + map-combined groupBy over ≤
    * dims² rows with the renormalizer crossing as a 1-row broadcast.
    * `iters` is fixed and small (power iteration converges
    * geometrically in λ₂/λ₁; 3 rounds separate any non-degenerate
    * spectrum's direction to ppm scale). */
  def principalDirection(df: DataFrame, vec: String, dims: Int,
                         iters: Int = 3): DataFrame = {
    require(iters >= 1 && iters <= 8, "iters must be in [1, 8]")
    val spark = df.sparkSession
    val cells = int8Gram(df, vec, dims)
      .select(posexplode(col("gram")).as(Seq("_idx", "_g")))
      .select((col("_idx") / dims).cast("int").as("_i"),
        pmod(col("_idx"), lit(dims)).cast("int").as("_j"), col("_g"))
      .localCheckpoint()
    val v0 = spark.range(dims).select(col("id").cast("int").as("_j"),
      when(col("id") === 0, lit(1000000L)).otherwise(lit(0L)).as("_v"))
    // w_i = Σ_j G[i,j]·v_j; G as DECIMAL(28,0) × v as DECIMAL(10,0)
    // ppm units keeps every product exact inside DECIMAL(38,0) (see
    // overflow bound above); then v ← trunc(w·10⁶ / max|w|)
    val vFinal = (1 to iters).foldLeft(v0) { (v, _) =>
      val w = cells.join(broadcast(v), Seq("_j"))
        .groupBy(col("_i"))
        .agg(sum(col("_g").cast("decimal(28,0)") *
          col("_v").cast("decimal(10,0)")).as("_w"))
      val mx = w.agg(max(abs(col("_w"))).as("_mx"))
      w.crossJoin(broadcast(mx))
        .select(col("_i").as("_j"),
          IntMath.truncDiv(col("_w") * lit(1000000L), col("_mx")).as("_v"))
    }
    vFinal.select(col("_j").cast("long").as("dim"), col("_v").as("v_ppm"))
  }

  /** Embedding isotropy diagnostic — the "anisotropy problem" check
    * run before trusting cosine similarity on a new embedding model:
    * mean_offset_ppm = 10⁶·‖Σq‖²/(n·Σ‖q‖²) measures how far the
    * cloud's centroid sits from the origin relative to the vectors'
    * own energy (Cauchy–Schwarz bounds it by 10⁶). Near 0 = centered,
    * isotropic-friendly; large = a dominant common direction, where
    * raw cosine degenerates toward 1 between everything and centering
    * /whitening ([[principalDirection]]) is required. Exact integers
    * in the int8-quantized domain — one number, any engine, same
    * answer.
    *
    * Shape: one [[int8Gram]] scan-and-reduce, then in-row folds over
    * the dims-long sums and the Gram diagonal. */
  def embeddingIsotropy(df: DataFrame, vec: String, dims: Int)
      : DataFrame = {
    val g = int8Gram(df, vec, dims)
    val sumsq = aggregate(col("sums"), lit(0L).cast("decimal(38,0)"),
      (acc, s) => acc + s.cast("decimal(19,0)") * s.cast("decimal(18,0)"))
    val trace = aggregate(sequence(lit(0), lit(dims - 1)),
      lit(0L).cast("decimal(38,0)"),
      (acc, i) => acc +
        element_at(col("gram"), (i * (dims + 1) + 1).cast("int"))
          .cast("decimal(38,0)"))
    g.select(col("n"), sumsq.as("norm_sum_sq"), trace.as("trace"),
      IntMath.truncDiv(sumsq * lit(1000000L),
        col("n").cast("decimal(38,0)") * trace).as("mean_offset_ppm"))
  }

  /** Symmetric int8 quantization of an embedding — the standard
    * storage/compute compression step before ANN serving (4× smaller
    * than float32, SIMD-friendly dot products downstream). Returns a
    * struct of `maxabs` (the per-vector scale anchor) and `q`, each
    * element mapped by q = clamp(round(v · 127/maxabs), ±127).
    *
    * Portability: abs/max are exact; 127/maxabs and v·scale are single
    * correctly-rounded IEEE754 operations; rounding is the explicit
    * floor(x + 0.5) formula (identical everywhere) rather than a
    * native round() whose half-even/half-up choice differs by engine.
    * Zero vectors quantize to zeros. Pure in-row Column expression —
    * scan speed, no shuffle (x30 oracle). */
  def int8Quantize(vec: Column): Column =
    graft.functions.Int8Quantize.int8_quantize(vec)

  /** Nearest-centroid assignment in the int8-quantized INTEGER domain
    * — the k-means E-step / IVF routing step, made bit-deterministic.
    *
    * Float k-means assignment is the classic cross-hardware
    * reproducibility hole (a re-run on different SIMD width flips
    * boundary vectors between clusters). Here both sides of the
    * decision are exact integers: vectors go through [[int8Quantize]],
    * per-`seedGroup` centroids are ROUNDED-MEAN int8 vectors (the
    * mean's half-up rounding is computed as a non-negative integer
    * division — numerator shifted by +127·n — so trunc-vs-floor
    * division semantics can't diverge between engines), and each
    * distance is an exact integer sum of squared int8 differences
    * (≤ dims·254², far inside Long). Ties break to the smallest
    * centroid id: the argmin is total.
    *
    * Scale shape: one posexplode + map-combined sum for centroids
    * (k·dims rows), centroid table broadcast, distance and argmin as
    * one in-row fold + one map-combined min(struct) per vector — the
    * corpus is never shuffled. */
  def int8Assign(df: DataFrame, id: String, vec: String,
                 seedGroup: String): DataFrame = {
    val q = df.select(col(id).as("vid"), col(seedGroup).as("grp"),
      int8Quantize(col(vec)).getField("q").as("q8"))
    val sums = q
      .select(col("grp"), posexplode(col("q8")).as(Seq("pos", "v")))
      .groupBy("grp", "pos")
      .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
      .withColumn("c", expr("((2 * (s + 127 * n) + n) div (2 * n)) - 127"))
    val cents = sums.groupBy(col("grp").as("cluster"))
      .agg(transform(sort_array(collect_list(struct(col("pos"), col("c")))),
        x => x("c")).as("cvec"))
    // r13 BOUNDED FAST PATH (guide §2.4 — remove shuffles outright):
    // the centroid table derives from a DATA-dependent seedGroup with
    // unbounded cardinality, so it cannot be unconditionally
    // driver-collected like the k-means codebooks. But when it IS
    // small — the overwhelmingly common seeded-clustering case — the
    // assignment can run in-row exactly like [[int8AssignTo]], removing
    // the corpus-sized min-combined Exchange of the broadcast-crossJoin
    // + groupBy(vid) min(struct) shape. The limit(cap + 1) collect
    // decides boundedness from the FIRST execution of the centroid
    // plan (no separate count job); an over-cap or null-keyed (null
    // seedGroup) table falls back to the old shape unchanged.
    // Equivalence on the fast path: argmin by exact integer d2 with
    // ties to the smallest cluster id — the struct-min's order — and
    // the same null-q8 fallback (smallest cluster id, null d2), the
    // r12-proven [[int8AssignTo]] argument; cluster ids come out as
    // LONG on both paths (the old shape's struct cast).
    val cap = 4096
    val centsL = cents.select(col("cluster").cast("long").as("cluster"),
      col("cvec"))
    val head = centsL.limit(cap + 1).collect()
    // fast path needs: bounded table, no null group key, and UNIFORM
    // cvec lengths (mixed-dim groups keep the struct-min's documented
    // nulls-first edge semantics on the old shape — PqEncode's table
    // is rectangular by contract)
    if (head.length <= cap && head.forall(!_.isNullAt(0)) &&
        head.iterator.map(_.getSeq[Long](1).length).distinct.size <= 1) {
      val spark = q.sparkSession
      val local = spark.createDataFrame(
        java.util.Arrays.asList(head: _*), centsL.schema)
      return int8AssignTo(q.select(col("vid"), col("q8")), local)
        .select(col("vid").as("vec_id"), col("cluster"), col("d2"))
    }
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

  /** Full Lloyd's k-means (`rounds` synchronous iterations) in the
    * int8-quantized INTEGER domain — [[int8Assign]] is the E-step;
    * this adds the M-step loop, so the operator TRAINS the quantizer
    * the embedding-clustering pipelines need (corpus bucketing for
    * semantic mixing, IVF codebooks, topic discovery) instead of
    * assuming labels.
    *
    * Determinism, the whole point: seeds are the `k` smallest-id
    * vectors (no RNG), every distance is an exact integer, argmin
    * ties break to the smallest centroid id, and the recomputed
    * centroid is the half-up rounded mean via the same non-negative
    * integer division as [[int8Assign]] — the trajectory is therefore
    * bit-identical on any engine/partitioning, and the oracle unrolls
    * the identical arithmetic ([[kmeansLloydSql]]). A cluster that
    * loses all members keeps its previous centroid (both engines).
    *
    * Scale shape per round: centroids broadcast (k·dims longs),
    * assignment is an in-row fold + map-combined min(struct), M-step
    * is one posexplode + map-combined (cluster, pos) sum — the corpus
    * shuffles only on its own id at the assignment join; lineage
    * truncated per round ([[graft.ext.Graph.pageRankInt]]
    * discipline). Returns the final (vec_id, cluster, d2). */
  def kmeansLloyd(df: DataFrame, id: String, vec: String, k: Int,
                  rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 1, "k and rounds must be positive")
    val q = df.select(col(id).as("vid"),
        int8Quantize(col(vec)).getField("q").as("q8"))
      .localCheckpoint()
    int8AssignTo(q, lloydLoop(q, k, rounds))
      .select(col("vid").as("vec_id"), col("cluster"), col("d2"))
  }

  /** Nearest-centroid assignment in the integer domain: exact int d2,
    * argmin ties to the smallest cluster id. `q` is (vid, q8); `c` is
    * (cluster, cvec) — ≤nCentroids rows by contract (the k-means
    * codebook class, same bounded-collect family as [[pqCodebook]]).
    *
    * r12 shape (guide §2.4 — remove shuffles outright): `c` collects
    * driver-side and the whole assignment runs IN-ROW — the argmin is
    * the native [[graft.functions.PqEncode]] with ONE subspace (whole
    * vector = one slice ⇒ the code IS the nearest centroid's position,
    * exact integer L2, strict-< ties to the first = smallest cluster
    * id in the sorted table), so the corpus is scanned once with NO
    * Exchange. The previous broadcast-crossJoin + groupBy(vid)
    * min(struct) shape put one corpus-sized Exchange (min-combined)
    * into EVERY caller — Lloyd rounds, IVF bucketing, SemDeDup band
    * rows, IVF-PQ appends. Same integers: PqEncode computes Σ(q−c)²
    * exactly; d2 re-derives as |q|²−2·q·c+|c|², equal by exact algebra
    * in the int8 domain. Same null semantics: a null or
    * length-mismatched q8 encodes to null ⇒ falls back to the smallest
    * cluster id with null d2, exactly the nulls-first struct-min
    * outcome of the old shape. */
  private[ext] def int8AssignTo(q: DataFrame, c: DataFrame): DataFrame = {
    val clusterType = c.schema("cluster").dataType
    val rows = centroidTable(c)
    if (rows.isEmpty)
      return q.filter(lit(false)).select(col("vid"),
        lit(null).cast(clusterType).as("cluster"),
        lit(null).cast("long").as("d2"))
    val cvecs = rows.map(_._2)
    val ccs = cvecs.map(v => v.map(x => x * x).sum)
    val dotL = graft.functions.VectorExpressions.dot_long _
    q.withColumn("_code", element_at(
        graft.functions.VectorExpressions.pq_encode(
          col("q8"), cvecs, rows.length), 1))
      .withColumn("cluster",
        coalesce(element_at(typedLit(rows.map(_._1)), col("_code") + 1),
          lit(rows.head._1)).cast(clusterType))
      .withColumn("d2",
        dotL(col("q8"), col("q8"))
          - dotL(col("q8"), element_at(typedLit(cvecs), col("_code") + 1)) * 2
          + element_at(typedLit(ccs), col("_code") + 1))
      .select(col("vid"), col("cluster"), col("d2"))
  }

  /** Driver-collected centroid table of a (cluster, cvec) frame,
    * sorted by cluster id — ≤nCentroids rows by contract. */
  private def centroidTable(c: DataFrame)
      : IndexedSeq[(Long, IndexedSeq[Long])] =
    c.select(col("cluster").cast("long"), col("cvec")).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toIndexedSeq))
      .sortBy(_._1).toIndexedSeq

  /** The Lloyd's E/M loop over a quantized (vid, q8) frame; returns
    * the trained (cluster, cvec) codebook as a driver-built
    * LocalRelation. Seeds are the k smallest-id vectors, fetched with
    * a distributed TakeOrdered heap and pinned driver-side (k·dims
    * longs — bounded metadata, and windowless: no single-partition
    * row_number anywhere in the plan).
    *
    * r12 shape (guide §2.3/§2.4): each round is ONE scan of the
    * checkpointed corpus — the in-row [[graft.functions.PqEncode]]
    * argmin assigns, and the M-step's sufficient statistic (Σq8, n per
    * cluster) is the native map-combined
    * [[graft.functions.VectorSumAgg]], so the round's only Exchange
    * carries ≤k·(dims+2) longs per map partition and the rounded-mean
    * arithmetic runs driver-side on exact longs (identical integer
    * formula, associative sums ⇒ bit-identical trajectory). The
    * previous shape paid per round: a corpus-sized assignment Exchange,
    * a corpus self-JOIN on vid (two more), a posexplode that
    * multiplied the agg input by dims, and a centroid localCheckpoint.
    * A cluster that loses all members keeps its previous centroid
    * (unchanged); null or length-mismatched q8 rows contribute nothing
    * to the M-step, exactly as their zero posexplode/partial rows did. */
  private[ext] def lloydLoop(q: DataFrame, k: Int, rounds: Int): DataFrame = {
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val spark = q.sparkSession
    val centSchema = StructType(Seq(
      StructField("cluster", LongType),
      StructField("cvec", ArrayType(LongType))))
    var cents: IndexedSeq[IndexedSeq[Long]] =
      q.orderBy("vid").limit(k).select(col("q8")).collect()
        .map(_.getSeq[Long](0).toIndexedSeq).toIndexedSeq
    if (cents.nonEmpty) {
      val dims = cents.head.length
      (1 to rounds).foreach { _ =>
        val code = element_at(graft.functions.VectorExpressions.pq_encode(
          col("q8"), cents, cents.length), 1)
        val sums = q.select(code.as("c"), col("q8"))
          .filter(col("c").isNotNull)
          .groupBy("c")
          .agg(graft.functions.VectorSumAgg.vecSum(col("q8"), dims).as("s"),
            count(lit(1)).as("n"))
          .collect()
          .map(r => r.getInt(0) -> ((r.getSeq[Long](1), r.getLong(2))))
          .toMap
        cents = cents.indices.map { ci =>
          sums.get(ci) match {
            case Some((s, n)) =>
              s.map(si => ((2 * (si + 127 * n) + n) / (2 * n)) - 127)
                .toIndexedSeq
            case None => cents(ci)
          }
        }
      }
    }
    spark.createDataFrame(
      cents.zipWithIndex.map { case (v, i) =>
        org.apache.spark.sql.Row(i.toLong, v: Seq[Long])
      }.asJava, centSchema)
  }

  /** [[kmeansLloyd]] as unrolled DuckDB SQL (MATERIALIZED round CTEs)
    * over a table with (vec_id, embedding) — the oracle generator;
    * quantization, seeding, argmin and rounded-mean all mirror the
    * engine's integer ops exactly. */
  def kmeansLloydSql(table: String, k: Int, rounds: Int): String = {
    val (ctes, asgRel, _) = kmeansLloydCtes(table, k, rounds)
    s"""WITH $ctes
       |SELECT vec_id, cluster::BIGINT AS cluster, d2
       |FROM $asgRel ORDER BY vec_id""".stripMargin
  }

  /** The [[kmeansLloydSql]] WITH-chain split out for composition
    * (x14's IVF oracle stacks probe + top-k on top): returns
    * (cteBody, finalAssignmentRelation, finalCentroidRelation) where
    * the assignment relation has (vec_id, cluster, d2) and the
    * centroid relation (cluster, cvec). The chain also exposes `q`
    * (vec_id, q8), the quantized vectors. */
  def kmeansLloydCtes(table: String, k: Int, rounds: Int)
      : (String, String, String) = {
    val header =
      s"""m AS (
         |  SELECT vec_id, embedding,
         |    list_max(list_transform(embedding,
         |      x -> abs(CAST(x AS DOUBLE)))) AS maxabs
         |  FROM $table),
         |q AS MATERIALIZED (
         |  SELECT vec_id,
         |    CASE WHEN maxabs = 0
         |      THEN list_transform(embedding, x -> 0::BIGINT)
         |      ELSE list_transform(embedding,
         |        x -> CAST(greatest(-127.0, least(127.0,
         |          floor(CAST(x AS DOUBLE) * (127.0 / maxabs) + 0.5)))
         |          AS BIGINT))
         |    END AS q8
         |  FROM m),
         |dims AS MATERIALIZED (
         |  SELECT vec_id, unnest(
         |    [{'pos': i - 1, 'v': q8[i]} for i in range(1, len(q8) + 1)],
         |    recursive := true)
         |  FROM q),
         |c0 AS MATERIALIZED (
         |  SELECT (ROW_NUMBER() OVER (ORDER BY vec_id)) - 1 AS cluster,
         |    q8 AS cvec
         |  FROM q ORDER BY vec_id LIMIT $k)""".stripMargin
    def assignCte(i: Int, cents: String) =
      s"""d$i AS MATERIALIZED (
         |  SELECT q.vec_id, c.cluster,
         |    list_sum([ (q.q8[j] - c.cvec[j]) * (q.q8[j] - c.cvec[j])
         |               for j in range(1, len(q.q8) + 1) ])::BIGINT AS d2
         |  FROM q CROSS JOIN $cents c),
         |a$i AS MATERIALIZED (
         |  SELECT vec_id, cluster, d2 FROM (
         |    SELECT vec_id, cluster, d2,
         |      ROW_NUMBER() OVER (PARTITION BY vec_id
         |        ORDER BY d2, cluster) AS r
         |    FROM d$i) WHERE r = 1)""".stripMargin
    val steps = (1 to rounds).map { i =>
      s"""${assignCte(i, s"c${i - 1}")},
         |s$i AS MATERIALIZED (
         |  SELECT a.cluster, d.pos, SUM(d.v)::BIGINT AS s,
         |    COUNT(*)::BIGINT AS n
         |  FROM a$i a JOIN dims d ON d.vec_id = a.vec_id
         |  GROUP BY a.cluster, d.pos),
         |n$i AS MATERIALIZED (
         |  SELECT cluster, list(c ORDER BY pos) AS cvec FROM (
         |    SELECT cluster, pos,
         |      ((2 * (s + 127 * n) + n) // (2 * n)) - 127 AS c
         |    FROM s$i)
         |  GROUP BY cluster),
         |c$i AS MATERIALIZED (
         |  SELECT p.cluster, COALESCE(nn.cvec, p.cvec) AS cvec
         |  FROM c${i - 1} p LEFT JOIN n$i nn ON nn.cluster = p.cluster)""".stripMargin
    }
    val fin = rounds + 1
    val body =
      (Seq(header) ++ steps :+ assignCte(fin, s"c$rounds")).mkString(",\n")
    (body, s"a$fin", s"c$rounds")
  }

  /** Exact top-k neighbours for each query vector (brute force).
    * Queries are expected to be small → broadcast; corpus streams.
    * `excludeSelf` drops candidates whose id EQUALS the query id —
    * the self-kNN convention; pass false for CROSS-set searches
    * where the two sides' id spaces are unrelated (two independently
    * keyed corpora can share ids without being the same item, and
    * the exclusion would silently drop true matches). */
  def bruteForceTopK(queries: DataFrame, qId: String, qVec: String,
                     corpus: DataFrame, cId: String, cVec: String,
                     k: Int, excludeSelf: Boolean = true): DataFrame = {
    val parts = corpus.sparkSession.sessionState.conf.numShufflePartitions
    // per-side norms hoist OUT of the pair row (r12, guide §1.2-2):
    // sqrt(dot(v,v)) per row before the join instead of per pair after
    // it — same expression per side, same product order, so the cosine
    // value is bit-identical; the pair row pays ONE dot instead of three
    val q = broadcast(queries.select(col(qId).as("query_id"),
      col(qVec).as("qv"), norm(col(qVec)).as("_nq")))
    // corpus drives parallelism (queries broadcast): spread its rows
    // so per-pair scoring isn't bound to the scan's split count
    val c = corpus.select(col(cId).as("neighbour_id"), col(cVec).as("cv"),
        norm(col(cVec)).as("_nc"))
      .repartition(parts)
    val cond = if (excludeSelf) col("query_id") =!= col("neighbour_id")
               else lit(true)
    val scored = c.join(q, cond)
      .select(col("query_id"), col("neighbour_id"),
        (dot(col("qv"), col("cv")) / (col("_nq") * col("_nc")))
          .as("cosine"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("cosine").desc, col("neighbour_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Matryoshka dimension-truncation recall audit (Kusupati et al.
    * 2022's operating question): how much of the FULL-dim exact
    * top-k does a PREFIX-dim cosine ranking recover, per candidate
    * prefix length — the measurement run before serving the ANN
    * prefilter at a cheap truncated dim (a prefix scan is
    * dims/fullDim of the memory traffic; this audit says what recall
    * that buys). One full-dim exact top-k (panel broadcast, corpus
    * drives parallelism — [[bruteForceTopK]]'s audited shape) plus
    * one per audited dim over the sliced vectors; overlap counted
    * exactly per (query, neighbour) and reported as
    * Σ intersections / |full top-k| in ppm — the denominator is the
    * ACTUAL full-dim result size, not n_queries·k, so a corpus with
    * fewer than k neighbours per query still reports an identical
    * ranking as exactly 10⁶ (trunc — exact integer arithmetic,
    * oracle-replayed). Ties break by neighbour id on both engines, so
    * the rankings — and therefore the audit — are deterministic.
    * Returns one row per dim:
    * (dim, n_queries, n_overlap, recall_ppm). */
  def truncationRecallAudit(queries: DataFrame, qId: String, qVec: String,
                            corpus: DataFrame, cId: String, cVec: String,
                            dims: Seq[Int], k: Int): DataFrame = {
    require(dims.nonEmpty && dims.size <= 16 && dims.forall(_ >= 1) &&
      dims.distinct.size == dims.size,
      "1 to 16 positive DISTINCT dims per audit")
    require(k >= 1, "k must be positive")
    // slice() silently truncates past the array end, so a dim larger
    // than the real embedding dimension would alias the full dim and
    // report recall_ppm == 1e6 as if that prefix were a design point —
    // validate against MIN(size(vec)) over the whole corpus (one tiny
    // map-combined aggregate), not an arbitrary first row: a single
    // short vector anywhere makes the over-length dims alias for THAT
    // row, and a null/atypical first row must not decide the guard.
    // size(NULL) is -1 under non-ANSI semantics, so aggregate over
    // non-null vectors ONLY — otherwise one null vector drives the
    // min to -1 and the guard rejects every dim with a nonsense
    // "minimum dimension -1". A null aggregate (empty corpus, or all
    // vectors null) skips the guard — the audit then reports its zero
    // overlaps honestly rather than NPEing here
    val minDimRow = corpus
      .agg(min(when(col(cVec).isNotNull, size(col(cVec)))).as("_d"))
      .collect().head
    if (!minDimRow.isNullAt(0)) {
      val fullDim = minDimRow.getInt(0)
      require(dims.forall(_ <= fullDim),
        s"dims ${dims.filter(_ > fullDim).mkString(",")} exceed the " +
          s"minimum embedding dimension $fullDim — an over-length " +
          "prefix aliases the full dim and its recall row would be vacuous")
    }
    val full = bruteForceTopK(queries, qId, qVec, corpus, cId, cVec, k)
      .select(col("query_id"), col("neighbour_id"))
      .localCheckpoint()
    val nq = broadcast(queries.select(col(qId)).distinct()
      .agg(count(lit(1)).as("n_queries")))
    val nf = broadcast(full.agg(count(lit(1)).as("_n_full")))
    dims.map { d =>
      val tq = queries.select(col(qId), slice(col(qVec), 1, d).as(qVec))
      val tc = corpus.select(col(cId), slice(col(cVec), 1, d).as(cVec))
      bruteForceTopK(tq, qId, qVec, tc, cId, cVec, k)
        .select(col("query_id"), col("neighbour_id"))
        .join(full, Seq("query_id", "neighbour_id"))
        .agg(count(lit(1)).as("n_overlap"))
        .select(lit(d.toLong).as("dim"), col("n_overlap"))
    }.reduce(_ unionByName _)
      .crossJoin(nq).crossJoin(nf)
      .select(col("dim"), col("n_queries"), col("n_overlap"),
        IntMath.truncDiv(col("n_overlap") * 1000000L,
          col("_n_full")).as("recall_ppm"))
  }

  /** Banded candidate pairs between two embedding frames: each vector
    * gets `bands` bucket ids (sign pattern of `bitsPerBand`
    * deterministic md5-derived hyperplanes per band, [[Planes]] — the
    * [[Dedup.embeddingNearDups]] generator); a pair is a candidate
    * iff it shares at least one (band, bucket, sub) key. Band rows
    * carry ONLY (id, band, bucket), so the banded shuffle never moves
    * the embedding payload, and the join is an equi-join on the
    * bucket key — near-linear in corpus size, never a broadcast of
    * either side. Returns distinct (id_a, id_b). Deterministic
    * planes ⇒ the candidate set is exactly reproducible by the
    * DuckDB oracle.
    *
    * OVERSIZED-BUCKET CAP: a hot (band, bucket) key — all-identical
    * embeddings, or a mass of near-parallel vectors — would otherwise
    * fan out quadratically inside its bucket. Buckets with more than
    * `maxBucket` members (counted across BOTH sides) are
    * deterministically sub-split into ceil(m / maxBucket) sub-buckets
    * by [[Planes.subHash]] on the ID (identical vectors spread
    * uniformly), and candidates form only within a sub-bucket. This
    * caps candidate volume at ~bands · n · maxBucket — provably
    * linear in corpus size — at the cost of ~1/ns of that band's
    * recall contribution for the hot key (the other bands still vote;
    * the recall audits x169/x170 measure the effect). Buckets at or
    * under the cap keep ns = 1, sub = 0: the candidate set is
    * byte-identical to the uncapped one. */
  private[ext] def bandedCrossCandidates(a: DataFrame, b: DataFrame,
                                    bands: Int, bitsPerBand: Int,
                                    dim: Int, maxBucket: Int): DataFrame = {
    require(maxBucket >= 1, "maxBucket must be positive")
    val planes = Planes.components(bands * bitsPerBand, dim)
    def bandRows(df: DataFrame, out: String) = df.select(col("_id").as(out),
      posexplode(Planes.bandBuckets(col("v"), planes, bands, bitsPerBand))
        .as(Seq("band", "bucket")))
    // band rows are ids-only and read THREE times (the ns count + both
    // join probes): materialize them so the 64-plane sketch runs once
    // per row instead of once per consumer (measured 1.8x on x152
    // without this)
    val ra = bandRows(a, "id_a").localCheckpoint()
    val rb = bandRows(b, "id_b").localCheckpoint()
    Planes.cappedCrossPairs(ra, rb, maxBucket)
  }

  /** Mutual nearest-neighbour pairs between two embedding sets — the
    * margin-free alignment criterion of bitext/parallel-data mining
    * (LASER/CCMatrix-style): a is paired with b only when b is a's
    * single nearest CANDIDATE neighbour in B AND a is b's nearest in
    * A. One-way nearest neighbours produce asymmetric junk pairs at
    * corpus scale; mutuality is the cheap filter that makes mined
    * pairs trainable. Returns (id_a, id_b, cosine) per mutual pair.
    *
    * THE 100 TB PATH: candidates come from the deterministic
    * hyperplane banding ([[bandedCrossCandidates]]) — the shuffles
    * are (band, bucket) and id equi-joins, neither side is ever
    * broadcast, and per-side top-1 is a bounded partitioned window
    * over candidates only. Cosines are computed ONCE per candidate
    * pair and reused by both directions of the mutuality check.
    * Semantics are LSH-kNN: a true neighbour sharing no bucket is
    * unseen (recall governed by bands × bitsPerBand; measured by
    * [[mutualBandingAudit]]) — but because the planes are
    * md5-deterministic the output is exactly reproducible, engine to
    * engine. [[mutualNearestPairsExact]] is the brute-force
    * small-input baseline. */
  def mutualNearestPairs(a: DataFrame, aId: String, aVec: String,
                         b: DataFrame, bId: String, bVec: String,
                         bands: Int = 16, bitsPerBand: Int = 4,
                         dim: Int = 64, maxBucket: Int = 4096): DataFrame = {
    val parts = a.sparkSession.sessionState.conf.numShufflePartitions
    // norms ride the checkpointed side frames (computed once per ROW,
    // not once per candidate pair — bit-identical cosine, see
    // [[bruteForceTopK]])
    val va = a.select(col(aId).as("_id"), col(aVec).as("v"),
        norm(col(aVec)).as("_nv"))
      .repartition(parts).localCheckpoint()
    val vb = b.select(col(bId).as("_id"), col(bVec).as("v"),
        norm(col(bVec)).as("_nv"))
      .repartition(parts).localCheckpoint()
    val cand = bandedCrossCandidates(va, vb, bands, bitsPerBand, dim,
      maxBucket)
    val scored = cand
      .join(va.select(col("_id").as("id_a"), col("v").as("_va"),
        col("_nv").as("_na")), Seq("id_a"))
      .join(vb.select(col("_id").as("id_b"), col("v").as("_vb"),
        col("_nv").as("_nb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (dot(col("_va"), col("_vb")) / (col("_na") * col("_nb")))
          .as("cosine"))
      .localCheckpoint()  // both direction windows read it — score once
    val wa = org.apache.spark.sql.expressions.Window
      .partitionBy("id_a").orderBy(col("cosine").desc, col("id_b"))
    val wb = org.apache.spark.sql.expressions.Window
      .partitionBy("id_b").orderBy(col("cosine").desc, col("id_a"))
    val ab = scored.withColumn("_r", row_number().over(wa))
      .filter(col("_r") === 1).select(col("id_a"), col("id_b"), col("cosine"))
    val ba = scored.withColumn("_r", row_number().over(wb))
      .filter(col("_r") === 1).select(col("id_a"), col("id_b"))
    ab.join(ba, Seq("id_a", "id_b"))
  }

  /** Brute-force-exact mutual nearest neighbours — the small-input /
    * ground-truth baseline ([[mutualBandingAudit]] compares the
    * banded default against it). Broadcasts each side in turn: NOT
    * for corpus-sized inputs. */
  def mutualNearestPairsExact(a: DataFrame, aId: String, aVec: String,
                              b: DataFrame, bId: String, bVec: String)
      : DataFrame = {
    // excludeSelf = false: A and B are independently keyed sets — an
    // id collision across them is NOT a self-match, and the self-kNN
    // exclusion would silently drop true pairs
    val ab = bruteForceTopK(a, aId, aVec, b, bId, bVec, k = 1,
        excludeSelf = false)
      .select(col("query_id").as("id_a"), col("neighbour_id").as("id_b"),
        col("cosine"))
    val ba = bruteForceTopK(b, bId, bVec, a, aId, aVec, k = 1,
        excludeSelf = false)
      .select(col("query_id").as("id_b"), col("neighbour_id").as("id_a"))
    ab.join(ba, Seq("id_a", "id_b"))
  }

  /** Self-banded candidate pairs (both orientations) for a single
    * embedding frame: the [[bandedCrossCandidates]] self-join with
    * `id_a < id_b` dedup, then mirrored so every member anchors —
    * per-query neighbour lists without ever pairing a vector with
    * itself. Oversized buckets sub-split exactly like
    * [[bandedCrossCandidates]] (same cap semantics, same
    * [[Planes.subHash]]). */
  private[ext] def bandedSelfCandidates(v: DataFrame, bands: Int,
                                   bitsPerBand: Int, dim: Int,
                                   maxBucket: Int): DataFrame = {
    require(maxBucket >= 1, "maxBucket must be positive")
    val planes = Planes.components(bands * bitsPerBand, dim)
    // ids-only band rows feed the ns count AND both self-join sides:
    // materialize so the 64-plane sketch runs once per row
    val banded = v.select(col("_id"),
      posexplode(Planes.bandBuckets(col("v"), planes, bands, bitsPerBand))
        .as(Seq("band", "bucket")))
      .localCheckpoint()
    val half = Planes.cappedSelfPairs(banded, maxBucket)
    half.unionByName(
      half.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
  }

  /** k-NN label disagreement — confident-learning-style NOISY LABEL
    * detection over a labeled embedding set: for each point, how many
    * of its k nearest CANDIDATE neighbours (cosine, self excluded)
    * carry a DIFFERENT label. High disagreement marks probable
    * mislabels / ambiguous items — the standard pruning signal before
    * training a quality classifier on weak labels. Returns (id,
    * label, k_used, n_disagree, disagree_ppm); `k_used` < k when the
    * banding yields fewer candidates, and a point sharing no bucket
    * with anyone is absent (it has no neighbour evidence either way).
    *
    * THE 100 TB PATH: candidates from the deterministic hyperplane
    * self-banding ([[bandedSelfCandidates]]) — (band, bucket) and id
    * equi-joins only, the corpus is NEVER broadcast, per-query top-k
    * is a bounded partitioned window over candidates. LSH-kNN
    * semantics, exactly engine-reproducible (md5 planes); recall vs
    * exact kNN is measured by [[knnBandingAudit]].
    * [[knnLabelDisagreementExact]] is the brute-force baseline. */
  def knnLabelDisagreement(df: DataFrame, id: String, vec: String,
                           label: String, k: Int, bands: Int = 16,
                           bitsPerBand: Int = 4, dim: Int = 64,
                           maxBucket: Int = 4096): DataFrame = {
    val parts = df.sparkSession.sessionState.conf.numShufflePartitions
    val v = df.select(col(id).as("_id"), col(vec).as("v"),
        col(label).as("_lab"), norm(col(vec)).as("_nv"))
      .repartition(parts).localCheckpoint()
    val cand = bandedSelfCandidates(v, bands, bitsPerBand, dim, maxBucket)
    val scored = cand
      .join(v.select(col("_id").as("id_a"), col("v").as("_va"),
        col("_lab").as("_qlab"), col("_nv").as("_na")), Seq("id_a"))
      .join(v.select(col("_id").as("id_b"), col("v").as("_vb"),
        col("_lab").as("_nlab"), col("_nv").as("_nb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (dot(col("_va"), col("_vb")) / (col("_na") * col("_nb")))
          .as("cosine"),
        col("_qlab"), col("_nlab"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id_a").orderBy(col("cosine").desc, col("id_b"))
    scored.withColumn("_r", row_number().over(w)).filter(col("_r") <= k)
      .groupBy(col("id_a").as("id"))
      .agg(first(col("_qlab")).as("label"),
        count(lit(1)).as("k_used"),
        sum(when(col("_qlab") === col("_nlab"), 0L).otherwise(1L))
          .as("n_disagree"))
      .withColumn("disagree_ppm",
        IntMath.ppmDiv(col("n_disagree"), col("k_used")))
  }

  /** Brute-force-exact k-NN label disagreement — the small-input /
    * ground-truth baseline (broadcasts the query side: NOT for
    * corpus-sized inputs; [[knnBandingAudit]] compares the banded
    * default against it). */
  def knnLabelDisagreementExact(df: DataFrame, id: String, vec: String,
                                label: String, k: Int): DataFrame = {
    val labels = df.select(col(id).as("_lid"), col(label).as("_lab"))
    val nn = bruteForceTopK(df, id, vec, df, id, vec, k)
    nn.join(labels.withColumnRenamed("_lid", "query_id")
        .withColumnRenamed("_lab", "_qlab"), Seq("query_id"))
      .join(labels.withColumnRenamed("_lid", "neighbour_id")
        .withColumnRenamed("_lab", "_nlab"), Seq("neighbour_id"))
      .groupBy(col("query_id").as("id"))
      .agg(first(col("_qlab")).as("label"),
        count(lit(1)).as("k_used"),
        sum(when(col("_qlab") === col("_nlab"), 0L).otherwise(1L))
          .as("n_disagree"))
      .withColumn("disagree_ppm",
        IntMath.ppmDiv(col("n_disagree"), col("k_used")))
  }

  /** Self-verifying recall audit for the banded [[mutualNearestPairs]]
    * (x142's pattern applied to ANN): runs the exact brute-force
    * mutual-pair miner as ground truth, the banded miner as the
    * candidate under test, and reports n_exact / n_banded / n_hits /
    * recall_ppm in ONE row. Both sides are deterministic, so the
    * DuckDB oracle reproduces every number — a Spark-side banding
    * bug (candidate set deviating from the md5-plane spec) turns the
    * gate red, and a parameter regression shows up as a recall drop
    * (spec-gated). Ground truth broadcasts the fixture — audit-only,
    * never the production path.
    *
    * `docSampleBits > 0` switches to SAMPLED-SUBCORPUS mode for
    * routine monitoring: BOTH sides are restricted to a deterministic
    * 1/2^bits id subset before either miner runs. Unlike the
    * pairwise audits, mutuality depends on the whole corpus, so this
    * is a PAIRED comparison at reduced density, not an unbiased
    * full-corpus recall estimate — the sparser sub-corpus makes
    * nearest neighbours farther and banding recall slightly
    * pessimistic. Good enough to catch regressions cheaply; the
    * correctness gate always runs bits = 0 (exact). */
  def mutualBandingAudit(a: DataFrame, aId: String, aVec: String,
                         b: DataFrame, bId: String, bVec: String,
                         bands: Int = 16, bitsPerBand: Int = 4,
                         dim: Int = 64, maxBucket: Int = 4096,
                         docSampleBits: Int = 0): DataFrame = {
    require(docSampleBits >= 0 && docSampleBits <= 16,
      "docSampleBits must be in [0, 16]")
    def inSample(c: Column) = if (docSampleBits == 0) lit(true)
      else pmod(xxhash64(c.cast("string")), lit(1L << docSampleBits)) === 0
    val sa = a.filter(inSample(col(aId)))
    val sb = b.filter(inSample(col(bId)))
    val exact = mutualNearestPairsExact(sa, aId, aVec, sb, bId, bVec)
      .select(col("id_a"), col("id_b"), lit(1L).as("_e"))
    val banded = mutualNearestPairs(sa, aId, aVec, sb, bId, bVec,
        bands, bitsPerBand, dim, maxBucket)
      .select(col("id_a"), col("id_b"), lit(1L).as("_b"))
    // one full-outer join carries all three counts in a single pass
    // (each side is consumed once, so neither needs a checkpoint)
    exact.join(banded, Seq("id_a", "id_b"), "full_outer")
      .agg(count(col("_e")).as("n_exact"), count(col("_b")).as("n_banded"),
        count(when(col("_e").isNotNull && col("_b").isNotNull, lit(1)))
          .as("n_hits"))
      .withColumn("recall_ppm",
        IntMath.ppmDiv(col("n_hits"), col("n_exact")))
  }

  /** Self-verifying recall audit for the banded
    * [[knnLabelDisagreement]]: exact top-k neighbour pairs (brute
    * force) vs the banded top-k pairs, as (n_exact, n_banded,
    * n_hits, recall_ppm) — one row, every number oracle-reproducible.
    * Ground truth broadcasts the fixture — audit-only.
    *
    * `querySampleBits > 0` switches to SAMPLED-QUERY mode for routine
    * monitoring: only queries whose id passes a deterministic
    * xxhash64 filter (1 in 2^bits) are audited — but each sampled
    * query's exact top-k is still computed against the FULL corpus,
    * and the banded side still bands the full corpus, so per-query
    * recall is the true full-corpus recall and the aggregate is an
    * UNBIASED estimate at ~1/2^bits of the brute-force cost. The
    * correctness gate always runs bits = 0. */
  def knnBandingAudit(df: DataFrame, id: String, vec: String, k: Int,
                      bands: Int = 16, bitsPerBand: Int = 4,
                      dim: Int = 64, maxBucket: Int = 4096,
                      querySampleBits: Int = 0): DataFrame = {
    require(querySampleBits >= 0 && querySampleBits <= 16,
      "querySampleBits must be in [0, 16]")
    val parts = df.sparkSession.sessionState.conf.numShufflePartitions
    def inSample(c: Column) = if (querySampleBits == 0) lit(true)
      else pmod(xxhash64(c.cast("string")), lit(1L << querySampleBits)) === 0
    val exact = bruteForceTopK(df.filter(inSample(col(id))), id, vec,
        df, id, vec, k)
      .select(col("query_id"), col("neighbour_id"), lit(1L).as("_e"))
    val v = df.select(col(id).as("_id"), col(vec).as("v"),
        norm(col(vec)).as("_nv"))
      .repartition(parts).localCheckpoint()
    val cand = bandedSelfCandidates(v, bands, bitsPerBand, dim, maxBucket)
      .filter(inSample(col("id_a")))
    val scored = cand
      .join(v.select(col("_id").as("id_a"), col("v").as("_va"),
        col("_nv").as("_na")), Seq("id_a"))
      .join(v.select(col("_id").as("id_b"), col("v").as("_vb"),
        col("_nv").as("_nb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (dot(col("_va"), col("_vb")) / (col("_na") * col("_nb")))
          .as("cosine"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id_a").orderBy(col("cosine").desc, col("id_b"))
    val banded = scored.withColumn("_r", row_number().over(w))
      .filter(col("_r") <= k)
      .select(col("id_a").as("query_id"), col("id_b").as("neighbour_id"),
        lit(1L).as("_b"))
    // one full-outer join carries all three counts in a single pass
    // (each side is consumed once, so neither needs a checkpoint)
    exact.join(banded, Seq("query_id", "neighbour_id"), "full_outer")
      .agg(count(col("_e")).as("n_exact"), count(col("_b")).as("n_banded"),
        count(when(col("_e").isNotNull && col("_b").isNotNull, lit(1)))
          .as("n_hits"))
      .withColumn("recall_ppm",
        IntMath.ppmDiv(col("n_hits"), col("n_exact")))
  }

  /** Hard-negative mining (contrastive-training data prep): for each
    * query vector, the k most cosine-similar corpus vectors carrying a
    * DIFFERENT label — the near-boundary negatives that make
    * InfoNCE/triplet batches informative (random negatives are mostly
    * trivial at scale). Same plan shape as [[bruteForceTopK]]: the
    * query side broadcasts with its labels, the corpus streams and
    * drives parallelism, the label-mismatch predicate rides the same
    * broadcast join, and the per-query top-k is a bounded window. */
  def hardNegatives(queries: DataFrame, qId: String, qVec: String,
                    qLabel: String, corpus: DataFrame, cId: String,
                    cVec: String, cLabel: String, k: Int): DataFrame = {
    val parts = corpus.sparkSession.sessionState.conf.numShufflePartitions
    val q = broadcast(queries.select(col(qId).as("query_id"),
      col(qVec).as("qv"), col(qLabel).as("qlab"),
      norm(col(qVec)).as("_nq")))
    val c = corpus.select(col(cId).as("neighbour_id"), col(cVec).as("cv"),
        col(cLabel).as("neg_label"), norm(col(cVec)).as("_nc"))
      .repartition(parts)
    val scored = c.join(q, col("query_id") =!= col("neighbour_id") &&
        col("qlab") =!= col("neg_label"))
      .select(col("query_id"), col("neighbour_id"), col("neg_label"),
        (dot(col("qv"), col("cv")) / (col("_nq") * col("_nc")))
          .as("cosine"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("cosine").desc, col("neighbour_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Sign-bit sketch over `bits` deterministic md5-derived hyperplanes
    * ([[Planes]]): the plane matrix is hoisted to literals at plan
    * time, so the per-row cost is `bits` codegen'd dot products — and
    * the DuckDB oracle reproduces the sketch bit-for-bit (x15). */
  def lshSketch(vec: Column, bits: Int, dim: Int = 64): Column =
    Planes.sketch(vec, Planes.components(bits, dim))

  /** IVF ANN top-k with a DETERMINISTIC coarse quantizer: the
    * codebook is [[kmeansLloyd]]'s int8 integer-domain k-means
    * (smallest-id seeds, exact integer distances, rounded-mean
    * M-step), so the buckets — and therefore the candidate set and
    * the final ranking — are bit-identical on any engine, hardware or
    * partitioning. Where a float k-means quantizer is the classic
    * cross-run reproducibility hole (SIMD-order float means flip
    * boundary vectors between probes), this variant is fully
    * oracle-checkable: the x14 gate unrolls the identical arithmetic
    * in DuckDB ([[kmeansLloydCtes]] + probe + top-k) and hash-matches
    * the rows.
    *
    * Scale shape: training assigns against a broadcast codebook
    * (k·dims longs per round); the corpus shuffles only on its own id
    * at the M-step join; routing and probing are broadcast joins; the
    * probe join fans the scored rows down by ~nProbe/nCentroids; the
    * per-query top-k is a key-bounded window. Exact float cosine
    * (fixed-dag, engine-portable) ranks inside probed buckets only. */
  def ivfTopKInt8(queries: DataFrame, qId: String, qVec: String,
                  corpus: DataFrame, cId: String, cVec: String,
                  k: Int, nCentroids: Int = 16, nProbe: Int = 4,
                  rounds: Int = 2): DataFrame = {
    // one materialization carries both the float vectors (exact
    // scoring) and the quantized view (routing)
    val cq = corpus.select(col(cId).as("vid"), col(cVec).as("cv"),
        int8Quantize(col(cVec)).getField("q").as("q8"))
      .localCheckpoint()
    val cents = lloydLoop(cq.select("vid", "q8"), nCentroids, rounds)
    // r12: the bucketing assignment is in-row (see [[int8AssignTo]]),
    // so cluster and cv ride the same scan — the old assign-then-join-
    // back-on-vid shape cost two corpus Exchanges per call; the corpus
    // norm hoists here too (once per row, not once per probe pair).
    // r13: EMPTY-CODEBOOK GUARD (an empty corpus trains an empty
    // codebook) — assignColumn's in-row table would throw at
    // plan-build time where the old crossJoin shape returned an empty
    // frame; restore that semantics explicitly.
    val centRows = centroidTable(cents)
    val bucketed =
      if (centRows.isEmpty)
        cq.filter(lit(false)).select(col("vid").as("neighbour_id"),
          lit(null).cast("long").as("cluster"),
          col("cv"), norm(col("cv")).as("_nc"))
      else
        cq.select(col("vid").as("neighbour_id"),
          assignColumn(col("q8"), centRows).as("cluster"),
          col("cv"), norm(col("cv")).as("_nc"))
    val dotL = graft.functions.VectorExpressions.dot_long _
    val probes = queries
      .select(col(qId).as("query_id"), col(qVec).as("qv"),
        norm(col(qVec)).as("_nq"),
        int8Quantize(col(qVec)).getField("q").as("qq8"))
      .withColumn("_qq", dotL(col("qq8"), col("qq8")))
      .crossJoin(broadcast(
        cents.withColumn("_cc", dotL(col("cvec"), col("cvec")))))
      .withColumn("d2",
        col("_qq") - dotL(col("qq8"), col("cvec")) * 2 + col("_cc"))
      .withColumn("pr", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("query_id")
          .orderBy(col("d2"), col("cluster"))))
      .filter(col("pr") <= nProbe)
      .select(col("query_id"), col("qv"), col("_nq"), col("cluster"))
    val scored = probes.join(bucketed, Seq("cluster"))
      .filter(col("query_id") =!= col("neighbour_id"))
      .select(col("query_id"), col("neighbour_id"),
        (dot(col("qv"), col("cv")) / (col("_nq") * col("_nc")))
          .as("cosine"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("cosine").desc, col("neighbour_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** ANN top-k via LSH buckets: only corpus vectors sharing the query's
    * sketch are scored. Smaller `bits` → bigger buckets → higher
    * recall, more compute. */
  def lshTopK(queries: DataFrame, qId: String, qVec: String,
              corpus: DataFrame, cId: String, cVec: String,
              k: Int, bits: Int = 8, dim: Int = 64): DataFrame = {
    val parts = corpus.sparkSession.sessionState.conf.numShufflePartitions
    val q = broadcast(queries.select(col(qId).as("query_id"), col(qVec).as("qv"),
      norm(col(qVec)).as("_nq"), lshSketch(col(qVec), bits, dim).as("sk")))
    // repartition BEFORE sketching: the per-row sketch (bits × dim
    // muls) is the expensive map work; the corpus norm hoists with it
    val c = corpus.select(col(cId).as("neighbour_id"), col(cVec).as("cv"))
      .repartition(parts)
      .withColumn("sk", lshSketch(col("cv"), bits, dim))
      .withColumn("_nc", norm(col("cv")))
    val scored = q.join(c, Seq("sk")).filter(col("query_id") =!= col("neighbour_id"))
      .select(col("query_id"), col("neighbour_id"),
        (dot(col("qv"), col("cv")) / (col("_nq") * col("_nc")))
          .as("cosine"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("cosine").desc, col("neighbour_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  // ----- product quantization (PQ) + asymmetric-distance ANN -------------

  /** PQ codebook from a deterministic corpus sample, in the int8
    * domain: the `ksub` corpus vectors with the smallest
    * md5(id-as-string) are chosen (engine-stable pseudo-random — no
    * RNG), int8-quantized, and each sliced into `subspaces` equal
    * sub-vectors; entry (m, c) is the m-th slice of the c-th selected
    * vector (codes ordered by id). Sample-seeded codebooks are the
    * standard cold-start before Lloyd refinement — at scale, train
    * each subspace with [[kmeansLloyd]] over the slices and feed the
    * resulting centroids here instead; everything downstream
    * ([[pqEncode]]/[[pqTopK]]) only sees the integer table.
    *
    * Driver footprint is the codebook itself — subspaces·ksub·dsub
    * longs (8·16·8 = 1 KiB at the defaults), the same bounded-collect
    * class as [[centroids]]. */
  def pqCodebook(corpus: DataFrame, id: String, vec: String,
                 subspaces: Int, ksub: Int, dim: Int): Seq[Seq[Seq[Long]]] = {
    require(dim % subspaces == 0, "dim must divide evenly into subspaces")
    val dsub = dim / subspaces
    // r13 (guide §1.2-2): quantize AFTER the ksub-row limit — the old
    // shape computed the int8Quantize HOF (3 interpreted lambda passes
    // per row) inside the TakeOrdered's child projection, i.e. over
    // the ENTIRE corpus, to select 16 rows. The selection key is
    // md5(id) only; the heap now carries the raw vector and the ksub
    // survivors quantize in a second tiny plan — same rows, same
    // quantization, same codebook bits.
    val sel = corpus
      .select(col(id).as("_id"), col(vec).as("_v"))
      .orderBy(md5(col("_id").cast("string").cast("binary")), col("_id"))
      .limit(ksub)
      .orderBy(col("_id"))
      .select(int8Quantize(col("_v")).getField("q")).collect()
      .map(_.getSeq[Long](0).toIndexedSeq)
    require(sel.length == ksub, s"corpus smaller than ksub=$ksub")
    (0 until subspaces).map(m =>
      sel.toIndexedSeq.map(q => q.slice(m * dsub, (m + 1) * dsub)))
  }

  /** PQ encoding: each int8-quantized vector compresses to one code
    * per subspace — the nearest codebook entry by exact integer L2
    * over that slice (ties to the smallest code). 64 float dims
    * become 8 small ints: the 32× compression that lets a 100 TB
    * embedding corpus fit hot storage for ANN serving.
    *
    * Plan shape: the codebook is a compile-time constant riding the
    * NATIVE [[graft.functions.PqEncode]] expression as a reference
    * object — the whole argmin is one codegen'd loop nest per row,
    * scan speed, no shuffle, no UDF. (The compositional `least(struct
    * (d2, code)…)` form is a CollapseProject trap: the quantize HOF
    * gets inlined into all subspaces·ksub candidates — measured ~8 s
    * at sf0.1 vs sub-second native.) Returns (id, codes — 0-based). */
  def pqEncode(df: DataFrame, id: String, vec: String,
               codebook: Seq[Seq[Seq[Long]]]): DataFrame = {
    val ksub = codebook.head.length
    df.select(col(id).as(id),
      graft.functions.VectorExpressions.pq_encode(
        int8Quantize(col(vec)).getField("q"),
        codebook.flatten, ksub).as("codes"))
  }

  /** ANN top-k by PQ asymmetric distance (ADC): the corpus is scanned
    * as CODES ONLY — each query precomputes its per-subspace distance
    * table d(m, c) = ‖q_m − codebook(m,c)‖² (exact integers in the
    * int8 lattice), and a corpus vector's approximate distance is the
    * sum of `subspaces` table lookups. This is THE large-scale ANN
    * serving shape: the full-precision corpus is never read at query
    * time, the scan is in-row lookup arithmetic with no shuffle, and
    * the per-query top-k is the bounded native [[graft.functions.TopKAgg]]
    * heap (map-combined — never a corpus-sized window).
    *
    * Queries ride a broadcast (queries × (subspaces·ksub) longs);
    * distances are exact integers of the quantized domain (each
    * vector anchored by its own maxabs, like [[int8Assign]]), and
    * ties break to the smaller corpus id, so the result is
    * bit-deterministic. Returns (query_id, rank, corpus_id, adc_d2).
    * Accuracy is the codebook's problem (train with [[kmeansLloyd]]
    * per subspace); the operator is exact FOR its codebook, which is
    * what the oracle pins. */
  /** Query-side PQ precompute shared by [[pqTopK]] and [[ivfPqTopK]]:
    * (query_id, _q quantized vector, _dtab per-subspace integer
    * distance table over `codebook`). Kept in ONE place so the two
    * ADC paths can never drift apart (the exhaustive-probe ==
    * flat-PQ equivalence their spec pins). */
  private def pqQueryFrame(queries: DataFrame, qId: String, qVec: String,
                           codebook: Seq[Seq[Seq[Long]]]): DataFrame = {
    val dsub = codebook.head.head.length
    val dotL = graft.functions.VectorExpressions.dot_long _
    val qBase = queries.select(col(qId).as("query_id"),
      int8Quantize(col(qVec)).getField("q").as("_q"))
    val qSubs = codebook.indices.foldLeft(qBase) { (acc, m) =>
      acc.withColumn(s"_s$m", slice(col("_q"), m * dsub + 1, dsub))
        .withColumn(s"_d$m", dotL(col(s"_s$m"), col(s"_s$m")))
    }
    val dtab = array(codebook.indices.map { m =>
      array(codebook(m).map { cv =>
        val cc = cv.map(x => x * x).sum
        col(s"_d$m") - dotL(col(s"_s$m"), typedLit(cv)) * 2 + cc
      }: _*)
    }: _*)
    qSubs.select(col("query_id"), col("_q"), dtab.as("_dtab"))
  }

  /** The ADC lookup: Σ_m _dtab[m][codes[m]] — shared by both PQ
    * paths. */
  private def pqAdcDistance(codebook: Seq[Seq[Seq[Long]]]): Column =
    codebook.indices.map(m =>
      element_at(element_at(col("_dtab"), m + 1),
        element_at(col("codes"), m + 1).cast("int") + 1)).reduce(_ + _)

  def pqTopK(queries: DataFrame, qId: String, qVec: String,
             corpus: DataFrame, cId: String, cVec: String,
             codebook: Seq[Seq[Seq[Long]]], k: Int): DataFrame =
    pqTopKFromCodes(queries, qId, qVec,
      pqEncode(corpus, cId, cVec, codebook)
        .select(col(cId).as("corpus_id"), col("codes")),
      codebook, k)

  /** [[pqTopK]] over an ALREADY-ENCODED codes frame
    * ((corpus_id, codes) — [[pqEncode]]'s output, e.g. loaded from a
    * persisted [[AnnStore]] index): the serving path minus the
    * per-call corpus encode, which the round-10 panel split measured
    * as ~the entire wall (SCALING.md — build 8–10 s vs serve
    * 11–31 ms/query at sf1). Same bit-deterministic ADC arithmetic;
    * the codes frame is scanned, never joined, so plain parquet is
    * its right layout. */
  def pqTopKFromCodes(queries: DataFrame, qId: String, qVec: String,
                      codes: DataFrame, codebook: Seq[Seq[Seq[Long]]],
                      k: Int): DataFrame = {
    require(k >= 1, "k must be positive")
    val q = broadcast(pqQueryFrame(queries, qId, qVec, codebook)
      .select(col("query_id"), col("_dtab")))
    val dist = pqAdcDistance(codebook)
    codes.select(col("corpus_id").as("_cid"), col("codes")).crossJoin(q)
      .select(col("query_id"), col("_cid"), dist.as("_d2"))
      .groupBy("query_id")
      .agg(graft.functions.TopKAgg.topk(-col("_d2"), col("_cid"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as("corpus_id"), (-col("col.v")).cast("long").as("adc_d2"))
  }

  /** PQ-ADC candidate generation with EXACT re-rank — the refine
    * stage every production PQ deployment runs (FAISS's
    * refine/RFlat pattern): the code scan proposes `k · refine`
    * candidates per query by asymmetric distance, then ONLY those
    * candidates read their full float vectors for an exact cosine
    * re-rank to top-k. Rank fidelity recovers to near-exact (the
    * audit instrument is [[pqRecallAudit]] on the candidate stage)
    * while the corpus scan still touches `subspaces` small ints per
    * row — the refine join reads k·refine·|queries| vectors, not the
    * corpus.
    *
    * Deterministic end to end: the ADC stage is integer-exact
    * (oracle-replayable bit-for-bit) and the re-rank orders by the
    * same double cosine as [[bruteForceTopK]] (ties to the smaller
    * id), so the refined ranking is engine-portable too. Returns
    * (query_id, rank, corpus_id, cosine). */
  def pqTopKRefined(queries: DataFrame, qId: String, qVec: String,
                    corpus: DataFrame, cId: String, cVec: String,
                    codebook: Seq[Seq[Seq[Long]]], k: Int,
                    refine: Int = 4): DataFrame =
    pqTopKRefinedFromCodes(queries, qId, qVec,
      pqEncode(corpus, cId, cVec, codebook)
        .select(col(cId).as("corpus_id"), col("codes")),
      corpus.select(col(cId).as("corpus_id"), col(cVec).as("_cv")),
      codebook, k, refine)

  /** [[pqTopKRefined]] over an already-encoded codes frame plus a
    * (corpus_id, _cv) payload frame for the exact re-rank — the
    * persisted-index serving form ([[AnnStore]]): ADC proposes
    * k·refine candidates from the codes scan, only those read their
    * float vectors from the payload.
    *
    * THE SERVING SCAN IS PRUNED, not joined-then-discarded: the ADC
    * candidate stage executes eagerly at call time (its output is
    * bounded by construction at k·refine rows per panel query — the
    * bounded [[graft.functions.TopKAgg]] heap, the same driver-bounded
    * class as the AnnStore codebook collect), and the candidate id set
    * is pushed INTO the payload read as a scan predicate. Joining the
    * tiny candidate frame against the corpus-sized payload instead
    * would broadcast the candidates and STREAM the payload — every
    * served batch re-reading the full float vectors, ~32× the bytes of
    * the ADC code scan the PQ split exists to avoid (inverted PQ
    * economics at 100 TB). With the payload written SORTED on
    * corpus_id ([[AnnStore.savePq]]), parquet row-group min/max and
    * dictionary stats prune the read to ~candidate row groups, so
    * served payload bytes scale with candidates, not corpus
    * (spec-asserted in AnnStoreSpec via the scan's numOutputRows).
    * Candidate id lists at or under the session's parquet
    * inFilterThreshold push down as an eq or-chain (row-group AND
    * dictionary pruning); past it Spark degrades the predicate to a
    * [min, max] range — still row-group-prunable on the sorted
    * layout. Above 65536 distinct candidates the literal In itself
    * becomes the hazard (a driver-built expression with millions of
    * Literal nodes), so the scan predicate switches to the explicit
    * [min, max] range + a broadcast semi-join — same pruning, bounded
    * expression. */
  def pqTopKRefinedFromCodes(queries: DataFrame, qId: String, qVec: String,
                             codes: DataFrame, payload: DataFrame,
                             codebook: Seq[Seq[Seq[Long]]], k: Int,
                             refine: Int = 4): DataFrame = {
    require(k >= 1 && refine >= 1, "k and refine must be positive")
    // enforce the candidate bound BEFORE the collect it exists to
    // gate: the panel row count is one cheap count job, and
    // panel · k · refine upper-bounds the ADC stage's output (the
    // per-query heap emits at most k·refine rows), so an oversized
    // panel fails here without ever materializing its candidates
    val nPanel = queries.count()
    require(nPanel * k * refine <= (4L << 20),
      s"refine stage would hold up to ${nPanel * k * refine} candidate " +
        "rows (|panel|·k·refine) — serve panels are bounded by " +
        "contract; split the query panel")
    refineExact(queries, qId, qVec,
      pqTopKFromCodes(queries, qId, qVec, codes, codebook, k * refine)
        .select(col("query_id"), col("corpus_id")),
      payload, k)
  }

  /** [[pqTopKRefinedFromCodes]] with IVF routing in front — the full
    * production serving chain (FAISS's IVFPQ + RFlat): queries route
    * to `nProbe` coarse lists, the DIRECTORY-pruned codes scan
    * proposes `k·refine` ADC candidates per query, and only those
    * candidates read their float vectors from the corpus_id-sorted
    * payload for the exact cosine re-rank. Both prunings compose: a
    * served batch reads ~nProbe/nCentroids of the code bytes AND
    * ~candidate row groups of the float payload — the two scans that
    * decide ANN serving cost at 100 TB, each bounded. Deterministic
    * end to end (integer routing + ADC, the x197 double-cosine
    * re-rank, ties to the smaller id), so the oracle replays it
    * bit-for-bit. Returns (query_id, rank, corpus_id, cosine). */
  def ivfPqTopKRefinedFromCodes(queries: DataFrame, qId: String,
                                qVec: String, codes: DataFrame,
                                cents: DataFrame, payload: DataFrame,
                                codebook: Seq[Seq[Seq[Long]]], k: Int,
                                nProbe: Int = 4, refine: Int = 4)
      : DataFrame = {
    require(k >= 1 && refine >= 1 && nProbe >= 1,
      "k, refine and nProbe must be positive")
    val nPanel = queries.count()
    require(nPanel * k * refine <= (4L << 20),
      s"refine stage would hold up to ${nPanel * k * refine} candidate " +
        "rows (|panel|·k·refine) — serve panels are bounded by " +
        "contract; split the query panel")
    refineExact(queries, qId, qVec,
      ivfPqTopKFromCodes(queries, qId, qVec, codes, cents, codebook,
          k * refine, nProbe)
        .select(col("query_id"), col("corpus_id")),
      payload, k)
  }

  /** Shared exact-refine tail ([[pqTopKRefinedFromCodes]] /
    * [[ivfPqTopKRefinedFromCodes]]): execute the candidate stage
    * (bounded by the callers' pre-checked |panel|·k·refine contract),
    * push the id set into the payload scan, re-rank by exact cosine.
    * THE SERVING SCAN IS PRUNED, not joined-then-discarded — see the
    * scan-economics discussion at [[pqTopKRefinedFromCodes]]. */
  private def refineExact(queries: DataFrame, qId: String, qVec: String,
                          candDf: DataFrame, payload: DataFrame,
                          k: Int): DataFrame = {
    val spark = queries.sparkSession
    val candRows = candDf.collect()
    if (candRows.isEmpty) {
      // empty panel: nothing to refine — an empty frame with the
      // contract schema (id types inherited from the candidate
      // stage), so downstream unions/selects still work
      val outSchema = org.apache.spark.sql.types.StructType(Seq(
        candDf.schema("query_id"),
        org.apache.spark.sql.types.StructField("rank",
          org.apache.spark.sql.types.LongType),
        candDf.schema("corpus_id"),
        org.apache.spark.sql.types.StructField("cosine",
          org.apache.spark.sql.types.DoubleType)))
      return spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        outSchema)
    }
    val cand = spark.createDataFrame(
      java.util.Arrays.asList(candRows: _*), candDf.schema)
    val candIds = candRows.map(_.get(1)).distinct.toSeq
    // small candidate sets push down as an In predicate (eq or-chain
    // under the session's raised parquet inFilterThreshold, InSet in
    // the filter) — the spec-asserted row-group + dictionary prune.
    // Past this bound a literal In is a driver-side expression-build
    // hazard (millions of Literal nodes before InSet conversion), so
    // push only the candidate id RANGE into the scan — row-group
    // prunable on the corpus_id-sorted payload all the same — and
    // make it exact with a broadcast semi-join on the tiny id frame
    val pruned =
      if (candIds.length <= 65536)
        payload.filter(col("corpus_id").isin(candIds: _*))
      else {
        val b = cand.agg(min(col("corpus_id")).as("lo"),
          max(col("corpus_id")).as("hi")).collect().head
        payload
          .filter(col("corpus_id").between(lit(b.get(0)), lit(b.get(1))))
          .join(broadcast(cand.select("corpus_id").distinct()),
            Seq("corpus_id"), "left_semi")
      }
    val qv = broadcast(queries.select(col(qId).as("query_id"),
      col(qVec).as("_qv"), norm(col(qVec)).as("_nq")))
    broadcast(cand).join(qv, Seq("query_id"))
      .join(pruned.withColumn("_ncv", norm(col("_cv"))), Seq("corpus_id"))
      .select(col("query_id"), col("corpus_id"),
        (dot(col("_qv"), col("_cv")) / (col("_nq") * col("_ncv")))
          .as("_cos"))
      .groupBy("query_id")
      .agg(graft.functions.TopKAgg.topk(col("_cos"), col("corpus_id"), k)
        .as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as("corpus_id"), col("col.v").as("cosine"))
  }

  /** IVF-PQ ANN — the full production serving shape: queries route to
    * the `nProbe` nearest coarse centroids (integer Lloyd codebook,
    * bit-deterministic like [[ivfTopKInt8]]), and only the probed
    * lists are scored, by PQ ASYMMETRIC DISTANCE over codes — the
    * corpus's float vectors are read exactly once at index-build time
    * (quantize + assign + encode) and never again at query time.
    * Compared to [[ivfTopKInt8]] (exact rerank inside probed lists),
    * this trades rank fidelity for a probed-list scan that touches
    * `subspaces` small ints per candidate instead of `dim` floats —
    * the memory-bandwidth regime that decides ANN throughput at
    * 100 TB. Exact for its codebooks, so the oracle replays it
    * bit-for-bit; recall is the codebooks' problem, measured by
    * [[pqRecallAudit]].
    *
    * Plan shape: coarse centroids broadcast (≤nCentroids rows);
    * corpus shuffles once on cluster id; per-query distance tables
    * (subspaces·ksub longs) ride the probe rows; per-query top-k is
    * the bounded native heap. Returns (query_id, rank, corpus_id,
    * adc_d2). */
  def ivfPqTopK(queries: DataFrame, qId: String, qVec: String,
                corpus: DataFrame, cId: String, cVec: String,
                codebook: Seq[Seq[Seq[Long]]], k: Int,
                nCentroids: Int = 16, nProbe: Int = 4,
                rounds: Int = 2): DataFrame = {
    require(k >= 1 && nProbe >= 1, "k and nProbe must be positive")
    val cq = corpus.select(col(cId).as("vid"),
        int8Quantize(col(cVec)).getField("q").as("q8"))
      .localCheckpoint()
    val cents = lloydLoop(cq, nCentroids, rounds)
    val bucketed = ivfPqEncodeAssigned(cq, cents, codebook)
    ivfAdcTopK(
      ivfProbes(queries, qId, qVec, cents, codebook, nProbe)
        .join(bucketed, Seq("cluster")),
      codebook, k)
  }

  /** The IVF-PQ corpus side shared by [[ivfPqTopK]] and the persisted
    * index build ([[AnnStore.buildIvfPq]]): assign each quantized
    * corpus row to its nearest coarse centroid and PQ-encode it.
    * `cq` is (vid, q8); returns (cluster, _cid, codes). One
    * definition so the in-session and served paths cannot drift. */
  private[graft] def ivfPqEncodeAssigned(cq: DataFrame, cents: DataFrame,
                                       codebook: Seq[Seq[Seq[Long]]])
      : DataFrame = {
    // r12: one in-row select — the coarse assignment (the one-subspace
    // PqEncode argmin, see [[int8AssignTo]]) and the PQ encode are
    // both per-row functions of q8, so the old assign-then-join-back-
    // on-vid shape (two corpus Exchanges) collapses to a pure scan
    val ksub = codebook.head.length
    val clusterType = cents.schema("cluster").dataType
    val rows = centroidTable(cents)
    if (rows.isEmpty)
      return cq.filter(lit(false)).select(
        lit(null).cast(clusterType).as("cluster"),
        col("vid").as("_cid"),
        lit(null).cast("array<int>").as("codes"))
    cq.select(
      assignColumn(col("q8"), rows).cast(clusterType).as("cluster"),
      col("vid").as("_cid"),
      graft.functions.VectorExpressions.pq_encode(col("q8"),
        codebook.flatten, ksub).as("codes"))
  }

  /** In-row nearest-centroid cluster id over a collected centroid
    * table — the one-subspace [[graft.functions.PqEncode]] argmin,
    * falling back to the smallest cluster id for a null/mismatched
    * q8 ([[int8AssignTo]]'s convention). */
  private def assignColumn(q8: Column,
                           rows: IndexedSeq[(Long, IndexedSeq[Long])])
      : Column = {
    require(rows.nonEmpty,
      "assignColumn needs a non-empty centroid table — callers guard " +
        "the empty-codebook case with an explicit empty frame")
    val code = element_at(graft.functions.VectorExpressions.pq_encode(
      q8, rows.map(_._2), rows.length), 1)
    coalesce(element_at(typedLit(rows.map(_._1)), code + 1),
      lit(rows.head._1))
  }

  /** Shared IVF query routing: each query keeps its `nProbe` nearest
    * coarse centroids (exact integer d2, ties to the smaller cluster
    * id) and carries its per-subspace ADC distance table. Returns
    * (query_id, _dtab, cluster). */
  private def ivfProbes(queries: DataFrame, qId: String, qVec: String,
                        cents: DataFrame, codebook: Seq[Seq[Seq[Long]]],
                        nProbe: Int): DataFrame = {
    val dotL = graft.functions.VectorExpressions.dot_long _
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("_d2c"), col("cluster"))
    pqQueryFrame(queries, qId, qVec, codebook)
      .withColumn("_qq", dotL(col("_q"), col("_q")))
      .crossJoin(broadcast(
        cents.withColumn("_cc", dotL(col("cvec"), col("cvec")))))
      .withColumn("_d2c",
        col("_qq") - dotL(col("_q"), col("cvec")) * 2 + col("_cc"))
      .withColumn("_pr", row_number().over(w))
      .filter(col("_pr") <= nProbe)
      .select(col("query_id"), col("_dtab"), col("cluster"))
  }

  /** Shared ADC top-k tail over (query_id, _dtab, _cid, codes) probe
    * rows — the bounded native heap, ties to the smaller corpus id.
    * Returns (query_id, rank, corpus_id, adc_d2). */
  private def ivfAdcTopK(probedRows: DataFrame,
                         codebook: Seq[Seq[Seq[Long]]], k: Int)
      : DataFrame = {
    val dist = pqAdcDistance(codebook)
    probedRows
      .select(col("query_id"), col("_cid"), dist.as("_d2"))
      .groupBy("query_id")
      .agg(graft.functions.TopKAgg.topk(-col("_d2"), col("_cid"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as("corpus_id"),
        (-col("col.v")).cast("long").as("adc_d2"))
  }

  /** [[ivfPqTopK]] over an ALREADY-ENCODED, cluster-assigned codes
    * frame ((cluster, _cid, codes) — [[ivfPqEncodeAssigned]]'s output,
    * e.g. loaded from a persisted [[AnnStore]] IVF-PQ index) plus its
    * (cluster, cvec) coarse-centroid frame: the IVF-PQ SERVING form.
    * The query routing executes eagerly (its output is bounded by
    * construction at nProbe rows per panel query) and the probed
    * cluster-id set is PUSHED INTO the codes read — with the codes
    * PARTITIONED BY cluster at save time ([[AnnStore.saveIvfPq]])
    * that is DIRECTORY-level partition pruning: a served batch reads
    * only the probed lists' files, which is the IVF contract
    * delivered at scan granularity (the flat-PQ serve scans all
    * codes; this reads nProbe/nCentroids of them). Probed ids are
    * emitted as Int literals so no cast lands on the partition
    * attribute (a cast would defeat the pruning). Bit-identical to
    * [[ivfPqTopK]] for the same persisted centroids + codebook. */
  def ivfPqTopKFromCodes(queries: DataFrame, qId: String, qVec: String,
                         codes: DataFrame, cents: DataFrame,
                         codebook: Seq[Seq[Seq[Long]]], k: Int,
                         nProbe: Int = 4): DataFrame = {
    require(k >= 1 && nProbe >= 1, "k and nProbe must be positive")
    val spark = queries.sparkSession
    val probesDf = ivfProbes(queries, qId, qVec, cents, codebook, nProbe)
    val rows = probesDf.collect()
    require(rows.length <= (1 << 20),
      s"IVF routing holds ${rows.length} probe rows (nProbe·|panel|) — " +
        "serve panels are bounded by contract; split the query panel")
    if (rows.isEmpty) {
      // corpus_id inherits the codes frame's _cid type (as the
      // non-empty branch does via ivfAdcTopK) — hardcoding Long here
      // would diverge the two branches' schemas for a non-Long corpus
      val outSchema = org.apache.spark.sql.types.StructType(Seq(
        probesDf.schema("query_id"),
        org.apache.spark.sql.types.StructField("rank",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("corpus_id",
          codes.schema("_cid").dataType),
        org.apache.spark.sql.types.StructField("adc_d2",
          org.apache.spark.sql.types.LongType)))
      return spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        outSchema)
    }
    val local = spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), probesDf.schema)
    val ci = probesDf.schema.fieldIndex("cluster")
    val probed = rows.map(_.getLong(ci).toInt).distinct.toSeq
    val pruned = codes.filter(col("cluster").isin(probed: _*))
    ivfAdcTopK(broadcast(local).join(pruned, Seq("cluster")), codebook, k)
  }

  /** Farthest-point (k-center greedy) sampling in the int8 domain —
    * the diversity-selection primitive behind coreset curation,
    * "pick k maximally-different exemplars per cluster", and k-means++
    * -style seeding without RNG. Round 1 picks the smallest id; each
    * later round picks the vector MAXIMIZING its distance to the
    * chosen set (exact integer L2, ties to the smallest id) — the
    * classic 2-approximation to the k-center optimum.
    *
    * Returns (rank 1..k, vec_id, radius) where radius is the point's
    * distance-to-chosen-set AT SELECTION — a decreasing sequence
    * whose tail says when additional exemplars stop buying coverage
    * (the elbow read).
    *
    * Scale shape: the quantized corpus materializes ONCE
    * (localCheckpoint) and each of the k−1 rounds is one narrow scan
    * + a TakeOrdered(1) reduce — no shuffle of the corpus, ever; the
    * chosen set rides the plan as k·dim literal longs (same
    * driver-bounded class as [[centroids]]). Round i evaluates i
    * distance terms per row, so total work is O(k²·n·dim/2) — k is
    * small by contract (exemplars, not clustering; use
    * [[kmeansLloyd]] past k ≈ 100). */
  def farthestPointSample(df: DataFrame, id: String, vec: String,
                          k: Int): DataFrame = {
    require(k >= 1 && k <= 256, "k must be in [1, 256]")
    val spark = df.sparkSession
    val dotL = graft.functions.VectorExpressions.dot_long _
    val q = df.select(col(id).cast("long").as("_id"),
        int8Quantize(col(vec)).getField("q").as("_q"))
      .localCheckpoint()
    val first = q.orderBy(col("_id")).limit(1).collect()
    require(first.nonEmpty, "corpus is empty")
    var chosen = Vector[(Long, IndexedSeq[Long], Option[Long])](
      (first.head.getLong(0), first.head.getSeq[Long](1).toIndexedSeq, None))
    for (_ <- 2 to k) {
      val minD = chosen.map { case (_, cv, _) =>
        dotL(col("_q"), col("_q")) - dotL(col("_q"), typedLit(cv)) * 2 +
          cv.map(x => x * x).sum
      }.reduce(least(_, _))
      val ids = chosen.map(_._1)
      val next = q.filter(!col("_id").isInCollection(ids))
        .select(col("_id"), col("_q"), minD.as("_md"))
        .orderBy(col("_md").desc, col("_id")).limit(1).collect()
      if (next.nonEmpty)
        chosen :+= ((next.head.getLong(0),
          next.head.getSeq[Long](1).toIndexedSeq,
          Some(next.head.getLong(2))))
    }
    import spark.implicits._
    chosen.zipWithIndex
      .map { case ((vid, _, rad), i) => ((i + 1).toLong, vid, rad) }
      .toDF("rank", "vec_id", "radius")
  }

  /** [[farthestPointSample]]'s DuckDB oracle: the identical greedy
    * unrolled as k−1 CTE rounds over the shared int8-quantize chain. */
  def farthestPointSampleSql(table: String, k: Int): String = {
    require(k >= 1)
    def d2(a: String, b: String) =
      s"""list_sum([ ($a[j] - $b[j]) * ($a[j] - $b[j])
         |           for j in range(1, len($a) + 1) ])::BIGINT""".stripMargin
    val header =
      s"""m AS (
         |  SELECT vec_id, embedding,
         |    list_max(list_transform(embedding,
         |      x -> abs(CAST(x AS DOUBLE)))) AS maxabs
         |  FROM $table),
         |q AS MATERIALIZED (
         |  SELECT vec_id,
         |    CASE WHEN maxabs = 0
         |      THEN list_transform(embedding, x -> 0::BIGINT)
         |      ELSE list_transform(embedding,
         |        x -> CAST(greatest(-127.0, least(127.0,
         |          floor(CAST(x AS DOUBLE) * (127.0 / maxabs) + 0.5)))
         |          AS BIGINT))
         |    END AS q8
         |  FROM m),
         |c1 AS MATERIALIZED (
         |  SELECT vec_id, q8 FROM q ORDER BY vec_id LIMIT 1),
         |m1 AS MATERIALIZED (
         |  SELECT v.vec_id, v.q8, ${d2("v.q8", "c.q8")} AS md
         |  FROM q v CROSS JOIN c1 c)""".stripMargin
    val rounds = (2 to k).map { i =>
      val prev = i - 1
      val notIn = (1 until i).map(j => s"SELECT vec_id FROM c$j")
        .mkString(" UNION ALL ")
      s"""c$i AS MATERIALIZED (
         |  SELECT vec_id, q8, md FROM m$prev
         |  WHERE vec_id NOT IN ($notIn)
         |  ORDER BY md DESC, vec_id LIMIT 1),
         |m$i AS MATERIALIZED (
         |  SELECT p.vec_id, p.q8,
         |    least(p.md, ${d2("p.q8", "c.q8")}) AS md
         |  FROM m$prev p CROSS JOIN c$i c)""".stripMargin
    }
    val sel = (s"SELECT 1::BIGINT AS rank, vec_id, NULL::BIGINT AS radius FROM c1" +:
      (2 to k).map(i =>
        s"SELECT $i::BIGINT AS rank, vec_id, md::BIGINT AS radius FROM c$i"))
      .mkString("\nUNION ALL ")
    s"""WITH ${(Seq(header) ++ rounds).mkString(",\n")}
       |$sel
       |ORDER BY rank""".stripMargin
  }

  /** Self-verifying recall audit for [[pqTopK]], the x169/x170
    * pattern: ground truth is the EXACT top-k by int8-lattice L2
    * (brute force over the query set — audit-bounded by contract),
    * candidate is the PQ-ADC top-k with the same codebook; one row
    * of engine-verifiable counts:
    * (n_queries, n_truth, n_hits, recall_ppm). The oracle recomputes
    * BOTH sides, so a quantizer/encoder/ADC bug on the Spark side
    * turns the row red rather than silently shifting recall. */
  def pqRecallAudit(queries: DataFrame, qId: String, qVec: String,
                    corpus: DataFrame, cId: String, cVec: String,
                    codebook: Seq[Seq[Seq[Long]]], k: Int): DataFrame = {
    val dotL = graft.functions.VectorExpressions.dot_long _
    val q = broadcast(queries.select(col(qId).as("query_id"),
      int8Quantize(col(qVec)).getField("q").as("_qq")))
    val c = corpus.select(col(cId).as("_cid"),
      int8Quantize(col(cVec)).getField("q").as("_cq"))
    val d2 = dotL(col("_qq"), col("_qq")) -
      dotL(col("_qq"), col("_cq")) * 2 + dotL(col("_cq"), col("_cq"))
    val exact = c.crossJoin(q)
      .select(col("query_id"), col("_cid"), d2.as("_d2"))
      .groupBy("query_id")
      .agg(graft.functions.TopKAgg.topk(-col("_d2"), col("_cid"), k).as("t"))
      .select(col("query_id"), explode(col("t")).as("e"))
      .select(col("query_id"), col("e.id").as("corpus_id"))
    val approx = pqTopK(queries, qId, qVec, corpus, cId, cVec, codebook, k)
      .select(col("query_id"), col("corpus_id"))
    val hits = exact.join(approx, Seq("query_id", "corpus_id"))
    exact.agg(count(lit(1)).as("n_truth"))
      .crossJoin(broadcast(hits.agg(count(lit(1)).as("n_hits"))))
      .crossJoin(broadcast(
        queries.agg(count(lit(1)).as("n_queries"))))
      .select(col("n_queries"), col("n_truth"), col("n_hits"),
        when(col("n_truth") > 0,
          IntMath.ppmDiv(col("n_hits"), col("n_truth"))).as("recall_ppm"))
  }

  /** Deterministic Johnson–Lindenstrauss random projection: the input
    * embedding is mapped to `outDim` coordinates, each the dot
    * product with one md5-derived [[Planes]] hyperplane — the
    * standard dimensionality-reduction front-end for coarse distance
    * filtering (project to 8–16 dims, prune by projected distance,
    * verify survivors in the full space), at a per-row cost of
    * outDim codegen'd dot products and an outDim/dim shrink of every
    * downstream shuffle that carries vectors. Deterministic planes ⇒
    * the projection is a pure function of the vector, reproducible on
    * any engine (same left-fold double dot as the oracle's
    * `dotsCteSql`) — no stored projection matrix to version or ship.
    * Components are uniform in [-0.5, 0.5) (variance 1/12), so
    * squared distances shrink by E ≈ outDim/12 — [[projectionDistortionAudit]]
    * measures the realized distortion; callers compare projected
    * distances only to projected distances (pruning), where the
    * scale cancels. Vector length is validated against `dim` like
    * [[Planes.bandBuckets]] — a silent mismatch would project
    * everything to NULL. */
  def randomProjection(df: DataFrame, id: String, vec: String,
                       outDim: Int, dim: Int = 64): DataFrame = {
    require(outDim >= 1 && outDim <= 1024, "outDim must be in [1, 1024]")
    val planes = Planes.components(outDim, dim)
    val v = when(size(col(vec)) === dim, col(vec)).otherwise(raise_error(
      concat(lit("randomProjection: vector length "),
        coalesce(size(col(vec)).cast("string"), lit("NULL")),
        lit(s" != projection dim $dim"))))
    df.select(col(id).as("vec_id"),
      array(planes.toIndexedSeq.map(p =>
        graft.functions.VectorExpressions.dot_product(v,
          typedLit(p.toSeq))): _*).as("proj"))
  }

  /** Distance-distortion audit for [[randomProjection]], the
    * x142/x184 instrument pattern: on a deterministic hash-sampled
    * sub-corpus, every pair's squared distance in the projected space
    * (unbiased-rescaled by 12/outDim — the JL variance correction for
    * uniform[-0.5,0.5) components) is compared against its true
    * squared distance, reported as integer
    * `distortion_ppm = floor(10⁶ · 12 · d²_proj / (outDim · d²_true))`
    * per pair (1 000 000 = perfectly preserved). The concentration of
    * this column around 10⁶ is the go/no-go check before trusting a
    * projected-distance prune at a new outDim. Pairs with d²_true = 0
    * (exact duplicates) are excluded — their distortion is undefined
    * and any prune keeps them anyway.
    *
    * Audit-only shape: the SAMPLED side is broadcast for the a<b pair
    * join (like every exact-truth audit here — never the production
    * path); both distances are computed in-row with the same
    * left-fold double arithmetic the oracle mirrors, and the output
    * is one integer per pair. */
  def projectionDistortionAudit(df: DataFrame, id: String, vec: String,
                                outDim: Int, dim: Int = 64,
                                sampleMod: Long = 7): DataFrame = {
    require(sampleMod >= 1, "sampleMod must be positive")
    val parts = df.sparkSession.sessionState.conf.numShufflePartitions
    val s = df
      .filter(pmod(Planes.subHash(col(id)), lit(sampleMod)) === 0)
      .select(col(id).as("_id"), col(vec).as("v"))
      .repartition(parts).localCheckpoint()
    val p = randomProjection(s, "_id", "v", outDim, dim)
      .withColumnRenamed("vec_id", "_id")
    val joined = s.join(p, "_id").localCheckpoint()
    def d2(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) =>
          (x.cast("double") - y.cast("double")) *
            (x.cast("double") - y.cast("double"))),
        lit(0.0), (acc, x) => acc + x)
    joined.as("a").join(broadcast(joined).as("b"), col("a._id") < col("b._id"))
      .select(col("a._id").as("id_a"), col("b._id").as("id_b"),
        d2(col("a.v"), col("b.v")).as("_dx"),
        d2(col("a.proj"), col("b.proj")).as("_dp"))
      .filter(col("_dx") > 0.0)
      .select(col("id_a"), col("id_b"),
        floor(lit(1e6) * lit(12.0) * col("_dp") /
          (lit(outDim.toDouble) * col("_dx"))).cast("long")
          .as("distortion_ppm"))
  }
}
