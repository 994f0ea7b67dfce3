package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.tables.t
import graft.ext.{Assoc, BloomJoin, Bpe, Chunk, Classify, Cms, Dedup, Drift, Eval, Fuzzy, Graph, Hll, Index, IntMath, Kmv, Multimodal, Packing, Planes, Prefix, Privacy, Profile, Redact, Sampling, Similarity, Skew, Temporal, TextAnalysis}
import graft.io.ZOrder
import graft.Sizing

/** Training-data-pipeline extension queries (north-star surface):
  * dedup (exact / n-gram Jaccard / MinHash+LSH / SimHash / embedding),
  * ANN similarity search, text analysis, multimodal metadata — each
  * running the real graft.ext operator with a DuckDB oracle where the
  * semantics are SQL-expressible.
  *
  * The documents table has planted near-dups (25 pairs at 3-gram
  * Jaccard ≥ 0.8, all other pairs < 0.1), so thresholds at 0.6
  * separate signal from noise with huge margin — which also makes
  * MinHash-LSH recall effectively exact (miss probability ≤ 1e-28 at
  * 64 bands × 2 rows for s ≥ 0.8).
  */
object ExtQ {

  type Fn = (SparkSession, String) => DataFrame

  /** Shared DuckDB CTE: distinct word-3-gram shingle rows per doc —
    * incl. WordShingles' truncated tokens[0, len) gram for texts
    * shorter than 3 tokens (equivalent for len >= 3; without it a
    * fixture regeneration with short docs would diverge from the
    * engine even though every gate is green today). */
  private val shingleCte =
    """sh AS (
      |  SELECT doc_id, unnest(list_distinct(
      |    [ array_to_string(s[i:least(i+2, len(s))], ' ')
      |      for i in range(1, greatest(len(s) - 1, 2)) ])) AS sh
      |  FROM (SELECT doc_id, string_split(text, ' ') AS s FROM documents)),
      |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
      |jac AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |    COUNT(*)::DOUBLE /
      |      (any_value(sa.sz) + any_value(sb.sz) - COUNT(*)) AS jaccard
      |  FROM sh a
      |  JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      |  JOIN sizes sa ON sa.doc_id = a.doc_id
      |  JOIN sizes sb ON sb.doc_id = b.doc_id
      |  GROUP BY a.doc_id, b.doc_id)""".stripMargin

  /** Exact dedup by content digest over a corpus with synthesized
    * duplicates (every 7th doc re-appears under id+10000). */
  private val x01: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val withDups = docs.select($"doc_id", $"text").unionByName(
        docs.filter($"doc_id" % 7 === 0)
          .select(($"doc_id" + 10000).as("doc_id"), $"text"))
      // ids emitted as a comma-joined string (not array<long>): the
      // driver's pandas hash-compare cannot sort array-valued cells
      Dedup.exactDupGroups(withDups, "doc_id", "text")
        .select($"digest", $"n_docs",
          concat_ws(",", transform($"ids", _.cast("string"))).as("ids"))
        .orderBy($"digest")
    },
    """SELECT md5(text) AS digest, COUNT(*) AS n_docs,
      |  array_to_string(list_sort(list(doc_id)), ',') AS ids
      |FROM (SELECT doc_id, text FROM documents
      |      UNION ALL
      |      SELECT doc_id + 10000, text FROM documents WHERE doc_id % 7 = 0)
      |GROUP BY digest HAVING COUNT(*) > 1 ORDER BY digest""".stripMargin)

  /** Exact n-gram Jaccard near-dup pairs (the verification primitive). */
  private val x02: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      Dedup.ngramJaccardPairs(t(s, d, "documents"), "doc_id", "text",
          n = 3, threshold = 0.6)
        .orderBy($"id_a", $"id_b")
    },
    s"""WITH $shingleCte
       |SELECT id_a, id_b, jaccard FROM jac
       |WHERE jaccard >= 0.6 ORDER BY id_a, id_b""".stripMargin)

  /** MinHash+LSH near-dups: banded signature pruning + exact verify.
    * Oracle is the exact-Jaccard pair set — LSH recall at this margin
    * is exact, so pruning must not change the answer. */
  private val x03: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      Dedup.minhashLshPairs(t(s, d, "documents"), "doc_id", "text",
          n = 3, threshold = 0.6, bands = 64, rowsPerBand = 2)
        .orderBy($"id_a", $"id_b")
    },
    s"""WITH $shingleCte
       |SELECT id_a, id_b, jaccard FROM jac
       |WHERE jaccard >= 0.6 ORDER BY id_a, id_b""".stripMargin)

  /** The DuckDB reproduction of [[Dedup.simhash64]] (doc_id, simhash)
    * from md5 nibble votes — shared by the x04 signature gate and the
    * x45 pair gate. */
  private val simhashSigSql: String =
    """SELECT doc_id,
      |  CAST(SUM(CASE WHEN vote <= 0 THEN 0
      |            WHEN j = 63 THEN -9223372036854775807 - 1
      |            ELSE CAST(pow(2, j) AS BIGINT) END)
      |       AS BIGINT) AS simhash
      |FROM (
      |  SELECT doc_id, j, SUM(2 * bit - 1) AS vote
      |  FROM (
      |    SELECT doc_id, j,
      |      CAST(floor(nib / pow(2, j % 4)) AS BIGINT) % 2 AS bit
      |    FROM (
      |      SELECT doc_id, j,
      |        strpos('0123456789abcdef',
      |          substr(md5(tok), CAST(floor(j / 4) AS INTEGER) + 1, 1)) - 1 AS nib
      |      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      |            FROM documents)
      |      CROSS JOIN (SELECT unnest(range(0, 64)) AS j)))
      |  GROUP BY doc_id, j)
      |GROUP BY doc_id""".stripMargin

  /** SimHash signatures, bit-for-bit reproduced by the oracle from
    * md5 nibble votes. */
  private val x04: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      t(s, d, "documents")
        .select($"doc_id", Dedup.simhash64($"text").as("simhash"))
        .orderBy($"doc_id")
    },
    s"$simhashSigSql ORDER BY doc_id")

  /** SimHash near-dup pairs (hamming ≤ 3) through the banded join —
    * the oracle REPLAYS the production candidate path (4 disjoint
    * 16-bit chunks, the oversized-bucket cap via
    * [[Planes.cappedSkCteSql]] — a no-op below 4096 members/bucket,
    * where pigeonhole banding is lossless) and then the exact hamming
    * verify, so banding, cap, and verification must all agree with
    * the engine. Unsigned chunk extraction goes through HUGEINT
    * (simhash + 2^64 when negative) to mirror Spark's
    * shiftrightunsigned exactly. */
  private val x45: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      Dedup.simhashPairs(t(s, d, "documents"), "doc_id", "text", maxHamming = 3)
        .select($"id_a", $"id_b", $"hamming".cast("int").as("hamming"))
        .orderBy($"id_a", $"id_b")
    },
    s"""WITH sigs AS ($simhashSigSql),
       |usig AS (
       |  SELECT doc_id, CASE WHEN simhash < 0
       |    THEN simhash::HUGEINT + 18446744073709551616::HUGEINT
       |    ELSE simhash::HUGEINT END AS u
       |  FROM sigs),
       |sk AS (
       |  SELECT doc_id AS vec_id, band, ((u // d) % 65536)::BIGINT AS bucket
       |  FROM usig CROSS JOIN (VALUES (0, 1::HUGEINT),
       |    (1, 65536::HUGEINT), (2, 4294967296::HUGEINT),
       |    (3, 281474976710656::HUGEINT)) AS bw(band, d)),
       |${Planes.cappedSkCteSql(4096)},
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM skb a JOIN skb b
       |    ON a.band = b.band AND a.bucket = b.bucket AND a.sub = b.sub
       |    AND a.vec_id < b.vec_id)
       |SELECT cand.id_a, cand.id_b,
       |  bit_count(xor(sa.simhash, sb.simhash))::INT AS hamming
       |FROM cand
       |JOIN sigs sa ON sa.doc_id = cand.id_a
       |JOIN sigs sb ON sb.doc_id = cand.id_b
       |WHERE bit_count(xor(sa.simhash, sb.simhash)) <= 3
       |ORDER BY id_a, id_b""".stripMargin)

  /** End-to-end dedup APPLICATION: near-dup pairs → components →
    * quality-aware keeper (distinct-token richness, ties to smallest
    * id) → the SURVIVING corpus via one anti-join. The oracle replays
    * the whole pipeline (recursive transitive closure + window argmax
    * + NOT IN) so pair recall, clustering, keeper policy, and the
    * anti-join must all agree row-for-row. */
  private val x46: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        n = 3, threshold = 0.6)
      val richness = size(filter(array_distinct(split($"text", " ")),
        x => x =!= lit(""))).cast("long")
      Dedup.dedupCorpus(docs, "doc_id", pairs, richness)
        .select($"doc_id", richness.as("richness"))
        .orderBy($"doc_id")
    },
    s"""WITH RECURSIVE $shingleCte,
       |edges AS (SELECT id_a, id_b FROM jac WHERE jaccard >= 0.6),
       |und AS (SELECT id_a AS src, id_b AS dst FROM edges
       |        UNION SELECT id_b, id_a FROM edges),
       |reach(id, r) AS (
       |  SELECT src, src FROM und
       |  UNION
       |  SELECT re.id, u.dst FROM reach re JOIN und u ON u.src = re.r),
       |comp AS (SELECT id, MIN(r) AS cluster FROM reach GROUP BY id),
       |rich AS (SELECT doc_id, len(list_distinct(
       |    [t for t in string_split(text, ' ') if len(t) > 0]))::BIGINT
       |    AS richness FROM documents),
       |mem AS (SELECT c.cluster, c.id, rich.richness
       |        FROM comp c JOIN rich ON rich.doc_id = c.id),
       |ranked AS (SELECT cluster, id, ROW_NUMBER() OVER
       |  (PARTITION BY cluster ORDER BY richness DESC, id) AS rk FROM mem),
       |todrop AS (SELECT id FROM ranked WHERE rk > 1)
       |SELECT d.doc_id, rich.richness
       |FROM documents d JOIN rich ON rich.doc_id = d.doc_id
       |WHERE d.doc_id NOT IN (SELECT id FROM todrop)
       |ORDER BY d.doc_id""".stripMargin)

  /** Decontamination by DELETION (the rewrite counterpart of x23's
    * membership flag): every corpus 3-gram window matching a benchmark
    * shingle is dropped from the text. Benchmark = every 50th doc;
    * corpus = the rest. The oracle replays the token surgery with
    * nested list comprehensions, so window indexing, benchmark
    * matching, and the re-join must agree byte-for-byte. */
  private val x47: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      Dedup.removeContaminatedSpans(
          docs.filter($"doc_id" % 50 =!= 0), "doc_id", "text",
          docs.filter($"doc_id" % 50 === 0), "text", n = 3)
        .select($"doc_id", $"text_clean", $"n_removed")
        .orderBy($"doc_id")
    },
    """WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 50 <> 0),
      |tk AS (SELECT doc_id,
      |         [t for t in string_split(text, ' ') if len(t) > 0] AS toks
      |       FROM corpus),
      |bt AS (SELECT [t for t in string_split(text, ' ') if len(t) > 0] AS toks
      |       FROM documents WHERE doc_id % 50 = 0),
      |bsh AS (SELECT DISTINCT array_to_string(toks[i:i+2], ' ') AS sh
      |        FROM (SELECT toks, unnest(range(1, len(toks) - 1)) AS i
      |              FROM bt WHERE len(toks) >= 3)),
      |probes AS (SELECT doc_id, i, array_to_string(toks[i:i+2], ' ') AS sh
      |           FROM (SELECT doc_id, toks,
      |                   unnest(range(1, len(toks) - 1)) AS i
      |                 FROM tk WHERE len(toks) >= 3)),
      |hits AS (SELECT probes.doc_id, list(DISTINCT i - 1) AS starts
      |         FROM probes JOIN bsh USING (sh) GROUP BY probes.doc_id),
      |final AS (
      |  SELECT t.doc_id,
      |    [t.toks[i] for i in range(1, len(t.toks) + 1)
      |     if len([s for s in COALESCE(h.starts, CAST([] AS BIGINT[]))
      |             if s <= i - 1 and i - 1 < s + 3]) = 0] AS kept,
      |    len(t.toks) AS ntok
      |  FROM tk t LEFT JOIN hits h ON h.doc_id = t.doc_id)
      |SELECT doc_id,
      |  -- Spark concat_ws gives '' on an empty token list; DuckDB
      |  -- array_to_string is string_agg-like and yields NULL
      |  COALESCE(array_to_string(kept, ' '), '') AS text_clean,
      |  (ntok - len(kept))::BIGINT AS n_removed
      |FROM final ORDER BY doc_id""".stripMargin)

  /** Unigram surprisal quality scoring (CCNet's perplexity signal in
    * integer-exact Zipf buckets): floor(log2(total/cnt)) per token via
    * binary digit counts — no float log crosses the engines. */
  private val x48: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      TextAnalysis.unigramSurprisal(t(s, d, "documents"), "doc_id", "text")
        .orderBy($"doc_id")
    },
    """WITH tok AS (
      |  SELECT doc_id, unnest([t for t in string_split(text, ' ')
      |                         if len(t) > 0]) AS t
      |  FROM documents),
      |wc AS (SELECT t, COUNT(*)::BIGINT AS cnt FROM tok GROUP BY t),
      |tot AS (SELECT SUM(cnt)::BIGINT AS total FROM wc),
      |per AS (SELECT doc_id,
      |          (length(bin(total // cnt)) - 1)::BIGINT AS bits
      |        FROM tok JOIN wc USING (t), tot)
      |SELECT doc_id, COUNT(*)::BIGINT AS n_toks,
      |  SUM(bits)::BIGINT AS bits_sum,
      |  (SUM(bits) * 1000000 // COUNT(*))::BIGINT AS surprisal_ppm
      |FROM per GROUP BY doc_id ORDER BY doc_id""".stripMargin)

  /** Whole-table column profile over orders (long/string/date columns
    * — types whose string rendering is engine-identical): row/null/
    * exact-distinct counts + min/max per column, one Expand pass. */
  private val x49: (Fn, String) = {
    val profCols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_orderdate", "o_orderpriority")
    def colSql(c: String) =
      s"""SELECT '$c' AS "column", COUNT(*)::BIGINT AS n_rows,
         |  SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_null,
         |  COUNT(DISTINCT $c)::BIGINT AS n_distinct,
         |  MIN(CAST($c AS VARCHAR)) AS min_s,
         |  MAX(CAST($c AS VARCHAR)) AS max_s
         |FROM orders""".stripMargin
    ((s, d) => {
      import s.implicits._
      Profile.columnStats(t(s, d, "orders"), profCols)
        .orderBy($"column")
    },
    profCols.map(colSql).mkString("", "\nUNION ALL\n", "\nORDER BY \"column\""))
  }

  /** Incremental NEAR-dup dedup: odd-id docs are the arriving batch,
    * even-id docs the accumulated history — banded MinHash buckets
    * join only ACROSS the frames, exact-Jaccard verified. The oracle
    * is the cross-parity slice of the exact all-pairs Jaccard, so LSH
    * recall at this margin must be total (x03's guarantee, applied
    * across corpora). */
  private val x50: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      Dedup.minhashLshPairsAcross(
          docs.filter($"doc_id" % 2 === 1), docs.filter($"doc_id" % 2 === 0),
          "doc_id", "text", n = 3, threshold = 0.6)
        .orderBy($"id_a", $"id_b")
    },
    s"""WITH $shingleCte
       |SELECT CASE WHEN id_a % 2 = 1 THEN id_a ELSE id_b END AS id_a,
       |       CASE WHEN id_a % 2 = 1 THEN id_b ELSE id_a END AS id_b,
       |       jaccard
       |FROM jac
       |WHERE jaccard >= 0.6 AND (id_a % 2) <> (id_b % 2)
       |ORDER BY id_a, id_b""".stripMargin)

  /** Bigram (conditional) surprisal quality scoring — the LM-flavoured
    * companion of x48, same integer-exact Zipf-bucket arithmetic over
    * cnt(prev)/cnt(prev,tok). */
  private val x51: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      TextAnalysis.bigramSurprisal(t(s, d, "documents"), "doc_id", "text")
        .orderBy($"doc_id")
    },
    """WITH tk AS (
      |  SELECT doc_id, [t for t in string_split(text, ' ')
      |                  if len(t) > 0] AS toks
      |  FROM documents),
      |bg AS (SELECT doc_id, toks[i] AS prev, toks[i+1] AS tok
      |       FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
      |             FROM tk WHERE len(toks) >= 2)),
      |bcnt AS (SELECT prev, tok, COUNT(*)::BIGINT AS bcnt
      |         FROM bg GROUP BY prev, tok),
      |ccnt AS (SELECT prev, SUM(bcnt)::BIGINT AS ccnt
      |         FROM bcnt GROUP BY prev),
      |per AS (SELECT doc_id,
      |          (length(bin(ccnt // bcnt)) - 1)::BIGINT AS bits
      |        FROM bg JOIN bcnt USING (prev, tok) JOIN ccnt USING (prev))
      |SELECT doc_id, COUNT(*)::BIGINT AS n_bigrams,
      |  SUM(bits)::BIGINT AS bits_sum,
      |  (SUM(bits) * 1000000 // COUNT(*))::BIGINT AS surprisal_ppm
      |FROM per GROUP BY doc_id ORDER BY doc_id""".stripMargin)

  /** DuckDB double-precision cosine mirroring Similarity.cosine's op
    * order exactly: left-fold dot, cosine = dot/(sqrt(na)*sqrt(nb)). */
  private def cosineSql(a: String, b: String): String =
    s"""list_reduce([ CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)
       |              for i in range(1, len($a) + 1) ], (x, y) -> x + y) /
       |  (sqrt(list_reduce([ CAST($a[i] AS DOUBLE) * CAST($a[i] AS DOUBLE)
       |              for i in range(1, len($a) + 1) ], (x, y) -> x + y)) *
       |   sqrt(list_reduce([ CAST($b[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)
       |              for i in range(1, len($b) + 1) ], (x, y) -> x + y)))""".stripMargin

  /** Embedding-cosine near-dup pairs via LSH banding + exact verify —
    * the scale path (no O(n²) pair join). The oracle mirrors the
    * banding deterministically: the md5-derived planes ([[Planes]])
    * are reproduced in SQL, so the candidate set — and therefore the
    * output — is identical by construction, not probabilistically.
    * The gate exercises the CORPUS-AWARE defaults (bands/bits derived
    * from the vector count, [[Planes.bitsFor]]/[[Planes.bandsFor]]):
    * at every gate corpus size n ≤ 2048 the derivation lands on
    * exactly (8 bands, 4 bits), which this static 32-plane oracle
    * pins — including the oversized-bucket sub-split
    * ([[Planes.cappedSkCteSql]], a no-op below 4096 members/bucket
    * but semantically mirrored so the cap itself is gated). */
  private val x05: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      Dedup.embeddingNearDups(t(s, d, "embeddings"), "vec_id", "embedding",
          threshold = 0.4, dim = 64)
        .select($"id_a", $"id_b",
          (floor($"cosine" * 1e6 + 0.5) / 1e6).as("cos6"))
        .orderBy($"id_a", $"id_b")
    },
    s"""WITH ${Planes.planesCteSql(32, 64)},
       |${Planes.dotsCteSql("embeddings", "vec_id", "embedding", 64)},
       |sk AS (
       |  SELECT vec_id, p // 4 AS band,
       |    CAST(SUM(CASE WHEN dot > 0 THEN CAST(pow(2, p % 4) AS BIGINT)
       |             ELSE 0 END) AS BIGINT) AS bucket
       |  FROM dots GROUP BY vec_id, band),
       |${Planes.cappedSkCteSql(4096)},
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM skb a JOIN skb b
       |    ON a.band = b.band AND a.bucket = b.bucket AND a.sub = b.sub
       |    AND a.vec_id < b.vec_id)
       |SELECT id_a, id_b, floor(cosine * 1e6 + 0.5) / 1e6 AS cos6 FROM (
       |  SELECT id_a, id_b, ${cosineSql("ea.embedding", "eb.embedding")} AS cosine
       |  FROM cand
       |  JOIN embeddings ea ON ea.vec_id = cand.id_a
       |  JOIN embeddings eb ON eb.vec_id = cand.id_b)
       |WHERE cosine >= 0.4 ORDER BY id_a, id_b""".stripMargin)

  /** IVF ANN top-k with the DETERMINISTIC int8 coarse quantizer
    * ([[Similarity.ivfTopKInt8]]): the codebook is the x87 integer
    * Lloyd's k-means (smallest-id seeds, 2 rounds), so buckets,
    * probes and the final ranking are bit-reproducible — the oracle
    * composes the x87 CTE chain with the probe ranking and the
    * in-bucket exact-cosine top-k, closing the one gate that was
    * rows-only through round 4. */
  private val x14: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      val emb = t(s, d, "embeddings")
      Similarity.ivfTopKInt8(emb.filter($"vec_id" < 5), "vec_id", "embedding",
          emb, "vec_id", "embedding",
          k = 10, nCentroids = 16, nProbe = 6, rounds = 2)
        .select($"query_id", $"neighbour_id", $"rank",
          (floor($"cosine" * 1e6 + 0.5) / 1e6).as("cos6"))
        .orderBy($"query_id", $"rank")
    }, {
      val (ctes, asgRel, centRel) =
        Similarity.kmeansLloydCtes("embeddings", k = 16, rounds = 2)
      s"""WITH $ctes,
         |dq AS (
         |  SELECT q.vec_id AS query_id, c.cluster,
         |    list_sum([ (q.q8[j] - c.cvec[j]) * (q.q8[j] - c.cvec[j])
         |               for j in range(1, len(q.q8) + 1) ])::BIGINT AS d2
         |  FROM q CROSS JOIN $centRel c WHERE q.vec_id < 5),
         |qp AS (
         |  SELECT query_id, cluster FROM (
         |    SELECT query_id, cluster,
         |      ROW_NUMBER() OVER (PARTITION BY query_id
         |        ORDER BY d2, cluster) AS pr
         |    FROM dq) WHERE pr <= 6),
         |sc AS (
         |  SELECT qp.query_id, a.vec_id AS neighbour_id,
         |    ${cosineSql("qe.embedding", "ce.embedding")} AS cosine
         |  FROM qp
         |  JOIN $asgRel a ON a.cluster = qp.cluster
         |    AND a.vec_id <> qp.query_id
         |  JOIN embeddings qe ON qe.vec_id = qp.query_id
         |  JOIN embeddings ce ON ce.vec_id = a.vec_id)
         |SELECT query_id, neighbour_id, rank,
         |  floor(cosine * 1e6 + 0.5) / 1e6 AS cos6
         |FROM (
         |  SELECT query_id, neighbour_id, cosine,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY cosine DESC, neighbour_id) AS INTEGER) AS rank
         |  FROM sc)
         |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin
    })

  /** LSH-bucketed ANN top-k (the 100 TB ANN path): candidates must
    * share the query's full sign-bit sketch; oracle mirrors the
    * sketch exactly (same md5-derived planes). */
  private val x15: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      val emb = t(s, d, "embeddings")
      Similarity.lshTopK(emb.filter($"vec_id" < 5), "vec_id", "embedding",
          emb, "vec_id", "embedding", k = 10, bits = 4, dim = 64)
        .select($"query_id", $"neighbour_id", $"rank",
          (floor($"cosine" * 1e6 + 0.5) / 1e6).as("cos6"))
        .orderBy($"query_id", $"rank")
    },
    s"""WITH ${Planes.planesCteSql(4, 64)},
       |${Planes.dotsCteSql("embeddings", "vec_id", "embedding", 64)},
       |sk AS (
       |  SELECT vec_id,
       |    CAST(SUM(CASE WHEN dot > 0 THEN CAST(pow(2, p) AS BIGINT)
       |             ELSE 0 END) AS BIGINT) AS sk
       |  FROM dots GROUP BY vec_id)
       |SELECT query_id, neighbour_id, rank, floor(cosine * 1e6 + 0.5) / 1e6 AS cos6
       |FROM (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbour_id,
       |    ${cosineSql("qe.embedding", "ce.embedding")} AS cosine,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
       |      ${cosineSql("qe.embedding", "ce.embedding")} DESC, c.vec_id)
       |      AS INTEGER) AS rank
       |  FROM sk q
       |  JOIN sk c ON q.sk = c.sk AND q.vec_id <> c.vec_id
       |  JOIN embeddings qe ON qe.vec_id = q.vec_id
       |  JOIN embeddings ce ON ce.vec_id = c.vec_id
       |  WHERE q.vec_id < 5)
       |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin)

  /** Brute-force cosine top-10 for 5 query vectors. */
  private val x06: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      val emb = t(s, d, "embeddings")
      Similarity.bruteForceTopK(
          emb.filter($"vec_id" < 5), "vec_id", "embedding",
          emb, "vec_id", "embedding", k = 10)
        .select($"query_id", $"neighbour_id", $"rank",
          (floor($"cosine" * 1e6 + 0.5) / 1e6).as("cos6"))
        .orderBy($"query_id", $"rank")
    },
    s"""SELECT query_id, neighbour_id, rank, floor(cosine * 1e6 + 0.5) / 1e6 AS cos6
       |FROM (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbour_id,
       |    ${cosineSql("q.embedding", "c.embedding")} AS cosine,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
       |      ${cosineSql("q.embedding", "c.embedding")} DESC, c.vec_id)
       |      AS INTEGER) AS rank
       |  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
       |  WHERE q.vec_id < 5)
       |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin)

  /** Per-document text statistics + quality score. */
  private val x07: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      t(s, d, "documents").select(
          $"doc_id",
          TextAnalysis.tokenCount($"text").as("n_tokens"),
          TextAnalysis.meanTokenLength($"text").as("mean_tok_len"),
          TextAnalysis.stopwordRatio($"text", Seq("the", "a", "value", "data"))
            .as("stop_ratio"),
          TextAnalysis.qualityScore($"text").as("quality"))
        .orderBy($"doc_id")
    },
    """SELECT doc_id,
      |  CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
      |  (length(text) - len(string_split(text, ' ')) + 1)::DOUBLE
      |    / len(string_split(text, ' ')) AS mean_tok_len,
      |  len(list_filter(string_split(text, ' '),
      |      x -> x IN ('the', 'a', 'value', 'data')))::DOUBLE
      |    / len(string_split(text, ' ')) AS stop_ratio,
      |  floor((least(length(text)::DOUBLE / 500.0, 1.0) * 0.6 +
      |         (1.0 - least((length(text) -
      |            length(regexp_replace(text, '[[:punct:]]', '', 'g')))::DOUBLE
      |            / length(text) * 5.0, 1.0)) * 0.4) * 10000.0 + 0.5) / 10000.0
      |    AS quality
      |FROM documents ORDER BY doc_id""".stripMargin)

  /** Marker-word language ID vs the labeled lang column. */
  private val x08: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      val markers = Seq(
        "en" -> Seq("the", "a"), "de" -> Seq("table", "row"),
        "fr" -> Seq("value", "data"), "es" -> Seq("query", "join"))
      t(s, d, "documents")
        .select($"lang".as("labeled"),
          TextAnalysis.langId($"text", markers).as("detected"))
        .groupBy($"labeled", $"detected")
        .agg(count(lit(1)).as("n"))
        .orderBy($"labeled", $"detected")
    },
    """SELECT labeled, detected, COUNT(*) AS n FROM (
      |  SELECT lang AS labeled,
      |    CASE WHEN s_en = mx THEN 'en' WHEN s_de = mx THEN 'de'
      |         WHEN s_fr = mx THEN 'fr' ELSE 'es' END AS detected
      |  FROM (
      |    SELECT lang,
      |      len(list_filter(toks, x -> x IN ('the', 'a'))) AS s_en,
      |      len(list_filter(toks, x -> x IN ('table', 'row'))) AS s_de,
      |      len(list_filter(toks, x -> x IN ('value', 'data'))) AS s_fr,
      |      len(list_filter(toks, x -> x IN ('query', 'join'))) AS s_es,
      |      greatest(
      |        len(list_filter(toks, x -> x IN ('the', 'a'))),
      |        len(list_filter(toks, x -> x IN ('table', 'row'))),
      |        len(list_filter(toks, x -> x IN ('value', 'data'))),
      |        len(list_filter(toks, x -> x IN ('query', 'join')))) AS mx
      |    FROM (SELECT lang, string_split(text, ' ') AS toks FROM documents)))
      |GROUP BY labeled, detected ORDER BY labeled, detected""".stripMargin)

  /** Winnowing-style fingerprint: min md5 over word 5-grams. */
  private val x09: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      t(s, d, "documents")
        .select($"doc_id", TextAnalysis.fingerprint($"text").as("fingerprint"))
        .orderBy($"doc_id")
    },
    """SELECT doc_id,
      |  list_aggregate([ md5(s[i] || ' ' || s[i+1] || ' ' || s[i+2] || ' '
      |                     || s[i+3] || ' ' || s[i+4])
      |    for i in range(1, greatest(len(s) - 4, 1) + 1) ], 'min') AS fingerprint
      |FROM (SELECT doc_id, string_split(text, ' ') AS s FROM documents)
      |ORDER BY doc_id""".stripMargin)

  /** Multimodal payload metadata (binary column plumbing; the decode
    * stub itself is spec-tested — no SQL surface for mapPartitions). */
  private val x10: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      Multimodal.attachPayload(t(s, d, "documents"), "doc_id", "text")
        .select($"media_id", $"media_type",
          length($"payload").as("n_bytes"),
          md5($"payload").as("digest"))
        .orderBy($"media_id")
    },
    """SELECT doc_id AS media_id,
      |  CASE WHEN doc_id % 3 = 0 THEN 'image/png'
      |       WHEN doc_id % 3 = 1 THEN 'audio/wav'
      |       ELSE 'video/mp4' END AS media_type,
      |  CAST(strlen(text) AS INTEGER) AS n_bytes,
      |  md5(text) AS digest
      |FROM documents ORDER BY media_id""".stripMargin)

  /** Salted skew-safe join + two-phase salted aggregation: the salting
    * machinery must leave results IDENTICAL to the plain forms — the
    * oracle is the unsalted SQL. */
  private val x11: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      val li = t(s, d, "lineitem").withColumn("p_partkey", $"l_partkey")
      val p = t(s, d, "part").select($"p_partkey", $"p_brand")
      val joined = graft.ext.Skew.saltedJoin(
        li, p, "p_partkey", salts = 8,
        bigSaltCols = Seq("l_orderkey", "l_linenumber"))
      joined.groupBy($"p_brand")
        .agg(graft.tables.dsum($"l_extendedprice").as("revenue"),
          count(lit(1)).as("n"))
        .orderBy($"p_brand")
    },
    """SELECT p_brand,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |GROUP BY p_brand ORDER BY p_brand""".stripMargin)

  /** As-of join: each purchase enriched with the user's most recent
    * prior (or simultaneous) click. Oracle: DuckDB's native ASOF JOIN. */
  private val x12: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      val ev = t(s, d, "events")
      val purchases = ev.filter($"event_type" === "purchase")
      val clicks = ev.filter($"event_type" === "click")
      graft.ext.Temporal.asOfJoin(purchases, clicks,
          key = "user_id", ts = "ts", tieBreak = "event_id",
          payload = Seq("event_id", "value"))
        .select($"event_id", $"user_id", $"value",
          $"asof_event_id".as("click_id"), $"asof_value".as("click_value"))
        .orderBy($"event_id")
    },
    """SELECT p.event_id, p.user_id, p.value,
      |  c.event_id AS click_id, c.value AS click_value
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      |  ON p.user_id = c.user_id AND p.ts >= c.ts
      |ORDER BY p.event_id""".stripMargin)

  /** Gap-based sessionization (30-minute gap) via session_window.
    * Oracle: the classic gaps-and-islands lag/cumsum formulation. */
  private val x13: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      graft.ext.Temporal.sessionize(t(s, d, "events"),
          key = "user_id", ts = "ts", value = "value", gap = "30 minutes")
        .orderBy($"user_id", $"session_start")
    },
    """SELECT user_id,
      |  CAST(MIN(ts) AS TIMESTAMP) AS session_start,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM (
      |  SELECT user_id, ts, value,
      |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM (
      |    SELECT user_id, ts, value, event_id,
      |      CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id
      |             ORDER BY ts, event_id) <= INTERVAL 30 MINUTE
      |           THEN 0 ELSE 1 END AS new_session
      |    FROM events))
      |GROUP BY user_id, session_id
      |ORDER BY user_id, session_start""".stripMargin)

  /** Subword (BPE-ish) token counting + punctuation ratio — the
    * tokenizer-granularity signals a training-data pipeline filters
    * on; oracle mirrors the lookaround-free regex pipeline exactly. */
  private val x16: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      t(s, d, "documents").select(
          $"doc_id",
          TextAnalysis.subwordCount($"text").as("n_subwords"),
          (floor(TextAnalysis.punctRatio($"text") * 1e6 + 0.5) / 1e6)
            .as("punct_ratio6"))
        .orderBy($"doc_id")
    },
    """SELECT doc_id,
      |  CAST(len(list_filter(regexp_split_to_array(
      |    regexp_replace(regexp_replace(text, '(\p{L})(\p{N})', '\1 \2', 'g'),
      |                   '(\p{N})(\p{L})', '\1 \2', 'g'),
      |    '[^\p{L}\p{N}]+'), x -> len(x) > 0)) AS INTEGER) AS n_subwords,
      |  floor((length(text) -
      |      length(regexp_replace(text, '[[:punct:]]', '', 'g')))::DOUBLE
      |    / length(text) * 1e6 + 0.5) / 1e6 AS punct_ratio6
      |FROM documents ORDER BY doc_id""".stripMargin)

  /** Hot-shingle (stop-shingle) discovery: top-20 shingles by doc
    * frequency, deterministic tie-break on the shingle text. */
  private val x17: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      Dedup.stopShingles(t(s, d, "documents"), "doc_id", "text",
          n = 3, topK = 20)
        .orderBy($"df".desc, $"sh")
    },
    """SELECT sh, COUNT(*) AS df
      |FROM (
      |  SELECT doc_id, unnest(list_distinct(
      |    [ s[i] || ' ' || s[i+1] || ' ' || s[i+2]
      |      for i in range(1, len(s) - 1) ])) AS sh
      |  FROM (SELECT doc_id, string_split(text, ' ') AS s FROM documents))
      |GROUP BY sh ORDER BY df DESC, sh LIMIT 20""".stripMargin)

  /** Duplicate-cluster resolution: near-dup pairs → connected
    * components → one canonical survivor per cluster (longest text,
    * smallest-id tie-break). Oracle computes the components with a
    * recursive transitive closure over the same exact-Jaccard pair
    * set, so the iterative Spark label propagation must land on the
    * identical fixpoint. */
  private val x18: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        n = 3, threshold = 0.6)
      Dedup.resolveDuplicates(docs, "doc_id", "text", pairs)
        .orderBy($"cluster")
    },
    s"""WITH RECURSIVE $shingleCte,
       |edges AS (SELECT id_a, id_b FROM jac WHERE jaccard >= 0.6),
       |und AS (SELECT id_a AS src, id_b AS dst FROM edges
       |        UNION SELECT id_b, id_a FROM edges),
       |reach(id, r) AS (
       |  SELECT src, src FROM und
       |  UNION
       |  SELECT re.id, u.dst FROM reach re JOIN und u ON u.src = re.r),
       |comp AS (SELECT id, MIN(r) AS cluster FROM reach GROUP BY id),
       |mem AS (SELECT c.cluster, c.id, CAST(length(d.text) AS BIGINT) AS len
       |        FROM comp c JOIN documents d ON d.doc_id = c.id),
       |keep AS (SELECT cluster, id AS keep_id, ROW_NUMBER() OVER
       |  (PARTITION BY cluster ORDER BY len DESC, id) AS rk FROM mem)
       |SELECT m.cluster, COUNT(*) AS n_docs,
       |  array_to_string(list_sort(list(m.id)), ',') AS ids,
       |  any_value(k.keep_id) AS keep_id
       |FROM mem m JOIN keep k ON k.cluster = m.cluster AND k.rk = 1
       |GROUP BY m.cluster ORDER BY m.cluster""".stripMargin)

  /** DuckDB value of md5-hex byte `off` of (salt || key) — mirrors
    * Sampling.hashBucket256 exactly (nibble arithmetic on the digest). */
  private def bucketSql(key: String, salt: String, off: Int): String = {
    val h = s"md5('$salt' || CAST($key AS VARCHAR))"
    s"""((strpos('0123456789abcdef', substr($h, ${1 + 2 * off}, 1)) - 1) * 16 +
       |  strpos('0123456789abcdef', substr($h, ${2 + 2 * off}, 1)) - 1)""".stripMargin
  }

  /** Deterministic stratified sample + train/val/test hash split:
    * per-language keep rates, then an independent hash coordinate
    * labels survivors train/val/test (80/10/10). The whole decision is
    * a pure function of doc_id, so the oracle reproduces membership
    * row-for-row — checked here via per-(lang, split) counts and an
    * id-sum content witness. */
  private val x19: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      val sampled = graft.ext.Sampling.stratifiedSample(
        t(s, d, "documents"), strata = "lang", key = "doc_id",
        rates = Map("en" -> 0.5, "de" -> 0.25, "fr" -> 0.125, "es" -> 1.0),
        salt = "g19")
      graft.ext.Sampling.hashSplit(sampled, "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), salt = "g19")
        .groupBy($"lang", $"split")
        .agg(count(lit(1)).as("n"), sum($"doc_id").as("sum_ids"))
        .orderBy($"lang", $"split")
    },
    s"""WITH h AS (
       |  SELECT lang, doc_id,
       |    ${bucketSql("doc_id", "g19", 0)} AS b0,
       |    ${bucketSql("doc_id", "g19", 1)} AS b1
       |  FROM documents),
       |samp AS (
       |  SELECT * FROM h WHERE b0 < CASE lang
       |    WHEN 'en' THEN 128 WHEN 'de' THEN 64
       |    WHEN 'fr' THEN 32 WHEN 'es' THEN 256 ELSE -1 END),
       |lab AS (
       |  SELECT lang, doc_id,
       |    CASE WHEN b1 < 204 THEN 'train'
       |         WHEN b1 < 230 THEN 'val' ELSE 'test' END AS split
       |  FROM samp)
       |SELECT lang, split, COUNT(*) AS n,
       |  CAST(SUM(doc_id) AS BIGINT) AS sum_ids
       |FROM lab GROUP BY lang, split ORDER BY lang, split""".stripMargin)

  /** Context-window packing: per-language concat-and-chunk layout at a
    * 512-token budget; one row per assembled context bin. The bin
    * assignment is pure integer window arithmetic, mirrored exactly by
    * the oracle. */
  private val x20: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      graft.ext.Packing.packByBudget(
          t(s, d, "documents").select($"lang", $"doc_id", $"text"),
          groupCols = Seq("lang"), orderCol = "doc_id",
          tokens = TextAnalysis.tokenCount($"text"), budget = 512L)
        .groupBy($"lang", $"bin")
        .agg(count(lit(1)).as("n_docs"),
          sum($"n_tokens").as("sum_tokens"),
          min($"doc_id").as("first_doc"),
          max($"doc_id").as("last_doc"))
        .orderBy($"lang", $"bin")
    },
    """WITH toks AS (
      |  SELECT lang, doc_id,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |laid AS (
      |  SELECT lang, doc_id, n_tokens,
      |    CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens
      |      AS BIGINT) AS start
      |  FROM toks),
      |binned AS (
      |  SELECT lang, doc_id, n_tokens,
      |    CAST(floor(start / 512.0) AS BIGINT) AS bin
      |  FROM laid)
      |SELECT lang, bin, COUNT(*) AS n_docs,
      |  CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
      |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
      |FROM binned GROUP BY lang, bin ORDER BY lang, bin""".stripMargin)

  /** Rarity-weighted term relevance (tf-idf family, rational idf):
    * top-3 distinguishing terms per document — exact integer/division
    * arithmetic on both sides, so ranking and scores hash-match. */
  private val x21: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      TextAnalysis.topTermsByRarity(t(s, d, "documents"), "doc_id", "text",
          k = 3)
        .orderBy($"doc_id", $"rank")
    },
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
      |dfq AS (SELECT term, COUNT(*) AS term_df FROM tf GROUP BY term),
      |n AS (SELECT COUNT(*) AS n_docs FROM documents)
      |SELECT doc_id, rank, term, tf, term_df, score FROM (
      |  SELECT doc_id, term, tf, term_df,
      |    CAST(tf * n_docs AS DOUBLE) / term_df AS score,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY
      |      CAST(tf * n_docs AS DOUBLE) / term_df DESC, term) AS INTEGER) AS rank
      |  FROM tf JOIN dfq USING (term) CROSS JOIN n)
      |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin)

  /** Point-in-interval range join: each purchase matched into the
    * view-session (24-hour gap — the testdata spreads 150 users over a
    * month, so day-scale gaps give substantive session spans) of the
    * same user that contains it — bucketed equi-join on (user, time
    * bucket) + exact BETWEEN, never a nested-loop theta join. Oracle:
    * gaps-and-islands sessions (the x13 formulation) + a plain BETWEEN
    * join. */
  private val x22: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      val ev = t(s, d, "events")
      val sessions = graft.ext.Temporal.sessionSpans(
        ev.filter($"event_type" === "view"), "user_id", "ts", "24 hours")
      val purchases = ev.filter($"event_type" === "purchase")
        .select($"event_id", $"user_id", graft.tables.ntz($"ts").as("ts"))
      graft.ext.Temporal.pointInIntervalJoin(
          purchases, "user_id", "ts",
          sessions, "user_id", "session_start", "session_end",
          bucketWidthSec = 86400L,
          iPayload = Seq("session_start", "n_events"))
        .select($"event_id", $"user_id", $"ts",
          $"ival_session_start".as("session_start"),
          $"ival_n_events".as("session_n_views"))
        .orderBy($"event_id")
    },
    """WITH sess AS (
      |  SELECT user_id, CAST(MIN(ts) AS TIMESTAMP) AS session_start,
      |    CAST(MAX(ts) AS TIMESTAMP) AS session_end, COUNT(*) AS n_events
      |  FROM (
      |    SELECT user_id, ts,
      |      SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |    FROM (
      |      SELECT user_id, ts, event_id,
      |        CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id
      |               ORDER BY ts, event_id) <= INTERVAL 24 HOUR
      |             THEN 0 ELSE 1 END AS new_session
      |      FROM events WHERE event_type = 'view'))
      |  GROUP BY user_id, sid)
      |SELECT p.event_id, p.user_id, CAST(p.ts AS TIMESTAMP) AS ts,
      |  s.session_start, s.n_events AS session_n_views
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |JOIN sess s ON p.user_id = s.user_id
      |  AND p.ts >= s.session_start AND CAST(p.ts AS TIMESTAMP) <= s.session_end
      |ORDER BY p.event_id""".stripMargin)

  /** Benchmark decontamination: every-50th document plays the eval
    * suite; corpus docs sharing ≥2 distinct 3-gram shingles with a
    * benchmark doc are flagged (the data gives a 40-pair tail: weak 2-3-shingle overlaps plus one true planted near-dup at 23 shared). The planted near-dups guarantee real
    * contamination hits beyond self-matches. */
  private val x23: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      Dedup.contamination(docs, "doc_id", "text",
          docs.filter($"doc_id" % 50 === 0), "doc_id", "text",
          n = 3, minShared = 2L)
        .orderBy($"doc_id", $"bench_id")
    },
    """WITH sh AS (
      |  SELECT doc_id, unnest(list_distinct(
      |    [ s[i] || ' ' || s[i+1] || ' ' || s[i+2]
      |      for i in range(1, len(s) - 1) ])) AS sh
      |  FROM (SELECT doc_id, string_split(text, ' ') AS s FROM documents)),
      |b AS (SELECT doc_id AS bench_id, sh FROM sh WHERE doc_id % 50 = 0)
      |SELECT c.doc_id, b.bench_id, COUNT(*) AS shared
      |FROM sh c JOIN b ON c.sh = b.sh AND c.doc_id <> b.bench_id
      |GROUP BY c.doc_id, b.bench_id HAVING COUNT(*) >= 2
      |ORDER BY doc_id, bench_id""".stripMargin)

  /** Intra-document repetition signals: repetition ratio + the
    * most-repeated token (boilerplate naming), exact tie-breaks. */
  private val x24: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      val top = TextAnalysis.topToken($"text")
      t(s, d, "documents").select(
          $"doc_id",
          (floor(TextAnalysis.repetitionRatio($"text") * 1e6 + 0.5) / 1e6)
            .as("rep_ratio6"),
          top.getField("token").as("top_token"),
          top.getField("count").as("top_count"))
        .orderBy($"doc_id")
    },
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS s FROM documents),
      |stats AS (SELECT doc_id, len(s) AS n, len(list_distinct(s)) AS nd
      |          FROM toks),
      |tok AS (SELECT doc_id, unnest(s) AS t FROM toks),
      |cnt AS (SELECT doc_id, t, COUNT(*) AS c FROM tok GROUP BY doc_id, t),
      |top AS (SELECT doc_id, t AS top_token, c AS top_count,
      |        ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY c DESC, t) AS rk
      |        FROM cnt)
      |SELECT s.doc_id,
      |  floor((1.0 - CAST(nd AS DOUBLE) / n) * 1e6 + 0.5) / 1e6 AS rep_ratio6,
      |  top_token, CAST(top_count AS INTEGER) AS top_count
      |FROM stats s JOIN top ON top.doc_id = s.doc_id AND rk = 1
      |ORDER BY s.doc_id""".stripMargin)

  /** Sliding-window token chunking (32-token window, 16-token stride):
    * one row per chunk with an md5 content witness — overlap, tail
    * handling and chunk text all verified. */
  private val x25: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      val n = size(split($"text", " "))
      t(s, d, "documents")
        .select($"doc_id", n.as("n"),
          posexplode(TextAnalysis.chunkTokens($"text", window = 32, stride = 16))
            .as(Seq("chunk_idx", "chunk")))
        .select($"doc_id", $"chunk_idx",
          least(lit(32), $"n" - $"chunk_idx" * 16).as("n_tokens"),
          md5($"chunk".cast("binary")).as("digest"))
        .orderBy($"doc_id", $"chunk_idx")
    },
    """SELECT doc_id, chunk_idx,
      |  CAST(least(32, n - chunk_idx * 16) AS INTEGER) AS n_tokens,
      |  md5(array_to_string(s[start + 1 : start + 32], ' ')) AS digest
      |FROM (
      |  SELECT doc_id, s, len(s) AS n,
      |    unnest(range(0, greatest(len(s) - 1, 0) + 1, 16)) AS start,
      |    CAST(unnest(range(0, greatest(len(s) - 1, 0) + 1, 16)) // 16
      |      AS INTEGER) AS chunk_idx
      |  FROM (SELECT doc_id, string_split(text, ' ') AS s FROM documents))
      |ORDER BY doc_id, chunk_idx""".stripMargin)

  /** Per-language embedding centroids (64 dims × 4 langs), exact
    * decimal-pinned means. Elements are floor-rounded to 6 dp BEFORE
    * the decimal cast: raw float→decimal conversion differs at the
    * last decimal digit across engines (Spark converts via the
    * shortest decimal string, DuckDB by multiply-and-round), but a
    * 6-dp-rounded double sits far from every 1e-10 grid boundary, so
    * both conversions land on the identical decimal. */
  private val x26: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      val emb = t(s, d, "embeddings")
      val langs = t(s, d, "documents").select($"doc_id", $"lang")
      val q6 = emb.select($"vec_id",
        transform($"embedding",
          v => floor(v.cast("double") * 1e6 + 0.5) / 1e6).as("embedding"))
      Similarity.centroids(
          q6.join(langs, $"vec_id" === $"doc_id").select($"lang", $"embedding"),
          "lang", "embedding")
        .orderBy($"lang", $"pos")
    },
    """SELECT lang, pos,
      |  CAST(SUM(CAST(floor(CAST(embedding[pos + 1] AS DOUBLE) * 1e6 + 0.5)
      |    / 1e6 AS DECIMAL(27,10))) AS DOUBLE) / COUNT(*) AS centroid
      |FROM embeddings e
      |JOIN documents d ON e.vec_id = d.doc_id
      |CROSS JOIN (SELECT CAST(unnest(range(0, 64)) AS INTEGER) AS pos)
      |GROUP BY lang, pos ORDER BY lang, pos""".stripMargin)

  /** Per-stratum quality-quantile retention: keep each language's top
    * quarter by quality score (percent_rank window filter) — the
    * curation step after scoring. Deterministic ordering (score desc,
    * doc_id) makes the kept set engine-exact. */
  private val x27: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      val q = TextAnalysis.qualityScore($"text")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"lang").orderBy(col("q").desc, $"doc_id")
      t(s, d, "documents")
        .withColumn("q", q)
        .withColumn("pr", percent_rank().over(w))
        .filter($"pr" <= 0.25)
        .select($"lang", $"doc_id", $"q".as("quality"))
        .orderBy($"lang", $"doc_id")
    },
    """SELECT lang, doc_id, quality FROM (
      |  SELECT lang, doc_id, quality,
      |    PERCENT_RANK() OVER (PARTITION BY lang
      |      ORDER BY quality DESC, doc_id) AS pr
      |  FROM (
      |    SELECT lang, doc_id,
      |      floor((least(length(text)::DOUBLE / 500.0, 1.0) * 0.6 +
      |             (1.0 - least((length(text) -
      |                length(regexp_replace(text, '[[:punct:]]', '', 'g')))::DOUBLE
      |                / length(text) * 5.0, 1.0)) * 0.4) * 10000.0 + 0.5)
      |        / 10000.0 AS quality
      |    FROM documents))
      |WHERE pr <= 0.25 ORDER BY lang, doc_id""".stripMargin)

  /** Tokenizer-vocabulary construction with cumulative corpus
    * coverage: unigram counts ranked by (count desc, token), kept
    * while the PRECEDING tokens cover < 95% of the corpus — the
    * vocab-cut step of tokenizer training. The global running total
    * runs on [[Prefix.globalRunningSums]] (range-partitioned two-phase
    * prefix sum), not a single-partition window; the 95% cut is an
    * integer cross-multiplication, so the kept set is engine-exact. */
  private val x28: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      val counts = t(s, d, "documents")
        .select(explode(split($"text", " ")).as("token"))
        .groupBy($"token").agg(count(lit(1)).as("cnt"))
      val cum = Prefix.globalRunningSums(counts,
        Seq($"cnt".desc, $"token"),
        Seq(col("cnt") -> "cum", lit(1L) -> "rank"))
      // corpus total = the final running total; reading it off the
      // checkpointed cumsum frame avoids re-aggregating the corpus
      val tot = cum.agg(max($"cum").as("total"))
      cum.crossJoin(broadcast(tot))
        .filter(($"cum" - $"cnt") * 100 < $"total" * 95)
        .select($"rank", $"token", $"cnt", $"cum",
          ($"cum".cast("double") / $"total").as("coverage"))
        .orderBy($"rank")
    },
    """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token
      |            FROM documents),
      |c AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token),
      |r AS (SELECT token, cnt,
      |        ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS rank,
      |        CAST(SUM(cnt) OVER (ORDER BY cnt DESC, token
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |          AS BIGINT) AS cum
      |      FROM c),
      |t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM c)
      |SELECT rank, token, cnt, cum, CAST(cum AS DOUBLE) / total AS coverage
      |FROM r, t WHERE (cum - cnt) * 100 < total * 95
      |ORDER BY rank""".stripMargin)

  /** Token-budget curation: documents ranked by quality (desc, doc_id
    * tiebreak) are admitted while the running token total starts under
    * a fixed budget — the "best data that fits the training budget"
    * selection. Same distributed prefix sum as x28; the admission test
    * is integer arithmetic on the running total. */
  private val x29: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      val scored = t(s, d, "documents").select($"doc_id", $"lang",
        size(split($"text", " ")).cast("long").as("n_tokens"),
        TextAnalysis.qualityScore($"text").as("quality"))
      Prefix.globalRunningSums(scored,
          Seq($"quality".desc, $"doc_id"),
          Seq(col("n_tokens") -> "cum_tokens", lit(1L) -> "sel_rank"))
        .filter($"cum_tokens" - $"n_tokens" < 100000L)
        .select($"sel_rank", $"doc_id", $"lang", $"quality",
          $"n_tokens", $"cum_tokens")
        .orderBy($"sel_rank")
    },
    """WITH scored AS (
      |  SELECT doc_id, lang,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |    floor((least(length(text)::DOUBLE / 500.0, 1.0) * 0.6 +
      |           (1.0 - least((length(text) -
      |              length(regexp_replace(text, '[[:punct:]]', '', 'g')))::DOUBLE
      |              / length(text) * 5.0, 1.0)) * 0.4) * 10000.0 + 0.5)
      |      / 10000.0 AS quality
      |  FROM documents),
      |r AS (SELECT doc_id, lang, quality, n_tokens,
      |        ROW_NUMBER() OVER (ORDER BY quality DESC, doc_id) AS sel_rank,
      |        CAST(SUM(n_tokens) OVER (ORDER BY quality DESC, doc_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |          AS BIGINT) AS cum_tokens
      |      FROM scored)
      |SELECT sel_rank, doc_id, lang, quality, n_tokens, cum_tokens
      |FROM r WHERE cum_tokens - n_tokens < 100000
      |ORDER BY sel_rank""".stripMargin)

  /** Symmetric int8 embedding quantization: per-vector scale anchor
    * (6-dp pinned for the compare) plus the full quantized vector as a
    * comma-joined witness (the driver's compare can't hash array
    * columns — the x01 lesson). In-row expression, scan speed. */
  private val x30: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      val qz = Similarity.int8Quantize($"embedding")
      t(s, d, "embeddings").select(
          $"vec_id",
          (floor(qz.getField("maxabs") * 1e6 + 0.5) / 1e6).as("maxabs6"),
          concat_ws(",", transform(qz.getField("q"), _.cast("string"))).as("q"))
        .orderBy($"vec_id")
    },
    """WITH m AS (
      |  SELECT vec_id, embedding,
      |    list_max(list_transform(embedding,
      |      x -> abs(CAST(x AS DOUBLE)))) AS maxabs
      |  FROM embeddings)
      |SELECT vec_id,
      |  floor(maxabs * 1e6 + 0.5) / 1e6 AS maxabs6,
      |  CASE WHEN maxabs = 0
      |    THEN array_to_string(list_transform(embedding, x -> 0), ',')
      |    ELSE array_to_string(list_transform(embedding,
      |      x -> CAST(greatest(-127.0, least(127.0,
      |        floor(CAST(x AS DOUBLE) * (127.0 / maxabs) + 0.5)))
      |        AS BIGINT)), ',')
      |  END AS q
      |FROM m ORDER BY vec_id""".stripMargin)

  /** Gopher-style quality rule battery, aggregated pass counts per
    * (lang, source) stratum — every threshold an integer
    * cross-multiplication, so the counts are engine-exact. */
  private val x31: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      val f = TextAnalysis.gopherFlags($"text", Seq("the", "a"))
      def cnt(flag: org.apache.spark.sql.Column) =
        sum(when(flag, 1L).otherwise(0L))
      t(s, d, "documents").select($"lang", $"source", f.as("f"))
        .groupBy($"lang", $"source")
        .agg(count(lit(1)).as("n_docs"),
          cnt($"f.pass_len").as("pass_len"),
          cnt($"f.pass_mean").as("pass_mean"),
          cnt($"f.pass_stop").as("pass_stop"),
          cnt($"f.pass_rep").as("pass_rep"),
          cnt($"f.pass_all").as("pass_all"))
        .orderBy($"lang", $"source")
    },
    """WITH f AS (
      |  SELECT lang, source,
      |    len(string_split(text, ' ')) AS n,
      |    len(list_distinct(string_split(text, ' '))) AS nd,
      |    len(list_filter(string_split(text, ' '),
      |      t -> t = 'the' OR t = 'a')) AS stop,
      |    length(text) AS chars
      |  FROM documents)
      |SELECT lang, source, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN n BETWEEN 50 AND 100000
      |    THEN 1 ELSE 0 END) AS BIGINT) AS pass_len,
      |  CAST(SUM(CASE WHEN chars - n + 1 >= 3 * n AND chars - n + 1 <= 10 * n
      |    THEN 1 ELSE 0 END) AS BIGINT) AS pass_mean,
      |  CAST(SUM(CASE WHEN stop * 20 >= n
      |    THEN 1 ELSE 0 END) AS BIGINT) AS pass_stop,
      |  CAST(SUM(CASE WHEN nd * 2 >= n
      |    THEN 1 ELSE 0 END) AS BIGINT) AS pass_rep,
      |  CAST(SUM(CASE WHEN n BETWEEN 50 AND 100000
      |    AND chars - n + 1 >= 3 * n AND chars - n + 1 <= 10 * n
      |    AND stop * 20 >= n AND nd * 2 >= n
      |    THEN 1 ELSE 0 END) AS BIGINT) AS pass_all
      |FROM f GROUP BY lang, source ORDER BY lang, source""".stripMargin)

  /** Cross-document duplicated 16-token spans — the planted near-dup
    * pairs share long aligned runs, so fixed-window chunks collide
    * across documents; output is each duplicated span's digest,
    * document reach, occurrence count and first occurrence. */
  private val x32: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      Dedup.duplicatedChunks(t(s, d, "documents"), "doc_id", "text",
          window = 16, stride = 16)
        .orderBy($"digest")
    },
    """WITH ch AS (
      |  SELECT doc_id,
      |    CAST(start // 16 AS INTEGER) AS chunk_idx,
      |    md5(array_to_string(s[start + 1 : start + 16], ' ')) AS digest
      |  FROM (
      |    SELECT doc_id, s,
      |      unnest(range(0, greatest(len(s) - 1, 0) + 1, 16)) AS start
      |    FROM (SELECT doc_id, string_split(text, ' ') AS s
      |          FROM documents))),
      |agg AS (
      |  SELECT digest, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_occ
      |  FROM ch GROUP BY digest HAVING COUNT(DISTINCT doc_id) >= 2),
      |rep AS (
      |  SELECT digest, doc_id AS rep_doc, chunk_idx AS rep_idx,
      |    ROW_NUMBER() OVER (PARTITION BY digest
      |      ORDER BY doc_id, chunk_idx) AS rk
      |  FROM ch)
      |SELECT a.digest, a.n_docs, a.n_occ, r.rep_doc, r.rep_idx
      |FROM agg a JOIN rep r ON a.digest = r.digest AND r.rk = 1
      |ORDER BY a.digest""".stripMargin)

  /** Incremental ingest dedup: a synthetic delta batch (every 10th doc
    * re-submitted verbatim under a new id + every (10k+4)th doc with
    * edited text) probed against the full corpus as history — resubmits
    * flag dup, edits don't. */
  private val x33: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val batch = docs.filter($"doc_id" % 10 === 9)
          .select(($"doc_id" + 50000).as("doc_id"), $"text")
        .unionAll(docs.filter($"doc_id" % 10 === 4)
          .select(($"doc_id" + 90000).as("doc_id"),
            concat($"text", lit(" fresh")).as("text")))
      Dedup.incrementalDupes(batch, docs, "doc_id", "text")
        .orderBy($"doc_id")
    },
    """WITH batch AS (
      |  SELECT doc_id + 50000 AS doc_id, text FROM documents
      |  WHERE doc_id % 10 = 9
      |  UNION ALL
      |  SELECT doc_id + 90000 AS doc_id, text || ' fresh' AS text
      |  FROM documents WHERE doc_id % 10 = 4),
      |h AS (SELECT DISTINCT md5(text) AS digest FROM documents)
      |SELECT b.doc_id, md5(b.text) AS digest,
      |  (h.digest IS NOT NULL) AS dup
      |FROM batch b LEFT JOIN h ON md5(b.text) = h.digest
      |ORDER BY b.doc_id""".stripMargin)

  /** PII redaction over a corpus with planted emails/IPs/phones: the
    * same RE2-subset patterns run in both engines, counts audited on
    * the pre-redaction text, replacement applied in rule order. */
  private val x34: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      val planted = t(s, d, "documents").select($"doc_id",
        concat($"text",
          lit(" contact user"), $"doc_id".cast("string"),
          lit("@mail.example.com via 10.0."),
          ($"doc_id" % 250).cast("string"), lit(".7 tel +1-555-"),
          lpad($"doc_id".cast("string"), 4, "0"), lit("-123")).as("text"))
      Redact.redact(planted, "text").orderBy($"doc_id")
    }, {
      val Seq(e, ip, ph) = Redact.pii.map(_.pattern)
      s"""WITH planted AS (
         |  SELECT doc_id,
         |    text || ' contact user' || doc_id::VARCHAR
         |         || '@mail.example.com via 10.0.'
         |         || (doc_id % 250)::VARCHAR || '.7 tel +1-555-'
         |         || lpad(doc_id::VARCHAR, 4, '0') || '-123' AS text
         |  FROM documents)
         |SELECT doc_id,
         |  regexp_replace(regexp_replace(regexp_replace(text,
         |    '$e', '<EMAIL>', 'g'), '$ip', '<IP>', 'g'),
         |    '$ph', '<PHONE>', 'g') AS text,
         |  len(regexp_extract_all(text, '$e'))::INT AS n_email,
         |  len(regexp_extract_all(text, '$ip'))::INT AS n_ipv4,
         |  len(regexp_extract_all(text, '$ph'))::INT AS n_phone
         |FROM planted ORDER BY doc_id""".stripMargin
    })

  /** Blocked fuzzy join over the part-name vocabulary: candidates
    * share the first-token block, exact Levenshtein verify — the
    * entity-resolution shape (distinct-first, equality-join blocking,
    * never a cross join). */
  private val x35: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      Fuzzy.fuzzyPairs(t(s, d, "part"), "p_name", maxDist = 4)
        .orderBy($"k_a", $"k_b")
    },
    """WITH v AS (SELECT DISTINCT p_name AS k FROM part),
      |b AS (SELECT k, string_split(k, ' ')[1] AS bk FROM v)
      |SELECT a.k AS k_a, c.k AS k_b, levenshtein(a.k, c.k) AS dist
      |FROM b a JOIN b c ON a.bk = c.bk AND a.k < c.k
      |WHERE abs(length(a.k) - length(c.k)) <= 4
      |  AND levenshtein(a.k, c.k) <= 4
      |ORDER BY k_a, k_b""".stripMargin)

  /** Z-order (Morton) layout key over (o_custkey, o_orderkey) —
    * the multi-dimensional clustering key behind io.ZOrder.zorderWrite,
    * verified bit-for-bit against integer bit ops in the oracle. */
  private val x36: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      t(s, d, "orders").select($"o_orderkey",
          ZOrder.zValue($"o_custkey", $"o_orderkey", 12).as("z"))
        .orderBy($"o_orderkey")
    },
    s"""SELECT o_orderkey,
       |  ${ZOrder.zValueSql("o_custkey", "o_orderkey", 12)} AS z
       |FROM orders ORDER BY o_orderkey""".stripMargin)

  /** BPE round-0 statistics: adjacent character-pair frequencies
    * weighted by corpus word counts — the map-combined aggregation
    * every merge round of Bpe.train re-runs in vocabulary space. */
  private val x37: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      Bpe.pairStats(Bpe.initVocab(t(s, d, "documents"), "text").toDF)
        .orderBy($"freq".desc, $"a", $"b")
    },
    """WITH wc AS (
      |  SELECT word, COUNT(*)::BIGINT AS wcount
      |  FROM (SELECT unnest(string_split(text, ' ')) AS word
      |        FROM documents)
      |  WHERE length(word) > 0 GROUP BY word),
      |ix AS (SELECT word, wcount,
      |         unnest(range(1, length(word))) AS i FROM wc)
      |SELECT substr(word, i::INT, 1) AS a,
      |       substr(word, i::INT + 1, 1) AS b,
      |       SUM(wcount)::BIGINT AS freq
      |FROM ix GROUP BY a, b
      |ORDER BY freq DESC, a, b""".stripMargin)

  /** Data mixing: a 40-row corpus at 50/30/20 source proportions —
    * each source admits its hash-smallest quota (binding: every source
    * holds more rows than its quota). */
  private val x38: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      Sampling.mixture(t(s, d, "documents").select($"doc_id", $"source"),
          source = "source", key = "doc_id",
          weights = Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2),
          budget = 40, salt = "mix")
        .orderBy($"doc_id")
    },
    """WITH h AS (SELECT doc_id, source,
      |  md5('mix' || doc_id::VARCHAR) AS _h FROM documents),
      |r AS (SELECT doc_id, source, ROW_NUMBER() OVER (
      |  PARTITION BY source ORDER BY _h, doc_id) AS rn FROM h)
      |SELECT doc_id, source FROM r
      |WHERE (source = 'src0' AND rn <= 20)
      |   OR (source = 'src1' AND rn <= 12)
      |   OR (source = 'src2' AND rn <= 8)
      |ORDER BY doc_id""".stripMargin)

  /** Join-key skew profile of orders.o_custkey: exact top-20 heavy
    * keys, ppm share, and the integer salt fan-out a 32-reducer
    * cluster would need per key. */
  private val x39: (Fn, String) = (
    (s, d) => {
      Skew.keyProfile(t(s, d, "orders"), "o_custkey", topK = 20, parts = 32)
    },
    """WITH c AS (SELECT o_custkey, COUNT(*)::BIGINT AS cnt
      |           FROM orders GROUP BY o_custkey),
      |t AS (SELECT SUM(cnt)::BIGINT AS total FROM c)
      |SELECT o_custkey, cnt,
      |  cnt * 1000000 // total AS share_ppm,
      |  (cnt * 32 + total - 1) // total AS salts
      |FROM c, t ORDER BY cnt DESC, o_custkey LIMIT 20""".stripMargin)

  /** CDC snapshot diff: a synthetic new snapshot (every 11th key
    * deleted, every 7th repriced, every 13th re-inserted under a new
    * key) diffed against the original — inserted/deleted/changed
    * labels per key, unchanged keys absent. */
  private val x40: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      val o = t(s, d, "orders")
      val n = o.filter($"o_orderkey" % 11 =!= 0)
        .withColumn("o_totalprice",
          when($"o_orderkey" % 7 === 0, $"o_totalprice" + 1)
            .otherwise($"o_totalprice"))
        .unionByName(o.filter($"o_orderkey" % 13 === 0)
          .withColumn("o_orderkey", $"o_orderkey" + 1000000))
      graft.scd2.Scd2.snapshotDiff(o, n, Seq("o_orderkey"))
        .orderBy($"o_orderkey")
    },
    """WITH n AS (
      |  SELECT o_orderkey, o_custkey, o_orderstatus,
      |    CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1
      |         ELSE o_totalprice END AS o_totalprice,
      |    o_orderdate, o_orderpriority
      |  FROM orders WHERE o_orderkey % 11 <> 0
      |  UNION ALL
      |  SELECT o_orderkey + 1000000, o_custkey, o_orderstatus,
      |    o_totalprice, o_orderdate, o_orderpriority
      |  FROM orders WHERE o_orderkey % 13 = 0)
      |SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
      |  CASE WHEN o.o_orderkey IS NULL THEN 'inserted'
      |       WHEN n.o_orderkey IS NULL THEN 'deleted'
      |       WHEN o.o_custkey IS DISTINCT FROM n.o_custkey
      |         OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
      |         OR o.o_totalprice IS DISTINCT FROM n.o_totalprice
      |         OR o.o_orderdate IS DISTINCT FROM n.o_orderdate
      |         OR o.o_orderpriority IS DISTINCT FROM n.o_orderpriority
      |       THEN 'changed' END AS change
      |FROM orders o FULL OUTER JOIN n ON o.o_orderkey = n.o_orderkey
      |WHERE (o.o_orderkey IS NULL OR n.o_orderkey IS NULL
      |       OR o.o_totalprice IS DISTINCT FROM n.o_totalprice
      |       OR o.o_custkey IS DISTINCT FROM n.o_custkey
      |       OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
      |       OR o.o_orderdate IS DISTINCT FROM n.o_orderdate
      |       OR o.o_orderpriority IS DISTINCT FROM n.o_orderpriority)
      |ORDER BY o_orderkey""".stripMargin)

  /** Bounded-buffer native top-k per group (graft_topk): top-3 orders
    * per customer WITHOUT a window sort — map-side partial aggregation
    * reduces each partition to ≤ k pairs per group. Oracle is the
    * window formulation. */
  private val x41: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      t(s, d, "orders").groupBy($"o_custkey")
        .agg(graft.functions.TopKAgg.topk(
          $"o_totalprice", $"o_orderkey", 3).as("top"))
        .select($"o_custkey", posexplode($"top"))
        .select($"o_custkey", ($"pos" + 1).cast("long").as("rank"),
          $"col.v".as("o_totalprice"), $"col.id".as("o_orderkey"))
        .orderBy($"o_custkey", $"rank")
    },
    """SELECT o_custkey, rn AS rank, o_totalprice, o_orderkey FROM (
      |  SELECT o_custkey, o_totalprice, o_orderkey,
      |    ROW_NUMBER() OVER (PARTITION BY o_custkey
      |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders)
      |WHERE rn <= 3 ORDER BY o_custkey, rank""".stripMargin)

  /** Fixed-point PageRank over an interaction graph derived from
    * orders (custkey→orderkey buckets): 3 damped power iterations,
    * every operation scaled-integer, oracle unrolls the identical
    * arithmetic — bit-exact across engines by construction. */
  private val x42: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      val edges = t(s, d, "orders").select(
        ($"o_custkey" % 100).as("src"), ($"o_orderkey" % 100).as("dst"))
      Graph.pageRankInt(edges, "src", "dst", iters = 3)
        .orderBy($"id")
    },
    Graph.pageRankSql(
      "SELECT DISTINCT o_custkey % 100 AS src, o_orderkey % 100 AS dst FROM orders",
      iters = 3))

  /** Corpus drift: per-term chi-square between the even- and odd-id
    * halves of the corpus — top 50 shifted terms. Contributions are a
    * fixed dag of double ops (no accumulation) rounded at 9 dp, so
    * both engines agree bit-for-bit. */
  private val x43: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      Drift.termDrift(
          docs.filter($"doc_id" % 2 === 0),
          docs.filter($"doc_id" % 2 === 1), "text")
        .orderBy($"chi2".desc, $"term").limit(50)
    },
    """WITH ca AS (
      |  SELECT term, COUNT(*)::BIGINT AS cnt_a FROM (
      |    SELECT unnest(string_split(text, ' ')) AS term
      |    FROM documents WHERE doc_id % 2 = 0)
      |  WHERE length(term) > 0 GROUP BY term),
      |cb AS (
      |  SELECT term, COUNT(*)::BIGINT AS cnt_b FROM (
      |    SELECT unnest(string_split(text, ' ')) AS term
      |    FROM documents WHERE doc_id % 2 = 1)
      |  WHERE length(term) > 0 GROUP BY term),
      |j AS (SELECT COALESCE(ca.term, cb.term) AS term,
      |        COALESCE(cnt_a, 0) AS cnt_a, COALESCE(cnt_b, 0) AS cnt_b
      |      FROM ca FULL OUTER JOIN cb ON ca.term = cb.term),
      |t AS (SELECT SUM(cnt_a)::BIGINT AS tot_a,
      |             SUM(cnt_b)::BIGINT AS tot_b FROM j)
      |SELECT term, cnt_a, cnt_b,
      |  floor(((cnt_a / tot_a - cnt_b / tot_b)
      |         * (cnt_a / tot_a - cnt_b / tot_b)
      |         / ((cnt_a + cnt_b) / (tot_a + tot_b))) * 1e9 + 0.5) / 1e9
      |    AS chi2
      |FROM j, t ORDER BY chi2 DESC, term LIMIT 50""".stripMargin)

  /** Equi-width histogram profile of l_extendedprice (16 bins):
    * bin assignment is an accumulation-free double dag, engine-exact. */
  private val x44: (Fn, String) = (
    (s, d) => Profile.histogram(t(s, d, "lineitem"), "l_extendedprice", 16),
    """WITH b AS (SELECT MIN(l_extendedprice) AS lo,
      |                  MAX(l_extendedprice) AS hi FROM lineitem),
      |h AS (SELECT LEAST(CAST(floor((l_extendedprice - lo) * 16 / (hi - lo))
      |                        AS BIGINT), 15) AS bin
      |      FROM lineitem, b WHERE l_extendedprice IS NOT NULL)
      |SELECT bin, COUNT(*)::BIGINT AS n FROM h GROUP BY bin ORDER BY bin""".stripMargin)

  /** Per-node triangle counts over the supplier co-occurrence graph
    * (suppliers linked when they ship high-quantity lines of the same
    * order — the qty > 45 filter keeps the graph sparse, which is both
    * realistic for co-occurrence graphs and what the degree-oriented
    * algorithm exploits). The oracle enumerates triangles the naive
    * way (a < b < c three-way self-join) — same triangle set, so the
    * per-node counts must agree; the engine's degree orientation is
    * pure physical-plan discipline. */
  private val x52: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      val li = t(s, d, "lineitem").filter($"l_quantity" > 45)
        .select($"l_orderkey".as("ok"), $"l_suppkey".as("sk")).distinct()
      val edges = li.as("a").join(li.as("b"),
          col("a.ok") === col("b.ok") && col("a.sk") < col("b.sk"))
        .select(col("a.sk").as("sa"), col("b.sk").as("sb"))
      Graph.triangleCounts(edges, "sa", "sb").orderBy($"id")
    },
    """WITH pairs AS (
      |  SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk
      |  FROM lineitem WHERE l_quantity > 45),
      |e AS (SELECT DISTINCT a.sk AS u, b.sk AS v
      |      FROM pairs a JOIN pairs b ON a.ok = b.ok AND a.sk < b.sk),
      |tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
      |        FROM e e1 JOIN e e2 ON e2.u = e1.v
      |        JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
      |nodes AS (SELECT unnest([a, b, c]) AS id FROM tri)
      |SELECT id::BIGINT AS id, COUNT(*)::BIGINT AS n_triangles
      |FROM nodes GROUP BY id ORDER BY id""".stripMargin)

  /** BM25 top-3 distinguishing terms per document — x21's tf-idf with
    * the saturating tf and doc-length normalization, integer-exact
    * (Zipf-bucket idf, fraction-cleared k1/b rational arithmetic). */
  private val x53: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      TextAnalysis.bm25TopTerms(t(s, d, "documents"), "doc_id", "text", k = 3)
        .orderBy($"doc_id", $"rank")
    },
    """WITH tok AS (
      |  SELECT doc_id, unnest([t for t in string_split(text, ' ')
      |                         if len(t) > 0]) AS term
      |  FROM documents),
      |tf AS (SELECT doc_id, term, COUNT(*)::BIGINT AS tf
      |       FROM tok GROUP BY doc_id, term),
      |dl AS (SELECT doc_id, COUNT(*)::BIGINT AS dl FROM tok GROUP BY doc_id),
      |dfq AS (SELECT term, COUNT(*)::BIGINT AS term_df FROM tf GROUP BY term),
      |tot AS (SELECT COUNT(*)::BIGINT AS n_docs, SUM(dl)::BIGINT AS t_toks
      |        FROM dl),
      |sc AS (SELECT doc_id, term, tf, term_df,
      |         ((length(bin(n_docs // term_df)) - 1)
      |          * ((1000000 * 44 * t_toks * tf)
      |             // (20 * t_toks * tf + 6 * t_toks + 18 * dl * n_docs))
      |         )::BIGINT AS score_ppm
      |       FROM tf JOIN dl USING (doc_id) JOIN dfq USING (term), tot),
      |rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
      |         ORDER BY score_ppm DESC, term)::BIGINT AS rank FROM sc)
      |SELECT doc_id, rank, term, tf, term_df, score_ppm
      |FROM rk WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin)

  /** Robust outlier profile (median / MAD, ×2 / ×4 integer scaling)
    * of part retail prices per brand. */
  private val x54: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      Profile.robustOutliers(t(s, d, "part"), "p_brand", "p_retailprice",
          madK = 3)
        .orderBy($"grp")
    },
    """WITH base AS (
      |  SELECT p_brand AS grp,
      |    CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS cents
      |  FROM part WHERE p_retailprice IS NOT NULL),
      |med AS (SELECT grp, quantile_cont(cents, 0.5) AS med
      |        FROM base GROUP BY grp),
      |dev AS (SELECT base.grp, cents, med, abs(cents - med) AS dev
      |        FROM base JOIN med USING (grp)),
      |mad AS (SELECT grp, quantile_cont(dev, 0.5) AS mad
      |        FROM dev GROUP BY grp)
      |SELECT d.grp AS grp, COUNT(*)::BIGINT AS n_rows,
      |  CAST(MIN(d.med) * 2 AS BIGINT) AS med_cents_x2,
      |  CAST(MIN(m.mad) * 4 AS BIGINT) AS mad_cents_x4,
      |  SUM(CASE WHEN d.dev > m.mad * 3 THEN 1 ELSE 0 END)::BIGINT
      |    AS n_outliers
      |FROM dev d JOIN mad m USING (grp)
      |GROUP BY d.grp ORDER BY d.grp""".stripMargin)

  /** PMI collocation discovery over document bigrams: top-50 adjacent
    * token pairs by integer-log2 PMI bucket (minCount 5 suppresses
    * rare-pair noise). Both engines quantize PMI identically — binary
    * digit count of an integer quotient, negated below ratio 1. */
  private val x55: (Fn, String) = (
    (s, d) => {
      TextAnalysis.collocations(t(s, d, "documents"), "doc_id", "text",
        minCount = 5L, k = 50)
    },
    """WITH tk AS (
      |  SELECT [t for t in string_split(text, ' ')
      |          if len(t) > 0] AS toks
      |  FROM documents),
      |bg AS (SELECT toks[i] AS prev, toks[i+1] AS tok
      |       FROM (SELECT toks, unnest(range(1, len(toks))) AS i
      |             FROM tk WHERE len(toks) >= 2)),
      |cab AS (SELECT prev, tok, COUNT(*)::BIGINT AS c_ab
      |        FROM bg GROUP BY prev, tok),
      |ca AS (SELECT prev, SUM(c_ab)::BIGINT AS c_a FROM cab GROUP BY prev),
      |cb AS (SELECT tok, SUM(c_ab)::BIGINT AS c_b FROM cab GROUP BY tok),
      |n AS (SELECT SUM(c_ab)::BIGINT AS n_pairs FROM cab)
      |SELECT prev, tok, c_ab, c_a, c_b,
      |  CASE WHEN c_ab * n_pairs >= c_a * c_b
      |    THEN (length(bin((c_ab * n_pairs) // (c_a * c_b))) - 1)::BIGINT
      |    ELSE (-(length(bin((c_a * c_b) // (c_ab * n_pairs))) - 1))::BIGINT
      |  END AS pmi_bits
      |FROM cab JOIN ca USING (prev) JOIN cb USING (tok), n
      |WHERE c_ab >= 5
      |ORDER BY pmi_bits DESC, c_ab DESC, prev, tok LIMIT 50""".stripMargin)

  /** Shared SQL body for the supplier co-occurrence edge list (the
    * x52/x56 graph): suppliers linked when they ship lines of the same
    * order above the quantity threshold. */
  private def supplierEdgeSql(minQty: Int) =
    s"""SELECT a.sk AS src, b.sk AS dst
       |FROM (SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk
       |      FROM lineitem WHERE l_quantity > $minQty) a
       |JOIN (SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk
       |      FROM lineitem WHERE l_quantity > $minQty) b
       |  ON a.ok = b.ok AND a.sk < b.sk""".stripMargin

  /** k-core of the supplier co-occurrence graph (k=5, 6 synchronous
    * peel rounds — fixpoint is reached in ≤5 rounds at every gate
    * scale, and the round count is part of the operator contract so
    * both engines run the identical finite computation). */
  private val x56: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      val li = t(s, d, "lineitem").filter($"l_quantity" > 47)
        .select($"l_orderkey".as("ok"), $"l_suppkey".as("sk")).distinct()
      val edges = li.as("a").join(li.as("b"),
          col("a.ok") === col("b.ok") && col("a.sk") < col("b.sk"))
        .select(col("a.sk").as("sa"), col("b.sk").as("sb"))
      Graph.kCoreMembers(edges, "sa", "sb", k = 5, rounds = 6)
        .orderBy($"id")
    },
    Graph.kCoreSql(supplierEdgeSql(47), k = 5, rounds = 6))

  /** Deterministic label-propagation communities over the supplier
    * co-occurrence graph (4 synchronous rounds, smallest-label tie
    * break — the engine's min(struct) argmax and the oracle's
    * ROW_NUMBER pick share one total order). */
  private val x57: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      val li = t(s, d, "lineitem").filter($"l_quantity" > 47)
        .select($"l_orderkey".as("ok"), $"l_suppkey".as("sk")).distinct()
      val edges = li.as("a").join(li.as("b"),
          col("a.ok") === col("b.ok") && col("a.sk") < col("b.sk"))
        .select(col("a.sk").as("sa"), col("b.sk").as("sb"))
      Graph.labelPropagate(edges, "sa", "sb", rounds = 4)
        .orderBy($"id")
    },
    Graph.labelPropSql(supplierEdgeSql(47), rounds = 4))

  /** SpaceSaving heavy-hitters summary of event types, pinned in the
    * EXACT regime (cap 64 ≫ the handful of distinct types): the
    * sketch must degenerate to exact GROUP BY counts with zero error
    * under any partitioning — that determinism is the gate; the
    * overflow-regime bounds live in HeavyHittersSpec. */
  private val x58: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      t(s, d, "events")
        .agg(graft.functions.HeavyHittersAgg
          .heavyHitters($"event_type", 64).as("hh"))
        .select(explode($"hh").as("h"))
        .select($"h.item".as("item"), $"h.est".as("est"), $"h.err".as("err"))
        .orderBy($"est".desc, $"item")
    },
    """SELECT event_type AS item, COUNT(*)::BIGINT AS est, 0::BIGINT AS err
      |FROM events GROUP BY event_type ORDER BY est DESC, item""".stripMargin)

  /** Three-stage conversion funnel (view → click → purchase, strict
    * event-time ordering) over the events table — iterated-min chain,
    * so duplicate event rows and arrival order cannot change it. */
  private val x59: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      graft.ext.Temporal.funnel(t(s, d, "events"), "user_id", "ts",
          "event_type", Seq("view", "click", "purchase"))
        .orderBy($"user_id")
    },
    """WITH s1 AS (SELECT user_id, MIN(ts) AS t1 FROM events
      |            WHERE event_type = 'view' GROUP BY user_id),
      |s2 AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM events e
      |       JOIN s1 ON s1.user_id = e.user_id
      |       WHERE e.event_type = 'click' AND e.ts > s1.t1
      |       GROUP BY e.user_id),
      |s3 AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM events e
      |       JOIN s2 ON s2.user_id = e.user_id
      |       WHERE e.event_type = 'purchase' AND e.ts > s2.t2
      |       GROUP BY e.user_id)
      |SELECT s1.user_id AS user_id,
      |  (1 + CASE WHEN s2.t2 IS NULL THEN 0 ELSE 1 END
      |     + CASE WHEN s3.t3 IS NULL THEN 0 ELSE 1 END)::BIGINT AS depth,
      |  CAST(s1.t1 AS TIMESTAMP) AS t1,
      |  CAST(s2.t2 AS TIMESTAMP) AS t2,
      |  CAST(s3.t3 AS TIMESTAMP) AS t3
      |FROM s1 LEFT JOIN s2 ON s2.user_id = s1.user_id
      |LEFT JOIN s3 ON s3.user_id = s1.user_id
      |ORDER BY s1.user_id""".stripMargin)

  /** Day-N retention matrix over the events table: cohort by first
    * active date, count users per (cohort, day offset). */
  private val x60: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      graft.ext.Temporal.retention(t(s, d, "events"), "user_id", "ts")
        .orderBy($"cohort_date", $"day_offset")
    },
    """WITH act AS (SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS d
      |             FROM events),
      |coh AS (SELECT u, MIN(d) AS c FROM act GROUP BY u)
      |SELECT coh.c AS cohort_date,
      |  date_diff('day', coh.c, act.d)::BIGINT AS day_offset,
      |  COUNT(*)::BIGINT AS n_users
      |FROM act JOIN coh ON coh.u = act.u
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)

  /** Functional-dependency discovery over orders: the key candidate
    * (o_orderkey → o_custkey) must hold; the two attribute pairs must
    * report their exact violation counts. */
  private val x61: (Fn, String) = {
    val fdPairs = Seq(
      ("o_orderkey", "o_custkey"),
      ("o_custkey", "o_orderpriority"),
      ("o_orderstatus", "o_orderpriority"))
    def pairSql(a: String, b: String) =
      s"""SELECT '$a' AS lhs_col, '$b' AS rhs_col,
         |  COUNT(*)::BIGINT AS n_lhs,
         |  SUM(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END)::BIGINT AS n_violating,
         |  SUM(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) = 0 AS holds
         |FROM (SELECT lhs, COUNT(*) AS n_rhs FROM
         |      (SELECT DISTINCT CAST($a AS VARCHAR) AS lhs,
         |              CAST($b AS VARCHAR) AS rhs
         |       FROM orders WHERE $a IS NOT NULL)
         |      GROUP BY lhs)""".stripMargin
    ((s, d) => {
      import s.implicits._
      Profile.fdViolations(t(s, d, "orders"), fdPairs)
        .orderBy($"lhs_col", $"rhs_col")
    },
    fdPairs.map { case (a, b) => pairSql(a, b) }
      .mkString("", "\nUNION ALL\n", "\nORDER BY lhs_col, rhs_col"))
  }

  /** SemDeDup-style semantic dedup scored in the int8-quantized
    * domain: plane-LSH banded candidates (mirrored bit-for-bit like
    * x05), then an all-integer cross-multiplied cosine² decision —
    * cos² ≥ 4/25 and dotq > 0. Output columns are all BIGINT, so the
    * pair set hash-matches by exact arithmetic, not rounding luck.
    * Like x05, the gate exercises the CORPUS-AWARE banding defaults —
    * at every gate corpus size n ≤ 2048 they derive exactly
    * (8 bands, 4 bits), pinned by this static 32-plane oracle — and
    * the oversized-bucket sub-split is mirrored by
    * [[Planes.cappedSkCteSql]] (a no-op below 4096 members/bucket,
    * but the cap semantics themselves are gated). */
  private val x62: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      Dedup.semanticDupPairsInt8(t(s, d, "embeddings"), "vec_id", "embedding",
          cos2Num = 4, cos2Den = 25, dim = 64)
        .orderBy($"id_a", $"id_b")
    },
    s"""WITH ${Planes.planesCteSql(32, 64)},
       |${Planes.dotsCteSql("embeddings", "vec_id", "embedding", 64)},
       |sk AS (
       |  SELECT vec_id, p // 4 AS band,
       |    CAST(SUM(CASE WHEN dot > 0 THEN CAST(pow(2, p % 4) AS BIGINT)
       |             ELSE 0 END) AS BIGINT) AS bucket
       |  FROM dots GROUP BY vec_id, band),
       |${Planes.cappedSkCteSql(4096)},
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM skb a JOIN skb b
       |    ON a.band = b.band AND a.bucket = b.bucket AND a.sub = b.sub
       |    AND a.vec_id < b.vec_id),
       |m AS (
       |  SELECT vec_id, embedding,
       |    list_max(list_transform(embedding,
       |      x -> abs(CAST(x AS DOUBLE)))) AS maxabs
       |  FROM embeddings),
       |qz AS (
       |  SELECT vec_id,
       |    CASE WHEN maxabs = 0
       |      THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
       |      ELSE list_transform(embedding,
       |        x -> CAST(greatest(-127.0, least(127.0,
       |          floor(CAST(x AS DOUBLE) * (127.0 / maxabs) + 0.5)))
       |          AS BIGINT))
       |    END AS qv
       |  FROM m),
       |scored AS (
       |  SELECT id_a, id_b,
       |    list_reduce([ qa.qv[i] * qb.qv[i]
       |      for i in range(1, len(qa.qv) + 1) ], (x, y) -> x + y) AS dotq,
       |    list_reduce([ qa.qv[i] * qa.qv[i]
       |      for i in range(1, len(qa.qv) + 1) ], (x, y) -> x + y) AS na,
       |    list_reduce([ qb.qv[i] * qb.qv[i]
       |      for i in range(1, len(qb.qv) + 1) ], (x, y) -> x + y) AS nb
       |  FROM cand
       |  JOIN qz qa ON qa.vec_id = cand.id_a
       |  JOIN qz qb ON qb.vec_id = cand.id_b)
       |SELECT id_a, id_b, dotq::BIGINT AS dotq, na::BIGINT AS na, nb::BIGINT AS nb
       |FROM scored
       |WHERE dotq > 0 AND na > 0 AND nb > 0
       |  AND 25 * dotq * dotq >= 4 * na * nb
       |ORDER BY id_a, id_b""".stripMargin)

  /** Mergeable quantile sketch in its exact regime: cap (65536) above
    * every group's value cardinality (~30k at sf0.1), so the lossy
    * compactor never fires and the summary is the exact weighted
    * histogram. The rank formula — smallest value whose cumulative
    * weight reaches ceil(q·W) — is spelled out in the oracle SQL
    * instead of trusting DuckDB's quantile_disc to share rank
    * semantics; the ceil arithmetic is the same IEEE multiply in both
    * engines. */
  private val x63: (Fn, String) = {
    import graft.functions.QuantileSketchAgg.{quantileAt, sketch}
    ((s, d) => {
      import s.implicits._
      t(s, d, "orders")
        .groupBy($"o_orderpriority")
        .agg(sketch($"o_totalprice", 65536).as("sm"))
        .select($"o_orderpriority",
          aggregate($"sm", lit(0L), (a, e) => a + e.getField("w")).as("n"),
          quantileAt($"sm", 0.25).as("p25"),
          quantileAt($"sm", 0.5).as("p50"),
          quantileAt($"sm", 0.75).as("p75"),
          quantileAt($"sm", 0.9).as("p90"))
        .orderBy($"o_orderpriority")
    },
    """WITH s AS (
      |  SELECT o_orderpriority AS pri, CAST(o_totalprice AS DOUBLE) AS v
      |  FROM orders WHERE o_totalprice IS NOT NULL),
      |tot AS (SELECT pri, COUNT(*)::BIGINT AS w FROM s GROUP BY pri),
      |r AS (SELECT pri, v,
      |        ROW_NUMBER() OVER (PARTITION BY pri ORDER BY v) AS rn FROM s)
      |SELECT r.pri AS o_orderpriority,
      |  MAX(tot.w)::BIGINT AS n,
      |  MAX(CASE WHEN rn = greatest(1, CAST(ceil(0.25 * tot.w) AS BIGINT))
      |      THEN v END) AS p25,
      |  MAX(CASE WHEN rn = greatest(1, CAST(ceil(0.5 * tot.w) AS BIGINT))
      |      THEN v END) AS p50,
      |  MAX(CASE WHEN rn = greatest(1, CAST(ceil(0.75 * tot.w) AS BIGINT))
      |      THEN v END) AS p75,
      |  MAX(CASE WHEN rn = greatest(1, CAST(ceil(0.9 * tot.w) AS BIGINT))
      |      THEN v END) AS p90
      |FROM r JOIN tot ON tot.pri = r.pri
      |GROUP BY r.pri ORDER BY o_orderpriority""".stripMargin)
  }

  /** Weighted sample of documents, inclusion odds scaling with
    * length: weight = n_chars div 50 clamped to [1, 16], n = 40. The
    * oracle replays the ticket fold digest-for-digest (md5 hex
    * strings order identically in both engines). */
  private val x64: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      Sampling.weightedSample(t(s, d, "documents"), "doc_id",
          expr("n_chars div 50"), n = 40, salt = "ws1", maxWeight = 16)
        .select($"doc_id", $"source", $"sample_weight", $"priority")
    },
    """WITH s AS (
      |  SELECT doc_id, source,
      |    greatest(1, least(16, CAST(n_chars // 50 AS INT))) AS wc
      |  FROM documents),
      |p AS (
      |  SELECT doc_id, source, CAST(wc AS BIGINT) AS sample_weight,
      |    list_min([ md5('ws1' || CAST(doc_id AS VARCHAR) || ':' ||
      |                   CAST(j AS VARCHAR))
      |               for j in range(0, wc) ]) AS priority
      |  FROM s)
      |SELECT doc_id, source, sample_weight, priority
      |FROM p ORDER BY priority, doc_id LIMIT 40""".stripMargin)

  /** Champion-list inverted index: bounded top-tf postings per term
    * via the native TopKAgg — the full posting list of a stop-grade
    * term never exists anywhere. */
  private val x65: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      Index.championIndex(t(s, d, "documents"), "doc_id", "text", k = 10)
        .orderBy($"term")
    },
    """WITH tk AS (
      |  SELECT doc_id,
      |    unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
      |  FROM documents),
      |pd AS (SELECT term, doc_id, COUNT(*)::BIGINT AS tf FROM tk GROUP BY 1, 2)
      |SELECT term, COUNT(*)::BIGINT AS df, SUM(tf)::BIGINT AS cf,
      |  array_to_string(
      |    (list(doc_id || ':' || tf ORDER BY tf DESC, doc_id))[1:10],
      |    ';') AS champions
      |FROM pd GROUP BY term ORDER BY term""".stripMargin)

  /** Inter-source shingle-overlap matrix: the duplication audit run
    * before choosing mixture weights. Exact Jaccard, integer counts
    * alongside. */
  private val x66: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      Drift.groupOverlap(t(s, d, "documents"), "source", "text", n = 3)
        .orderBy($"group_a", $"group_b")
    },
    """WITH gs AS (
      |  SELECT DISTINCT source AS g, sh FROM (
      |    SELECT source, unnest(list_distinct(
      |      [ s[i] || ' ' || s[i+1] || ' ' || s[i+2]
      |        for i in range(1, len(s) - 1) ])) AS sh
      |    FROM (SELECT source, string_split(text, ' ') AS s FROM documents))),
      |sizes AS (SELECT g, COUNT(*)::BIGINT AS sz FROM gs GROUP BY g),
      |pairs AS (
      |  SELECT a.g AS group_a, b.g AS group_b, COUNT(*)::BIGINT AS inter
      |  FROM gs a JOIN gs b ON a.sh = b.sh AND a.g < b.g
      |  GROUP BY 1, 2)
      |SELECT p.group_a, p.group_b, p.inter,
      |  sa.sz AS sz_a, sb.sz AS sz_b,
      |  floor(p.inter::DOUBLE / (sa.sz + sb.sz - p.inter) * 1e6 + 0.5) / 1e6
      |    AS jaccard
      |FROM pairs p
      |JOIN sizes sa ON sa.g = p.group_a
      |JOIN sizes sb ON sb.g = p.group_b
      |ORDER BY group_a, group_b""".stripMargin)

  // 4 checksum-valid identifiers + their single-digit corruptions —
  // the validator, not the pattern, must tell them apart
  private val cardPool = Seq(
    "4111111111111111", "4539578763621486",
    "5555555555554444", "378282246310005",
    "4111111111111112", "4539578763621487",
    "5555555555554445", "378282246310006")
  private val ibanPool = Seq(
    "DE89370400440532013000", "GB82WEST12345698765432",
    "FR1420041010050500013M02606", "NL91ABNA0417164300",
    "DE89370400440532013001", "GB82WEST12345698765431",
    "FR1420041010050500013M02607", "NL91ABNA0417164301")

  /** Checksum-verified PII: Luhn (cards) and mod-97 (IBAN) validity
    * as pure integer expressions, plus checksum-gated extraction from
    * text — an order id shaped like a card number must NOT count. */
  private val x67: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
        .withColumn("card",
          element_at(array(cardPool.map(lit): _*), ($"doc_id" % 8 + 1).cast("int")))
        .withColumn("iban",
          element_at(array(ibanPool.map(lit): _*), ($"doc_id" % 8 + 1).cast("int")))
      docs.select($"doc_id", $"card",
          Redact.luhnValid($"card").as("card_ok"),
          $"iban", Redact.ibanValid($"iban").as("iban_ok"),
          size(Redact.verifiedCards(concat($"text", lit(" pay "), $"card")))
            .cast("long").as("n_verified"))
        .orderBy($"doc_id")
    }, {
      val cards = cardPool.map(c => s"'$c'").mkString(", ")
      val ibans = ibanPool.map(c => s"'$c'").mkString(", ")
      val p97 = graft.ext.Redact.pow97.mkString(", ")
      s"""WITH base AS (
         |  SELECT doc_id,
         |    ([$cards])[CAST(doc_id % 8 AS INT) + 1] AS card,
         |    ([$ibans])[CAST(doc_id % 8 AS INT) + 1] AS iban
         |  FROM documents),
         |ib AS (
         |  SELECT doc_id, card, iban,
         |    array_to_string([
         |      CASE WHEN (iban[5:] || iban[1:4])[j] BETWEEN '0' AND '9'
         |        THEN (iban[5:] || iban[1:4])[j]
         |        ELSE CAST(ascii((iban[5:] || iban[1:4])[j]) - 55 AS VARCHAR) END
         |      for j in range(1, length(iban) + 1)], '') AS digs
         |  FROM base),
         |chk AS (
         |  SELECT doc_id, card, iban,
         |    length(card) BETWEEN 2 AND 19 AND
         |    list_sum([ CASE WHEN (length(card) - i) % 2 = 1
         |        THEN 2 * CAST(card[i] AS INT)
         |          - CASE WHEN 2 * CAST(card[i] AS INT) > 9 THEN 9 ELSE 0 END
         |        ELSE CAST(card[i] AS INT) END
         |      for i in range(1, length(card) + 1) ]) % 10 = 0 AS card_ok,
         |    length(iban) BETWEEN 15 AND 34 AND
         |    regexp_matches(iban, '^[A-Z]{2}[0-9]{2}[A-Z0-9]+$$') AND
         |    list_sum([ CAST(digs[i] AS INT) *
         |        ([$p97])[length(digs) - i + 1]
         |      for i in range(1, length(digs) + 1) ]) % 97 = 1 AS iban_ok
         |  FROM ib)
         |SELECT doc_id, card, card_ok, iban, iban_ok,
         |  (CASE WHEN card_ok THEN 1 ELSE 0 END)::BIGINT AS n_verified
         |FROM chk ORDER BY doc_id""".stripMargin
    })

  /** Content-defined chunking: every boundary is a pure function of
    * the token content (md5 bucket), so the oracle reproduces chunk
    * membership, order and digests exactly. */
  private val x68: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      Chunk.cdcChunks(t(s, d, "documents"), "doc_id", "text",
          divisor = 8, salt = "cdc")
        .orderBy($"doc", $"chunk_idx")
    },
    s"""WITH sp AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS s
       |  FROM documents),
       |tk AS (
       |  SELECT doc_id, unnest(
       |    [{'pos': i - 1, 'tok': s[i]} for i in range(1, len(s) + 1)],
       |    recursive := true)
       |  FROM sp),
       |fl AS (
       |  SELECT doc_id, pos, tok,
       |    CASE WHEN (${bucketSql("tok", "cdc", 0)}) % 8 = 0
       |      THEN 1 ELSE 0 END AS flag
       |  FROM tk),
       |cx AS (
       |  SELECT doc_id, pos, tok,
       |    COALESCE(SUM(flag) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_idx
       |  FROM fl)
       |SELECT doc_id AS doc, chunk_idx::BIGINT AS chunk_idx,
       |  COUNT(*)::BIGINT AS n_tokens,
       |  md5(string_agg(tok, ' ' ORDER BY pos)) AS digest
       |FROM cx GROUP BY doc_id, chunk_idx ORDER BY doc, chunk_idx""".stripMargin)

  /** Integer-domain k-means assignment: label-seeded int8 centroids,
    * exact integer distances, smallest-id tie break — bit-identical
    * in any engine. */
  private val x69: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      Similarity.int8Assign(t(s, d, "embeddings"), "vec_id", "embedding",
          "label")
        .orderBy($"vec_id")
    },
    """WITH m AS (
      |  SELECT vec_id, label, embedding,
      |    list_max(list_transform(embedding,
      |      x -> abs(CAST(x AS DOUBLE)))) AS maxabs
      |  FROM embeddings),
      |q AS (
      |  SELECT vec_id, label AS grp,
      |    CASE WHEN maxabs = 0
      |      THEN list_transform(embedding, x -> 0::BIGINT)
      |      ELSE list_transform(embedding,
      |        x -> CAST(greatest(-127.0, least(127.0,
      |          floor(CAST(x AS DOUBLE) * (127.0 / maxabs) + 0.5)))
      |          AS BIGINT))
      |    END AS q8
      |  FROM m),
      |dims AS (
      |  SELECT grp, unnest(
      |    [{'pos': i - 1, 'v': q8[i]} for i in range(1, len(q8) + 1)],
      |    recursive := true)
      |  FROM q),
      |sums AS (
      |  SELECT grp, pos, SUM(v)::BIGINT AS s, COUNT(*)::BIGINT AS n
      |  FROM dims GROUP BY 1, 2),
      |cent AS (
      |  SELECT grp AS cluster, list(c ORDER BY pos) AS cvec
      |  FROM (SELECT grp, pos,
      |          ((2 * (s + 127 * n) + n) // (2 * n)) - 127 AS c
      |        FROM sums)
      |  GROUP BY grp),
      |dist AS (
      |  SELECT q.vec_id, cent.cluster,
      |    list_sum([ (q8[i] - cvec[i]) * (q8[i] - cvec[i])
      |               for i in range(1, len(q8) + 1) ])::BIGINT AS d2
      |  FROM q CROSS JOIN cent),
      |rk AS (
      |  SELECT vec_id, cluster, d2,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cluster) AS r
      |  FROM dist)
      |SELECT vec_id, cluster::BIGINT AS cluster, d2
      |FROM rk WHERE r = 1 ORDER BY vec_id""".stripMargin)

  /** URL canonicalization over six derived variants per corpus row:
    * mixed case, default/non-default ports, tracking params, unsorted
    * queries, fragments, trailing slashes, schemeless garbage. */
  private val x70: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      val v = $"doc_id" % 6
      val n = expr("CAST(doc_id div 6 AS STRING)")
      val url = when(v === 0, concat(lit("https://www."), $"source",
          lit(".example.com/docs/"), n, lit("/?utm_source=x&b=2&a=1")))
        .when(v === 1, concat(lit("HTTPS://"), upper($"source"),
          lit(".EXAMPLE.com:443/docs/"), n, lit("?a=1&b=2&utm_campaign=y")))
        .when(v === 2, concat(lit("http://"), $"source",
          lit(".example.com:8080/a/b?z=9&y=8#frag")))
        .when(v === 3, concat(lit("http://www."), $"source",
          lit(".example.com:80/path/")))
        .when(v === 4, concat(lit("https://"), $"source",
          lit(".example.com/docs/"), n, lit("/")))
        .otherwise(concat(lit("no scheme "), $"source"))
      t(s, d, "documents").withColumn("url", url)
        .select($"doc_id", $"url",
          graft.ext.Url.canonicalize($"url").as("canonical"),
          graft.ext.Url.site($"url").as("site"))
        .orderBy($"doc_id")
    },
    """WITH u AS (
      |  SELECT doc_id,
      |    CASE doc_id % 6
      |      WHEN 0 THEN 'https://www.' || source || '.example.com/docs/' ||
      |        CAST(doc_id // 6 AS VARCHAR) || '/?utm_source=x&b=2&a=1'
      |      WHEN 1 THEN 'HTTPS://' || upper(source) || '.EXAMPLE.com:443/docs/' ||
      |        CAST(doc_id // 6 AS VARCHAR) || '?a=1&b=2&utm_campaign=y'
      |      WHEN 2 THEN 'http://' || source || '.example.com:8080/a/b?z=9&y=8#frag'
      |      WHEN 3 THEN 'http://www.' || source || '.example.com:80/path/'
      |      WHEN 4 THEN 'https://' || source || '.example.com/docs/' ||
      |        CAST(doc_id // 6 AS VARCHAR) || '/'
      |      ELSE 'no scheme ' || source END AS url
      |  FROM documents),
      |parts AS (
      |  SELECT doc_id, url,
      |    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS sch,
      |    regexp_replace(url, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest
      |  FROM u),
      |hp AS (
      |  SELECT doc_id, url, sch, rest,
      |    regexp_extract(rest, '^([^/?#]*)', 1) AS hostport,
      |    regexp_extract(regexp_replace(rest, '^[^/?#]*', ''),
      |      '^([^#]*)', 1) AS prefrag
      |  FROM parts),
      |hh AS (
      |  SELECT doc_id, url, sch, hostport, prefrag,
      |    regexp_replace(lower(regexp_extract(hostport, '^([^:]*)', 1)),
      |      '^www\.', '') AS host,
      |    regexp_extract(hostport, ':([0-9]+)$', 1) AS port
      |  FROM hp),
      |cc AS (
      |  SELECT doc_id, url, sch, host,
      |    CASE WHEN port = '' OR (sch = 'http' AND port = '80')
      |           OR (sch = 'https' AND port = '443')
      |      THEN '' ELSE ':' || port END AS kport,
      |    regexp_replace(regexp_extract(prefrag, '^([^?]*)', 1),
      |      '/+$', '') AS path,
      |    COALESCE(array_to_string(list_sort(list_filter(
      |      string_split(regexp_extract(prefrag, '\?(.*)$', 1), '&'),
      |      p -> p <> '' AND p[1:4] <> 'utm_' AND p[1:6] <> 'gclid='
      |        AND p[1:7] <> 'fbclid=')), '&'), '') AS q
      |  FROM hh)
      |SELECT doc_id, url,
      |  CASE WHEN sch = '' THEN ''
      |    ELSE sch || '://' || host || kport || path ||
      |      CASE WHEN q = '' THEN '' ELSE '?' || q END END AS canonical,
      |  regexp_extract(host, '([^.]+\.[^.]+)$', 1) AS site
      |FROM cc ORDER BY doc_id""".stripMargin)

  /** Skip-gram co-occurrence top-k: in-row pair generation, one
    * map-combined count, TakeOrdered cut at a total order. */
  private val x71: (Fn, String) = (
    (s, d) => {
      TextAnalysis.skipgramCounts(t(s, d, "documents"), "text",
        window = 2, k = 50)
    },
    """WITH sp AS (
      |  SELECT list_filter(string_split(text, ' '), x -> x <> '') AS s
      |  FROM documents),
      |pr AS (
      |  SELECT unnest(flatten([
      |    [ {'center': s[i], 'context': s[i + o]}
      |      for o in [-2, -1, 1, 2]
      |      if i + o >= 1 AND i + o <= len(s) ]
      |    for i in range(1, len(s) + 1) ]), recursive := true)
      |  FROM sp WHERE len(s) >= 2)
      |SELECT center, context, COUNT(*)::BIGINT AS cnt
      |FROM pr GROUP BY center, context
      |ORDER BY cnt DESC, center, context LIMIT 50""".stripMargin)

  /** Half-life–decayed engagement per event type: integer halvings,
    * exact Long sum — no exp(), no float accumulation. */
  private val x72: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      Temporal.decayedScore(t(s, d, "events"), "event_type", "ts", "value",
          periodSec = 86400L, horizon = 20)
        .select($"grp".as("event_type"), $"n_events", $"score_scaled")
        .orderBy($"event_type")
    },
    """WITH ev AS (
      |  SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS es,
      |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      |  FROM events),
      |m AS (SELECT MAX(es) AS mx FROM ev)
      |SELECT event_type, COUNT(*)::BIGINT AS n_events,
      |  SUM(cents * (1::BIGINT <<
      |    CAST(20 - least(20, (mx - es) // 86400) AS INT)))::BIGINT
      |    AS score_scaled
      |FROM ev CROSS JOIN m
      |GROUP BY event_type ORDER BY event_type""".stripMargin)

  /** Event-type transition matrix: lag window per user (total order
    * includes the event id on timestamp ties), map-combined count. */
  private val x73: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      Temporal.transitionCounts(t(s, d, "events"), "user_id", "ts",
          "event_type", tieBreak = "event_id")
        .orderBy($"from_type", $"to_type")
    },
    """WITH seq AS (
      |  SELECT event_type AS to_type,
      |    LAG(event_type) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS from_type
      |  FROM events)
      |SELECT from_type, to_type, COUNT(*)::BIGINT AS n_transitions
      |FROM seq WHERE from_type IS NOT NULL
      |GROUP BY from_type, to_type ORDER BY from_type, to_type""".stripMargin)

  /** Funnel with a conversion window (MATCH_RECOGNIZE WITHIN):
    * stages must land within 6h of the user's first stage-1 event —
    * depths shrink vs the unbounded x59 funnel. */
  private val x74: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      Temporal.funnel(t(s, d, "events"), "user_id", "ts",
          "event_type", Seq("view", "click", "purchase"),
          windowSec = Some(21600L))
        .orderBy($"user_id")
    },
    """WITH s1 AS (SELECT user_id, MIN(ts) AS t1 FROM events
      |            WHERE event_type = 'view' GROUP BY user_id),
      |s2 AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM events e
      |       JOIN s1 ON s1.user_id = e.user_id
      |       WHERE e.event_type = 'click' AND e.ts > s1.t1
      |         AND e.ts <= s1.t1 + INTERVAL 21600 SECOND
      |       GROUP BY e.user_id),
      |s3 AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM events e
      |       JOIN s2 ON s2.user_id = e.user_id
      |       JOIN s1 ON s1.user_id = e.user_id
      |       WHERE e.event_type = 'purchase' AND e.ts > s2.t2
      |         AND e.ts <= s1.t1 + INTERVAL 21600 SECOND
      |       GROUP BY e.user_id)
      |SELECT s1.user_id AS user_id,
      |  (1 + CASE WHEN s2.t2 IS NULL THEN 0 ELSE 1 END
      |     + CASE WHEN s3.t3 IS NULL THEN 0 ELSE 1 END)::BIGINT AS depth,
      |  CAST(s1.t1 AS TIMESTAMP) AS t1,
      |  CAST(s2.t2 AS TIMESTAMP) AS t2,
      |  CAST(s3.t3 AS TIMESTAMP) AS t3
      |FROM s1 LEFT JOIN s2 ON s2.user_id = s1.user_id
      |LEFT JOIN s3 ON s3.user_id = s1.user_id
      |ORDER BY s1.user_id""".stripMargin)

  /** Corpus-frequency boilerplate pruning: every 8-token chunk seen in
    * ≥ 3 distinct documents is removed from all of them (the CCNet/
    * RefinedWeb cleanup applied with the corpus as its own boilerplate
    * list); output is the rewritten corpus with removal counts. */
  private val x75: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      Dedup.pruneBoilerplate(t(s, d, "documents"), "doc_id", "text",
          window = 8, minDocs = 3L)
        .select($"doc_id", $"text_clean", $"n_removed", $"n_chunks_removed")
        .orderBy($"doc_id")
    },
    """WITH tk AS (SELECT doc_id,
      |         [t for t in string_split(text, ' ') if len(t) > 0] AS toks
      |       FROM documents),
      |ch AS (SELECT doc_id, CAST(start // 8 AS INTEGER) AS cidx,
      |         md5(array_to_string(toks[start + 1 : start + 8], ' ')) AS digest
      |       FROM (SELECT doc_id, toks,
      |               unnest(range(0, greatest(len(toks) - 1, 0) + 1, 8)) AS start
      |             FROM tk)),
      |hot AS (SELECT digest FROM ch
      |        GROUP BY digest HAVING COUNT(DISTINCT doc_id) >= 3),
      |rem AS (SELECT doc_id, list(DISTINCT cidx) AS ridx
      |        FROM ch JOIN hot USING (digest) GROUP BY doc_id),
      |final AS (
      |  SELECT t.doc_id,
      |    [t.toks[i] for i in range(1, len(t.toks) + 1)
      |     if len([c for c in COALESCE(r.ridx, CAST([] AS INTEGER[]))
      |             if c * 8 <= i - 1 and i - 1 < (c + 1) * 8]) = 0] AS kept,
      |    len(t.toks) AS ntok,
      |    len(COALESCE(r.ridx, CAST([] AS INTEGER[]))) AS nchunks
      |  FROM tk t LEFT JOIN rem r ON r.doc_id = t.doc_id)
      |SELECT doc_id,
      |  COALESCE(array_to_string(kept, ' '), '') AS text_clean,
      |  (ntok - len(kept))::BIGINT AS n_removed,
      |  nchunks::BIGINT AS n_chunks_removed
      |FROM final ORDER BY doc_id""".stripMargin)

  /** Asymmetric containment pairs (quote/excerpt detection): directed
    * |A∩B|/|A| ≥ 0.7 over word-3-gram shingles — catches partial
    * copies whose symmetric Jaccard sits far below any dedup
    * threshold. Oracle recomputes exact containment over all pairs. */
  private val x76: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      Dedup.containmentPairs(t(s, d, "documents"), "doc_id", "text",
          n = 3, threshold = 0.7)
        .orderBy($"id_a", $"id_b")
    },
    """WITH sh AS (
      |  SELECT doc_id, unnest(list_distinct(
      |    [ s[i] || ' ' || s[i+1] || ' ' || s[i+2]
      |      for i in range(1, len(s) - 1) ])) AS sh
      |  FROM (SELECT doc_id, string_split(text, ' ') AS s FROM documents)),
      |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
      |cont AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |    COUNT(*)::DOUBLE / any_value(sa.sz) AS containment
      |  FROM sh a
      |  JOIN sh b ON a.sh = b.sh AND a.doc_id <> b.doc_id
      |  JOIN sizes sa ON sa.doc_id = a.doc_id
      |  GROUP BY a.doc_id, b.doc_id)
      |SELECT id_a, id_b, containment FROM cont
      |WHERE containment >= 0.7 ORDER BY id_a, id_b""".stripMargin)

  /** Hard-negative mining: per query vector, the 10 nearest corpus
    * vectors with a different label (the near-boundary negatives a
    * contrastive batch builder wants); exact brute-force at gate
    * scale, same 6-dp cosine convention as x06. */
  private val x77: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      val emb = t(s, d, "embeddings")
      Similarity.hardNegatives(
          emb.filter($"vec_id" < 8), "vec_id", "embedding", "label",
          emb, "vec_id", "embedding", "label", k = 10)
        .select($"query_id", $"neighbour_id", $"neg_label", $"rank",
          (floor($"cosine" * 1e6 + 0.5) / 1e6).as("cos6"))
        .orderBy($"query_id", $"rank")
    },
    s"""SELECT query_id, neighbour_id, neg_label, rank,
       |  floor(cosine * 1e6 + 0.5) / 1e6 AS cos6
       |FROM (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbour_id,
       |    c.label AS neg_label,
       |    ${cosineSql("q.embedding", "c.embedding")} AS cosine,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
       |      ${cosineSql("q.embedding", "c.embedding")} DESC, c.vec_id)
       |      AS INTEGER) AS rank
       |  FROM embeddings q JOIN embeddings c
       |    ON q.vec_id <> c.vec_id AND q.label <> c.label
       |  WHERE q.vec_id < 8)
       |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin)

  /** Top-20 session paths: 30-minute gap sessions, first 3 event
    * types joined with '>' — the common-journeys clickstream report;
    * session convention matches x13's sessionize exactly. */
  private val x78: (Fn, String) = (
    (s, d) => {
      Temporal.sessionPaths(t(s, d, "events"), "user_id", "ts",
          "event_type", "event_id", gap = "30 minutes",
          maxSteps = 3, topN = 20)
    },
    """WITH tagged AS (
      |  SELECT user_id, ts, event_type, event_id,
      |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
      |  FROM (
      |    SELECT user_id, ts, event_type, event_id,
      |      CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id
      |             ORDER BY ts, event_id) <= INTERVAL 30 MINUTE
      |           THEN 0 ELSE 1 END AS brk
      |    FROM events)),
      |steps AS (
      |  SELECT user_id, sess, event_type,
      |    ROW_NUMBER() OVER (PARTITION BY user_id, sess
      |      ORDER BY ts, event_id) AS rn
      |  FROM tagged),
      |paths AS (
      |  SELECT user_id, sess,
      |    string_agg(event_type, '>' ORDER BY rn) AS path
      |  FROM steps WHERE rn <= 3 GROUP BY user_id, sess)
      |SELECT path, COUNT(*)::BIGINT AS n_sessions FROM paths
      |GROUP BY path ORDER BY n_sessions DESC, path LIMIT 20""".stripMargin)

  /** Rolling 1-hour trailing count + exact decimal sum per user —
    * RANGE frame over microsecond epochs on both engines. */
  private val x79: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      Temporal.trailingWindow(t(s, d, "events"), "user_id", "ts",
          "value", "event_id", windowSec = 3600L)
        .withColumn("ts", $"ts".cast("timestamp_ntz"))
        .orderBy($"user_id", $"event_id")
    },
    """SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
      |  trail_n, trail_sum
      |FROM (
      |  SELECT user_id, event_id, ts,
      |    COUNT(*) OVER w AS trail_n,
      |    CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
      |      AS trail_sum
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
      |    RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW))
      |ORDER BY user_id, event_id""".stripMargin)

  /** Good–Turing frequency spectrum over corpus unigrams: N_r plus the
    * integer Turing numerator (r+1)·N_{r+1}. */
  private val x80: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      TextAnalysis.countOfCounts(t(s, d, "documents"), "text")
        .orderBy($"r")
    },
    """WITH c AS (
      |  SELECT tok, COUNT(*)::BIGINT AS r
      |  FROM (SELECT unnest([t for t in string_split(text, ' ')
      |                       if len(t) > 0]) AS tok FROM documents)
      |  GROUP BY tok),
      |sp AS (SELECT r, COUNT(*)::BIGINT AS n_r FROM c GROUP BY r)
      |SELECT a.r, a.n_r,
      |  ((a.r + 1) * COALESCE(b.n_r, 0))::BIGINT AS gt_num
      |FROM sp a LEFT JOIN sp b ON b.r = a.r + 1 ORDER BY a.r""".stripMargin)

  /** Dense hourly grid with zero-filled silent hours, per user (users
    * < 40 bound the gate output; the operator is corpus-general). */
  private val x81: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      Temporal.gapFill(t(s, d, "events").filter($"user_id" < 40),
          "user_id", "ts", "value")
        .orderBy($"user_id", $"hour")
    },
    """WITH hourly AS (
      |  SELECT user_id, date_trunc('hour', ts) AS h,
      |    COUNT(*)::BIGINT AS n,
      |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sv
      |  FROM events WHERE user_id < 40 GROUP BY 1, 2),
      |span AS (SELECT user_id, min(h) AS h0, max(h) AS h1
      |         FROM hourly GROUP BY 1),
      |grid AS (SELECT user_id,
      |  unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h FROM span)
      |SELECT g.user_id, CAST(g.h AS TIMESTAMP) AS hour,
      |  COALESCE(hh.n, 0)::BIGINT AS n_events,
      |  COALESCE(hh.sv, 0.0) AS sum_value
      |FROM grid g LEFT JOIN hourly hh
      |  ON hh.user_id = g.user_id AND hh.h = g.h
      |ORDER BY g.user_id, hour""".stripMargin)

  /** Exact interval-union coverage per user over overlapping
    * (event_type × day) activity spans — sweep-line gaps-and-islands,
    * integer microseconds end to end. */
  private val x82: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      val iv = t(s, d, "events")
        .groupBy($"user_id", $"event_type", to_date($"ts").as("day"))
        .agg(min($"ts").as("ivs"), max($"ts").as("ive"))
      Temporal.intervalCoverage(iv, "user_id", "ivs", "ive", "event_type")
        .orderBy($"user_id")
    },
    """WITH iv AS (
      |  SELECT user_id, event_type AS tb,
      |    epoch_us(min(ts)) AS s, epoch_us(max(ts)) AS e
      |  FROM events GROUP BY user_id, event_type, date_trunc('day', ts)),
      |w AS (
      |  SELECT user_id, s, e, tb,
      |    max(e) OVER (PARTITION BY user_id ORDER BY s, e, tb
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
      |  FROM iv),
      |isl AS (
      |  SELECT user_id, s, e,
      |    SUM(CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY user_id ORDER BY s, e, tb
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
      |  FROM w),
      |grp AS (SELECT user_id, g, COUNT(*)::BIGINT AS n,
      |          max(e) - min(s) AS cov
      |        FROM isl GROUP BY user_id, g)
      |SELECT user_id, SUM(n)::BIGINT AS n_intervals,
      |  COUNT(*)::BIGINT AS n_islands, SUM(cov)::BIGINT AS covered_us
      |FROM grp GROUP BY user_id ORDER BY user_id""".stripMargin)

  /** HITS hubs/authorities, 3 L1-normalized rounds in scaled-integer
    * arithmetic over the same synthetic link graph as x42 — oracle
    * unrolls identical BIGINT ops. */
  private val x83: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      val edges = t(s, d, "orders").select(
        ($"o_custkey" % 100).as("src"), ($"o_orderkey" % 100).as("dst"))
      Graph.hitsInt(edges, "src", "dst", iters = 3)
        .orderBy($"id")
    },
    Graph.hitsSql(
      "SELECT o_custkey % 100 AS src, o_orderkey % 100 AS dst FROM orders",
      iters = 3))

  /** Reciprocal-rank fusion of two top-100 document rankings
    * (char-length and token-count orderings stand in for the
    * BM25 ⊕ ANN hybrid-retrieval pair) — integer RRF contributions,
    * fused top-50. */
  private val x84: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      // top-100 ranking frames via the bounded TopKAgg (map-side
      // k-heaps, one 1-row gather, posexplode → rank), NOT a global
      // row_number window — the anti-pattern the operator library
      // preaches against; TopKAgg's (v desc, id asc) order matches
      // the oracle's ORDER BY ... DESC, doc_id exactly
      val docs = t(s, d, "documents")
      def top100(v: org.apache.spark.sql.Column) = docs
        .agg(graft.functions.TopKAgg.topk(v.cast("double"), $"doc_id", 100)
          .as("top"))
        .select(posexplode($"top").as(Seq("p", "s")))
        .select($"s.id".as("id"), ($"p" + 1).as("rank"))
      val byChars = top100($"n_chars")
      val byTokens = top100(size(split($"text", " ")))
      Index.rrfFuse(Seq(byChars, byTokens), k = 60, topN = 50)
    },
    """WITH a AS (
      |  SELECT doc_id AS id,
      |    ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id) AS r
      |  FROM documents QUALIFY r <= 100),
      |b AS (
      |  SELECT doc_id AS id,
      |    ROW_NUMBER() OVER (ORDER BY len(string_split(text, ' ')) DESC,
      |      doc_id) AS r
      |  FROM documents QUALIFY r <= 100),
      |u AS (SELECT id, 1000000000 // (60 + r) AS c FROM a
      |      UNION ALL SELECT id, 1000000000 // (60 + r) FROM b)
      |SELECT id, SUM(c)::BIGINT AS rrf_scaled, COUNT(*)::BIGINT AS n_lists
      |FROM u GROUP BY id ORDER BY rrf_scaled DESC, id LIMIT 50""".stripMargin)

  /** Deterministic hash-ranked negative sampling over a user×item
    * interaction set (custkey → orderkey-bucket items). */
  private val x85: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      val inter = t(s, d, "orders").filter($"o_custkey" < 200)
        .select($"o_custkey".as("user_id"), ($"o_orderkey" % 50).as("item"))
      Sampling.hashNegatives(inter, "user_id", "item", k = 3, salt = "neg")
        .orderBy($"user_id", $"neg_rank")
    },
    """WITH seen AS (
      |  SELECT DISTINCT o_custkey AS u, o_orderkey % 50 AS i
      |  FROM orders WHERE o_custkey < 200),
      |users AS (SELECT DISTINCT u FROM seen),
      |vocab AS (SELECT DISTINCT i FROM seen),
      |cand AS (
      |  SELECT users.u, vocab.i FROM users CROSS JOIN vocab
      |  WHERE NOT EXISTS (SELECT 1 FROM seen s
      |                    WHERE s.u = users.u AND s.i = vocab.i)),
      |r AS (
      |  SELECT u, i, ROW_NUMBER() OVER (PARTITION BY u
      |    ORDER BY md5('neg ' || u || ' ' || i), i) AS rn
      |  FROM cand)
      |SELECT u AS user_id, i AS neg_item, rn::BIGINT AS neg_rank
      |FROM r WHERE rn <= 3 ORDER BY user_id, neg_rank""".stripMargin)

  /** Equal-frequency decile binning of order totals (NTILE over the
    * (value, key) total order), per-bin population and bounds. */
  private val x86: (Fn, String) = (
    (s, d) => {
      Profile.equalFrequencyBins(t(s, d, "orders"), "o_totalprice",
        "o_orderkey", bins = 10)
    },
    """WITH b AS (
      |  SELECT o_totalprice AS x,
      |    NTILE(10) OVER (ORDER BY o_totalprice, o_orderkey) AS bin
      |  FROM orders)
      |SELECT bin::BIGINT AS bin, COUNT(*)::BIGINT AS n,
      |  min(x) AS lo, max(x) AS hi
      |FROM b GROUP BY bin ORDER BY bin""".stripMargin)

  /** Full Lloyd's k-means (2 rounds, k=8) in the int8 integer domain:
    * smallest-id seeds, exact integer distances, rounded-mean M-step —
    * the oracle unrolls the identical arithmetic per round. */
  private val x87: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      Similarity.kmeansLloyd(t(s, d, "embeddings"), "vec_id", "embedding",
          k = 8, rounds = 2)
        .orderBy($"vec_id")
    },
    Similarity.kmeansLloydSql("embeddings", k = 8, rounds = 2))

  /** Sharded-HLL distinct counting, self-verified: one sketch per
    * (event_type, day) shard, union-merged per type, the estimate
    * gated within 5% of the exact count (the q20 pattern — an
    * estimate can't hash-match, a blown estimate must still turn the
    * row red). */
  private val x88: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      val ev = t(s, d, "events").withColumn("day", to_date($"ts"))
      val approx = Hll.estimateAcrossShards(
        Hll.sketchBy(ev, Seq("event_type"), "day", "user_id"),
        Seq("event_type"))
      ev.groupBy($"event_type")
        .agg(countDistinct($"user_id").as("n_exact"))
        .join(approx, "event_type")
        .select($"event_type", $"n_exact",
          (abs($"approx_distinct" - $"n_exact") * 20 <= $"n_exact")
            .as("within_5pct"))
        .orderBy($"event_type")
    },
    """SELECT event_type, COUNT(DISTINCT user_id)::BIGINT AS n_exact,
      |  TRUE AS within_5pct
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)

  /** Market-basket association stats over order→part-bucket baskets:
    * pair supports plus integer-scaled lift and confidence. */
  private val x89: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      val li = t(s, d, "lineitem").select(
        $"l_orderkey".as("basket"), ($"l_partkey" % 40).as("item"))
      Assoc.itemPairStats(li, "basket", "item", minSupport = 50)
        .orderBy($"item_a", $"item_b")
    },
    """WITH bi AS (
      |  SELECT DISTINCT l_orderkey AS b, l_partkey % 40 AS i FROM lineitem),
      |sup AS (SELECT i, COUNT(*)::BIGINT AS n FROM bi GROUP BY i),
      |nb AS (SELECT COUNT(DISTINCT b)::BIGINT AS n_baskets FROM bi),
      |p AS (SELECT a.i AS ia, b.i AS ib, COUNT(*)::BIGINT AS n_ab
      |      FROM bi a JOIN bi b ON a.b = b.b AND a.i < b.i GROUP BY 1, 2)
      |SELECT ia AS item_a, ib AS item_b, n_ab, sa.n AS n_a, sb.n AS n_b,
      |  (n_ab * nb.n_baskets * 1000000 // (sa.n * sb.n))::BIGINT
      |    AS lift_scaled,
      |  (n_ab * 1000000 // sa.n)::BIGINT AS conf_a_to_b_scaled
      |FROM p JOIN sup sa ON sa.i = p.ia JOIN sup sb ON sb.i = p.ib
      |CROSS JOIN nb
      |WHERE n_ab >= 50 ORDER BY item_a, item_b""".stripMargin)

  /** Deterministic epoch shuffle + sharding (8 shards): stable
    * per-epoch permutation, md5-ranked within balanced shards; the
    * shard is a 16-bit slice (chars 5-8) of the salted-and-separated
    * digest, mirrored nibble-for-nibble here. */
  private val x90: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      Sampling.epochShuffle(t(s, d, "documents").select($"doc_id"),
          "doc_id", salt = "ep1", shards = 8)
        .orderBy($"shard", $"shard_pos")
    },
    s"""WITH h AS (
       |  SELECT doc_id, md5('ep1:' || CAST(doc_id AS VARCHAR)) AS hh
       |  FROM documents),
       |hs AS (
       |  SELECT doc_id, hh,
       |    ((strpos('0123456789abcdef', substr(hh, 5, 1)) - 1) * 4096 +
       |     (strpos('0123456789abcdef', substr(hh, 6, 1)) - 1) * 256 +
       |     (strpos('0123456789abcdef', substr(hh, 7, 1)) - 1) * 16 +
       |     (strpos('0123456789abcdef', substr(hh, 8, 1)) - 1)) % 8 AS shard
       |  FROM h)
       |SELECT doc_id, shard::BIGINT AS shard,
       |  (ROW_NUMBER() OVER (PARTITION BY shard ORDER BY hh, doc_id) - 1)
       |    ::BIGINT AS shard_pos
       |FROM hs ORDER BY shard, shard_pos""".stripMargin)

  /** Aligned-overlap span length for every planted near-dup pair:
    * longest consecutive-position shingle run via diagonal
    * gaps-and-islands — oracle replays the identical grid. */
  private val x91: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      Dedup.overlapSpans(t(s, d, "documents"), "doc_id", "text",
          n = 3, threshold = 0.6)
        .orderBy($"id_a", $"id_b")
    },
    s"""WITH $shingleCte,
       |pairs AS (SELECT id_a, id_b FROM jac WHERE jaccard >= 0.6),
       |ps AS (
       |  SELECT doc_id, unnest(
       |    [{'p': i - 1, 'g': s[i] || ' ' || s[i+1] || ' ' || s[i+2]}
       |     for i in range(1, len(s) - 1)], recursive := true)
       |  FROM (SELECT doc_id, string_split(text, ' ') AS s FROM documents)),
       |grid AS (
       |  SELECT p.id_a, p.id_b, a.p AS pa, b.p AS pb
       |  FROM pairs p
       |  JOIN ps a ON a.doc_id = p.id_a
       |  JOIN ps b ON b.doc_id = p.id_b AND b.g = a.g),
       |r AS (
       |  SELECT id_a, id_b, pa - pb AS dg, pa,
       |    CASE WHEN lag(pa) OVER (PARTITION BY id_a, id_b, pa - pb
       |      ORDER BY pa) = pa - 1 THEN 0 ELSE 1 END AS brk
       |  FROM grid),
       |runs AS (
       |  SELECT id_a, id_b, dg, pa,
       |    SUM(brk) OVER (PARTITION BY id_a, id_b, dg ORDER BY pa
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
       |  FROM r),
       |lens AS (SELECT id_a, id_b, dg, run, COUNT(*)::BIGINT AS len
       |         FROM runs GROUP BY 1, 2, 3, 4)
       |SELECT id_a, id_b, MAX(len)::BIGINT AS max_run,
       |  (MAX(len) + 2)::BIGINT AS span_tokens
       |FROM lens GROUP BY id_a, id_b ORDER BY id_a, id_b""".stripMargin)

  /** Rendezvous-hash shard assignment over 5 shards — argmax digest,
    * smallest shard id on (never-occurring) ties. */
  private val x92: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      Sampling.rendezvousShard(t(s, d, "documents").select($"doc_id"),
          "doc_id", salt = "rv", shardIds = Seq(0L, 1L, 2L, 3L, 4L))
        .orderBy($"doc_id")
    },
    """SELECT doc_id, shard::BIGINT AS shard FROM (
      |  SELECT doc_id, s AS shard,
      |    ROW_NUMBER() OVER (PARTITION BY doc_id
      |      ORDER BY md5('rv:' || s || ':' || doc_id) DESC, s) AS rn
      |  FROM documents CROSS JOIN (SELECT unnest([0, 1, 2, 3, 4]) AS s))
      |WHERE rn = 1 ORDER BY doc_id""".stripMargin)

  /** Kneser–Ney continuation counts over corpus bigram types. */
  private val x93: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      TextAnalysis.knContinuationCounts(t(s, d, "documents"), "text")
        .orderBy($"tok")
    },
    """WITH tk AS (
      |  SELECT list_filter(string_split(text, ' '), x -> x <> '') AS s
      |  FROM documents),
      |bt AS (
      |  SELECT DISTINCT prev, tok FROM (
      |    SELECT unnest([{'prev': s[i], 'tok': s[i+1]}
      |      for i in range(1, len(s))], recursive := true)
      |    FROM tk WHERE len(s) >= 2)),
      |tot AS (SELECT COUNT(*)::BIGINT AS bigram_types FROM bt),
      |l AS (SELECT tok, COUNT(*)::BIGINT AS n_left_types FROM bt GROUP BY tok),
      |r AS (SELECT prev AS tok, COUNT(*)::BIGINT AS n_right_types
      |      FROM bt GROUP BY prev)
      |SELECT COALESCE(l.tok, r.tok) AS tok,
      |  COALESCE(n_left_types, 0)::BIGINT AS n_left_types,
      |  COALESCE(n_right_types, 0)::BIGINT AS n_right_types,
      |  tot.bigram_types
      |FROM l FULL OUTER JOIN r ON r.tok = l.tok CROSS JOIN tot
      |ORDER BY tok""".stripMargin)

  /** Longest internal verbatim repeat (generation-loop detector) over
    * docs with a synthesized 20-token self-append — every doc gets a
    * guaranteed repeat; natural in-text repeats may beat it, and the
    * oracle replays the identical grid. */
  private val x94: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      val looped = t(s, d, "documents").filter($"doc_id" < 200)
        .select($"doc_id", concat_ws(" ", $"text",
          array_join(slice(split($"text", " "), 1, 20), " ")).as("text"))
      Dedup.internalRepeats(looped, "doc_id", "text", n = 3)
        .orderBy($"doc_id")
    },
    """WITH lp AS (
      |  SELECT doc_id,
      |    text || ' ' ||
      |      array_to_string(string_split(text, ' ')[1:20], ' ') AS text
      |  FROM documents WHERE doc_id < 200),
      |ps AS (
      |  SELECT doc_id, unnest(
      |    [{'p': i - 1, 'g': s[i] || ' ' || s[i+1] || ' ' || s[i+2]}
      |     for i in range(1, len(s) - 1)], recursive := true)
      |  FROM (SELECT doc_id, string_split(text, ' ') AS s FROM lp)),
      |occ AS (SELECT doc_id, g FROM ps GROUP BY doc_id, g
      |        HAVING COUNT(*) BETWEEN 2 AND 50),
      |cp AS (SELECT p.* FROM ps p
      |       JOIN occ o ON o.doc_id = p.doc_id AND o.g = p.g),
      |grid AS (
      |  SELECT a.doc_id, a.p AS p1, b.p - a.p AS d
      |  FROM cp a JOIN cp b
      |    ON b.doc_id = a.doc_id AND b.g = a.g AND a.p < b.p),
      |r AS (
      |  SELECT doc_id, d, p1,
      |    CASE WHEN lag(p1) OVER (PARTITION BY doc_id, d ORDER BY p1)
      |      = p1 - 1 THEN 0 ELSE 1 END AS brk
      |  FROM grid),
      |runs AS (
      |  SELECT doc_id, d, p1,
      |    SUM(brk) OVER (PARTITION BY doc_id, d ORDER BY p1
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
      |  FROM r),
      |lens AS (SELECT doc_id, d, run, COUNT(*)::BIGINT AS len
      |         FROM runs GROUP BY 1, 2, 3),
      |best AS (SELECT doc_id, d, len,
      |           ROW_NUMBER() OVER (PARTITION BY doc_id
      |             ORDER BY len DESC, d) AS rn
      |         FROM lens)
      |SELECT doc_id, len::BIGINT AS max_run,
      |  (len + 2)::BIGINT AS span_tokens, d::BIGINT AS period
      |FROM best WHERE rn = 1 ORDER BY doc_id""".stripMargin)

  /** Exact 2-hop neighbourhood sizes over the x42 link graph. */
  private val x95: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      val edges = t(s, d, "orders").select(
        ($"o_custkey" % 100).as("src"), ($"o_orderkey" % 100).as("dst"))
      Graph.twoHopCounts(edges, "src", "dst").orderBy($"id")
    },
    """WITH raw AS (
      |  SELECT o_custkey % 100 AS src, o_orderkey % 100 AS dst FROM orders),
      |und AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
      |        FROM raw WHERE src <> dst),
      |dir AS (SELECT u AS src, v AS dst FROM und
      |        UNION ALL SELECT v, u FROM und),
      |h2 AS (SELECT DISTINCT a.src AS x, b.dst AS y
      |       FROM dir a JOIN dir b ON b.src = a.dst AND a.src <> b.dst),
      |fof AS (SELECT x, y FROM h2 WHERE NOT EXISTS
      |        (SELECT 1 FROM dir d WHERE d.src = h2.x AND d.dst = h2.y))
      |SELECT x AS id, COUNT(*)::BIGINT AS n_two_hop
      |FROM fof GROUP BY x ORDER BY id""".stripMargin)

  /** Degree distribution in log2 buckets over a SPARSER modulo graph
    * (997 buckets) so the profile spans several buckets — the dense
    * x42 graph collapses to one. */
  private val x96: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      val edges = t(s, d, "orders").select(
        ($"o_custkey" % 997).as("src"), ($"o_orderkey" % 997).as("dst"))
      Graph.degreeProfile(edges, "src", "dst").orderBy($"log2_deg")
    },
    """WITH raw AS (
      |  SELECT o_custkey % 997 AS src, o_orderkey % 997 AS dst FROM orders),
      |und AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
      |        FROM raw WHERE src <> dst),
      |deg AS (
      |  SELECT id, COUNT(*)::BIGINT AS deg FROM
      |    (SELECT u AS id FROM und UNION ALL SELECT v FROM und)
      |  GROUP BY id)
      |SELECT (length(to_binary_str) - 1)::BIGINT AS log2_deg,
      |  COUNT(*)::BIGINT AS n_nodes
      |FROM (SELECT bin(deg) AS to_binary_str FROM deg)
      |GROUP BY 1 ORDER BY log2_deg""".stripMargin)

  /** IDF-weighted Jaccard near-dup pairs (rare shared content
    * dominates); oracle recomputes exact weighted overlap over all
    * pairs with the identical integer weight buckets. */
  private val x97: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      Dedup.idfWeightedJaccardPairs(t(s, d, "documents"), "doc_id", "text",
          n = 3, threshold = 0.6, wMax = 4)
        .orderBy($"id_a", $"id_b")
    },
    """WITH sh AS (
      |  SELECT doc_id, unnest(list_distinct(
      |    [ s[i] || ' ' || s[i+1] || ' ' || s[i+2]
      |      for i in range(1, len(s) - 1) ])) AS sh
      |  FROM (SELECT doc_id, string_split(text, ' ') AS s FROM documents)),
      |nd AS (SELECT COUNT(*)::BIGINT AS n FROM documents),
      |dfq AS (
      |  SELECT sh, least(4, length(bin(
      |    (SELECT n FROM nd) // COUNT(*))))::BIGINT AS w
      |  FROM sh GROUP BY sh),
      |inter AS (
      |  SELECT a.doc_id AS ia, b.doc_id AS ib, SUM(d.w)::BIGINT AS wi
      |  FROM sh a
      |  JOIN sh b ON b.sh = a.sh AND a.doc_id < b.doc_id
      |  JOIN dfq d ON d.sh = a.sh
      |  GROUP BY 1, 2),
      |tots AS (
      |  SELECT s.doc_id, SUM(d.w)::BIGINT AS wt
      |  FROM sh s JOIN dfq d ON d.sh = s.sh GROUP BY 1)
      |SELECT ia AS id_a, ib AS id_b,
      |  wi::DOUBLE / (ta.wt + tb.wt - wi) AS wjaccard
      |FROM inter
      |JOIN tots ta ON ta.doc_id = ia
      |JOIN tots tb ON tb.doc_id = ib
      |WHERE wi::DOUBLE / (ta.wt + tb.wt - wi) >= 0.6
      |ORDER BY id_a, id_b""".stripMargin)

  /** KMV join-cardinality estimation, self-verified (q20 pattern):
    * two sketch rows estimate |distinct(o_custkey) ∩ c_custkey|; the
    * estimate must land within 15% of exact or the boolean flips and
    * the row hash-fails. */
  private val x98: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      val est = t(s, d, "orders")
        .agg(Kmv.summary($"o_custkey", 512, "kmv").as("sa"))
        .crossJoin(t(s, d, "customer")
          .agg(Kmv.summary($"c_custkey", 512, "kmv").as("sb")))
        .select(Kmv.intersectEstimate($"sa", $"sb", 512).as("est"))
      t(s, d, "orders").select($"o_custkey".as("ck")).distinct()
        .join(t(s, d, "customer").select($"c_custkey".as("ck")),
          Seq("ck"), "leftsemi")
        .agg(count(lit(1)).as("n_matching_keys"))
        .crossJoin(broadcast(est))
        .select($"n_matching_keys",
          (abs($"est" - $"n_matching_keys") * 20 <= $"n_matching_keys" * 3)
            .as("within_15pct"))
    },
    """SELECT COUNT(DISTINCT o_custkey)::BIGINT AS n_matching_keys,
      |  TRUE AS within_15pct
      |FROM orders WHERE o_custkey IN (SELECT c_custkey FROM customer)"""
      .stripMargin)

  /** Exact integer two-sample KS distance between even- and odd-
    * customer order totals — no division ever computed. */
  private val x99: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      val o = t(s, d, "orders")
      Drift.ksDistance(
        o.filter($"o_custkey" % 2 === 0).select($"o_totalprice"),
        o.filter($"o_custkey" % 2 === 1).select($"o_totalprice"),
        "o_totalprice")
    },
    """WITH pa AS (SELECT o_totalprice AS v, COUNT(*)::BIGINT AS ca
      |            FROM orders WHERE o_custkey % 2 = 0 GROUP BY 1),
      |pb AS (SELECT o_totalprice AS v, COUNT(*)::BIGINT AS cb
      |       FROM orders WHERE o_custkey % 2 = 1 GROUP BY 1),
      |m AS (SELECT COALESCE(pa.v, pb.v) AS v, COALESCE(ca, 0) AS ca,
      |        COALESCE(cb, 0) AS cb
      |      FROM pa FULL OUTER JOIN pb ON pb.v = pa.v),
      |cum AS (SELECT v, SUM(ca) OVER w AS cumA, SUM(cb) OVER w AS cumB
      |        FROM m WINDOW w AS (ORDER BY v
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |t AS (SELECT SUM(ca)::BIGINT AS na, SUM(cb)::BIGINT AS nb FROM m),
      |g AS (SELECT v, abs(cumA * t.nb - cumB * t.na)::BIGINT AS gap
      |      FROM cum CROSS JOIN t)
      |SELECT (SELECT gap FROM g ORDER BY gap DESC, v LIMIT 1) AS ks_num,
      |  t.na AS n_a, t.nb AS n_b,
      |  (SELECT v FROM g ORDER BY gap DESC, v LIMIT 1) AS at_value
      |FROM t""".stripMargin)

  /** Benford first-digit profile of order totals. */
  private val x100: (Fn, String) = (
    (s, d) => {
      Profile.benfordProfile(t(s, d, "orders"), "o_totalprice")
    },
    """SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
      |    AS VARCHAR), 1, 1) AS BIGINT) AS digit,
      |  COUNT(*)::BIGINT AS n
      |FROM orders WHERE floor(o_totalprice) >= 1
      |GROUP BY 1 ORDER BY digit""".stripMargin)

  /** 2-D Pareto frontier of lineitem price/quantity. */
  private val x101: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      Profile.paretoFrontier(t(s, d, "lineitem"),
          "l_extendedprice", "l_quantity")
        .orderBy($"cost")
    },
    """WITH ch AS (SELECT l_extendedprice AS cost,
      |              max(l_quantity) AS gain
      |            FROM lineitem GROUP BY 1),
      |w AS (SELECT cost, gain,
      |        max(gain) OVER (ORDER BY cost
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
      |      FROM ch)
      |SELECT cost, gain FROM w WHERE pm IS NULL OR gain > pm
      |ORDER BY cost""".stripMargin)

  /** Sorted-neighborhood ER pairs over part names (window 5,
    * levenshtein ≤ 8). */
  private val x102: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      Fuzzy.sortedNeighborPairs(t(s, d, "part").select($"p_name"),
          "p_name", window = 5, maxDist = 8)
        .orderBy($"k_a", $"k_b")
    },
    """WITH ks AS (SELECT DISTINCT p_name AS k FROM part),
      |r AS (SELECT k, ROW_NUMBER() OVER (ORDER BY k) AS rn FROM ks)
      |SELECT a.k AS k_a, b.k AS k_b,
      |  levenshtein(a.k, b.k)::BIGINT AS dist
      |FROM r a JOIN r b ON b.rn > a.rn AND b.rn <= a.rn + 5
      |WHERE levenshtein(a.k, b.k) <= 8 ORDER BY k_a, k_b""".stripMargin)

  /** Integer-fraction OLS trend slope per user over event values
    * (users < 60 bound the gate output). */
    private val x103: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      Temporal.trendSlope(t(s, d, "events").filter($"user_id" < 60),
          "user_id", "ts", "value")
        .withColumnRenamed("grp", "user_id")
        .orderBy($"user_id")
    },
    """WITH ev AS (
      |  SELECT user_id, (epoch_us(ts) // 1000000)::BIGINT AS t,
      |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      |  FROM events WHERE user_id < 60),
      |t0 AS (SELECT user_id, min(t) AS t0 FROM ev GROUP BY 1),
      |xy AS (SELECT ev.user_id, ev.t - t0.t0 AS x, cents AS y
      |       FROM ev JOIN t0 ON t0.user_id = ev.user_id)
      |SELECT user_id, COUNT(*)::BIGINT AS n,
      |  (COUNT(*) * SUM(x * y) - SUM(x) * SUM(y))::BIGINT AS slope_num,
      |  (COUNT(*) * SUM(x * x) - SUM(x) * SUM(x))::BIGINT AS slope_den
      |FROM xy GROUP BY user_id ORDER BY user_id""".stripMargin)

  /** Retention matrix normalized to cohort-size ppm — integer
    * division, joinable back to x60's raw counts. */
  private val x104: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      val ret = Temporal.retention(t(s, d, "events"), "user_id", "ts")
      val sizes = ret.filter($"day_offset" === 0)
        .select($"cohort_date", $"n_users".as("cohort_size"))
      ret.join(sizes, "cohort_date")
        .select($"cohort_date".cast("string").as("cohort_date"),
          $"day_offset",
          expr("n_users * 1000000L div cohort_size").as("retained_ppm"))
        .orderBy($"cohort_date", $"day_offset")
    },
    """WITH act AS (
      |  SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS d FROM events),
      |coh AS (SELECT u, min(d) AS c FROM act GROUP BY u),
      |cell AS (
      |  SELECT c AS cohort_date, (d - c)::BIGINT AS day_offset,
      |    COUNT(*)::BIGINT AS n_users
      |  FROM act JOIN coh USING (u) GROUP BY 1, 2),
      |sz AS (SELECT cohort_date, n_users AS cohort_size FROM cell
      |       WHERE day_offset = 0)
      |SELECT CAST(cell.cohort_date AS VARCHAR) AS cohort_date,
      |  day_offset,
      |  (n_users * 1000000 // cohort_size)::BIGINT AS retained_ppm
      |FROM cell JOIN sz USING (cohort_date)
      |ORDER BY cohort_date, day_offset""".stripMargin)

  /** Multi-source BFS hop distances (seeds 0-4, depth ≤ 3) over the
    * x42 link graph — unreached nodes absent by contract. */
  private val x105: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      val edges = t(s, d, "orders").select(
        ($"o_custkey" % 100).as("src"), ($"o_orderkey" % 100).as("dst"))
      val seeds = s.range(0, 5).select($"id")
      Graph.bfsDistances(edges, "src", "dst", seeds, "id", maxDepth = 3)
        .orderBy($"id")
    },
    Graph.bfsSql(
      "SELECT o_custkey % 100 AS src, o_orderkey % 100 AS dst FROM orders",
      "SELECT unnest([0, 1, 2, 3, 4]) AS id",
      maxDepth = 3))

  /** Quantized Shannon token entropy per document — the information-
    * density quality signal; floor-log2 Zipf buckets keep every value
    * an exact integer on both engines. */
  private val x106: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      t(s, d, "documents")
        .select($"doc_id", TextAnalysis.tokenEntropy($"text").as("e"))
        .select($"doc_id", $"e.n_toks", $"e.n_distinct", $"e.entropy_ppm")
        .orderBy($"doc_id")
    },
    """WITH toks AS (
      |  SELECT doc_id, unnest(list_filter(string_split(text, ' '),
      |    x -> x <> '')) AS t
      |  FROM documents),
      |n AS (SELECT doc_id, COUNT(*)::BIGINT AS n_toks FROM toks GROUP BY doc_id),
      |tc AS (SELECT doc_id, t, COUNT(*)::BIGINT AS c FROM toks GROUP BY doc_id, t)
      |SELECT tc.doc_id, any_value(n.n_toks) AS n_toks,
      |  COUNT(*)::BIGINT AS n_distinct,
      |  (SUM(c * (length(bin(n.n_toks // c)) - 1)) * 1000000
      |    // any_value(n.n_toks))::BIGINT AS entropy_ppm
      |FROM tc JOIN n ON tc.doc_id = n.doc_id
      |GROUP BY tc.doc_id ORDER BY tc.doc_id""".stripMargin)

  /** Count-Min sketch point estimates vs exact counts for the corpus'
    * 20 hottest tokens: the oracle rebuilds the d×w cell matrix
    * nibble-for-nibble from the same md5 coordinates, so the estimate
    * (CMS guarantees est ≥ exact) is gate-exact, not approximate. */
  private val x107: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      val toks = t(s, d, "documents")
        .select(explode(filter(split($"text", " "), t => t =!= "")).as("tok"))
      val exact = toks.groupBy($"tok").agg(count(lit(1)).as("exact"))
      val probes = exact.orderBy($"exact".desc, $"tok").limit(20)
      val sk = Cms.sketch(toks, "tok", depth = 4, width = 1024)
      Cms.estimate(sk, probes.select($"tok"), "tok", depth = 4, width = 1024)
        .join(probes, "tok")
        .select($"tok", $"est", $"exact")
        .orderBy($"exact".desc, $"tok")
    },
    """WITH toks AS (
      |  SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
      |  FROM documents),
      |exact AS (SELECT tok, COUNT(*)::BIGINT AS exact FROM toks GROUP BY tok),
      |probes AS (SELECT tok, exact FROM exact
      |           ORDER BY exact DESC, tok LIMIT 20),
      |rows_ AS (SELECT unnest(range(4)) AS r),
      |bkt AS (
      |  SELECT r, tok,
      |    ((((strpos('0123456789abcdef', substr(md5('cms' || r || ':' || tok), 1, 1)) - 1) * 16
      |      + strpos('0123456789abcdef', substr(md5('cms' || r || ':' || tok), 2, 1)) - 1) * 16
      |      + strpos('0123456789abcdef', substr(md5('cms' || r || ':' || tok), 3, 1)) - 1) * 16
      |      + strpos('0123456789abcdef', substr(md5('cms' || r || ':' || tok), 4, 1)) - 1) % 1024
      |      AS bucket
      |  FROM toks CROSS JOIN rows_),
      |cells AS (SELECT r, bucket, COUNT(*)::BIGINT AS cnt
      |          FROM bkt GROUP BY r, bucket),
      |pbkt AS (
      |  SELECT rows_.r, probes.tok,
      |    ((((strpos('0123456789abcdef', substr(md5('cms' || rows_.r || ':' || probes.tok), 1, 1)) - 1) * 16
      |      + strpos('0123456789abcdef', substr(md5('cms' || rows_.r || ':' || probes.tok), 2, 1)) - 1) * 16
      |      + strpos('0123456789abcdef', substr(md5('cms' || rows_.r || ':' || probes.tok), 3, 1)) - 1) * 16
      |      + strpos('0123456789abcdef', substr(md5('cms' || rows_.r || ':' || probes.tok), 4, 1)) - 1) % 1024
      |      AS bucket
      |  FROM probes CROSS JOIN rows_),
      |est AS (
      |  SELECT pbkt.tok, MIN(COALESCE(c.cnt, 0))::BIGINT AS est
      |  FROM pbkt LEFT JOIN cells c ON c.r = pbkt.r AND c.bucket = pbkt.bucket
      |  GROUP BY pbkt.tok)
      |SELECT p.tok, est.est, p.exact
      |FROM probes p JOIN est ON est.tok = p.tok
      |ORDER BY p.exact DESC, p.tok""".stripMargin)

  /** Fellegi–Sunter probabilistic linkage over customers blocked on
    * custkey mod 500: integer deciban weights, exact score histogram
    * with an id-sum content witness (pair volume stays aggregate-side;
    * the per-pair frame is the operator's output, the gate hashes its
    * distribution + witness). */
  private val x108: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      val cust = t(s, d, "customer")
        .withColumn("blk", $"c_custkey" % 500)
        .withColumn("nat", $"c_nationkey".cast("long"))
        .withColumn("seg", $"c_mktsegment")
        .withColumn("bal_kb", floor($"c_acctbal" / 1000.0).cast("long"))
      Fuzzy.fellegiSunter(cust, "c_custkey", "blk",
          fields = Seq(("nat", 15L, -8L), ("seg", 12L, -6L),
            ("bal_kb", 10L, -10L)),
          threshold = 17L)
        .groupBy($"score_db", $"is_link")
        .agg(count(lit(1)).as("n_pairs"),
          sum($"id_a" + $"id_b").as("id_witness"))
        .orderBy($"score_db")
    },
    """WITH c AS (
      |  SELECT c_custkey, c_custkey % 500 AS blk,
      |    c_nationkey::BIGINT AS nat, c_mktsegment AS seg,
      |    CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_kb
      |  FROM customer),
      |pairs AS (
      |  SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
      |    ((CASE WHEN a.nat IS NOT NULL AND a.nat IS NOT DISTINCT FROM b.nat
      |           THEN 15 ELSE -8 END)
      |     + (CASE WHEN a.seg IS NOT NULL AND a.seg IS NOT DISTINCT FROM b.seg
      |           THEN 12 ELSE -6 END)
      |     + (CASE WHEN a.bal_kb IS NOT NULL AND a.bal_kb IS NOT DISTINCT FROM b.bal_kb
      |           THEN 10 ELSE -10 END))::BIGINT AS score_db
      |  FROM c a JOIN c b ON a.blk = b.blk AND a.c_custkey < b.c_custkey)
      |SELECT score_db, score_db >= 17 AS is_link,
      |  COUNT(*)::BIGINT AS n_pairs, SUM(id_a + id_b)::BIGINT AS id_witness
      |FROM pairs GROUP BY score_db ORDER BY score_db""".stripMargin)

  /** Personalized PageRank from a 3-seed set over the x42 interaction
    * graph — integer fixed point, oracle unrolls identical rounds. */
  private val x109: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      val edges = t(s, d, "orders").select(
        ($"o_custkey" % 100).as("src"), ($"o_orderkey" % 100).as("dst"))
      Graph.personalizedPageRankInt(edges, "src", "dst",
          sources = Seq(1L, 2L, 3L), iters = 3)
        .orderBy($"id")
    },
    Graph.personalizedPageRankSql(
      "SELECT DISTINCT o_custkey % 100 AS src, o_orderkey % 100 AS dst FROM orders",
      sources = Seq(1L, 2L, 3L), iters = 3))

  /** Marginal shingle novelty by source in acquisition order (the
    * numeric suffix of `source`) — the greedy coverage-gain curve of
    * adding crawls one by one. */
  private val x110: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      Dedup.shingleNovelty(
          t(s, d, "documents")
            .withColumn("ord", substring($"source", 4, 10).cast("long")),
          source = "source", order = "ord", text = "text", n = 3)
        .orderBy($"ord")
    },
    """WITH sh AS (
      |  SELECT DISTINCT source, CAST(substr(source, 4, 10) AS BIGINT) AS ord, sh
      |  FROM (
      |    SELECT source, unnest([ w[i] || ' ' || w[i+1] || ' ' || w[i+2]
      |      for i in range(1, len(w) - 1) ]) AS sh
      |    FROM (SELECT source, string_split(text, ' ') AS w FROM documents))),
      |first_ AS (SELECT sh, MIN(ord) AS first_ord FROM sh GROUP BY sh)
      |SELECT source, ord, COUNT(*)::BIGINT AS n_shingles,
      |  SUM(CASE WHEN ord = first_ord THEN 1 ELSE 0 END)::BIGINT AS n_novel
      |FROM sh JOIN first_ ON sh.sh = first_.sh
      |GROUP BY source, ord ORDER BY ord""".stripMargin)

  /** k-anonymity + distinct-l-diversity audit over customer
    * quasi-identifiers (nation, 2k-account-balance band) with market
    * segment as the sensitive attribute — exact per-group counts. */
  private val x111: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      val cust = t(s, d, "customer")
        .withColumn("nat", $"c_nationkey".cast("long"))
        .withColumn("bal_kb", floor($"c_acctbal" / 2000.0).cast("long"))
      val qis = Seq("nat", "bal_kb")
      val ka = Privacy.kAnonymity(cust, qis, k = 5)
      val ld = Privacy.lDiversity(cust, qis, "c_mktsegment", l = 3)
        .withColumnRenamed("n_rows", "_nr2")
      ka.join(ld, qis)
        .select($"nat", $"bal_kb", $"n_rows", $"risky",
          $"n_sensitive", $"diverse")
        .orderBy($"nat", $"bal_kb")
    },
    """WITH c AS (
      |  SELECT c_nationkey::BIGINT AS nat,
      |    CAST(floor(c_acctbal / 2000.0) AS BIGINT) AS bal_kb,
      |    c_mktsegment
      |  FROM customer)
      |SELECT nat, bal_kb, COUNT(*)::BIGINT AS n_rows,
      |  COUNT(*) < 5 AS risky,
      |  COUNT(DISTINCT c_mktsegment)::BIGINT AS n_sensitive,
      |  COUNT(DISTINCT c_mktsegment) >= 3 AS diverse
      |FROM c GROUP BY nat, bal_kb ORDER BY nat, bal_kb""".stripMargin)

  /** Leakage-safe split: near-dup clusters (LSH pairs → connected
    * components) decide membership, so planted near-dups never
    * straddle train/test; the oracle rebuilds clusters with a
    * recursive CTE and replays the cluster-keyed hash split. */
  private val x112: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
        n = 3, threshold = 0.6, bands = 64, rowsPerBand = 2)
      Sampling.leakageSafeSplit(docs, "doc_id", pairs,
          splits = Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)),
          salt = "lk1")
        .groupBy($"split")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct($"cluster").as("n_clusters"),
          sum($"doc_id").as("id_witness"))
        .orderBy($"split")
    },
    s"""WITH RECURSIVE $shingleCte,
       |edges AS (SELECT id_a, id_b FROM jac WHERE jaccard >= 0.6),
       |und AS (SELECT id_a AS src, id_b AS dst FROM edges
       |        UNION SELECT id_b, id_a FROM edges),
       |reach(id, r) AS (
       |  SELECT src, src FROM und
       |  UNION
       |  SELECT re.id, u.dst FROM reach re JOIN und u ON u.src = re.r),
       |comp AS (SELECT id, MIN(r) AS cluster FROM reach GROUP BY id),
       |lab AS (SELECT d.doc_id, COALESCE(c.cluster, d.doc_id) AS cluster
       |        FROM documents d LEFT JOIN comp c ON c.id = d.doc_id),
       |spl AS (SELECT doc_id, cluster,
       |  (CASE WHEN ${bucketSql("cluster", "lk1", 1)} < 204 THEN 'train'
       |        WHEN ${bucketSql("cluster", "lk1", 1)} < 230 THEN 'val'
       |        ELSE 'test' END) AS split
       |  FROM lab)
       |SELECT split, COUNT(*)::BIGINT AS n_docs,
       |  COUNT(DISTINCT cluster)::BIGINT AS n_clusters,
       |  SUM(doc_id)::BIGINT AS id_witness
       |FROM spl GROUP BY split ORDER BY split""".stripMargin)

  /** Exact ROC AUC of "longer documents are English" — rank-sum with
    * midrank ties over the distinct-score spine (length//100 forces
    * heavy ties, exercising the midrank algebra), never a global
    * sort of the corpus. */
  private val x113: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      Eval.aucExact(t(s, d, "documents"),
        ($"n_chars" / 100).cast("long"), $"lang" === "en")
    },
    """WITH r AS (
      |  SELECT n_chars // 100 AS s,
      |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      |  FROM documents),
      |sp AS (SELECT s, COUNT(*)::BIGINT AS c, SUM(y)::BIGINT AS p
      |       FROM r GROUP BY s),
      |cum AS (SELECT s, c, p, SUM(c) OVER (ORDER BY s) AS cm FROM sp),
      |agg AS (SELECT SUM(p)::BIGINT AS n_pos, SUM(c - p)::BIGINT AS n_neg,
      |        SUM(p * (2 * (cm - c) + c + 1))::BIGINT AS r2 FROM cum)
      |SELECT n_pos, n_neg,
      |  (r2 - n_pos * (n_pos + 1))::BIGINT AS auc_num,
      |  (2 * n_pos * n_neg)::BIGINT AS auc_den,
      |  CASE WHEN n_pos * n_neg > 0 THEN
      |    ((r2 - n_pos * (n_pos + 1)) * 1000000 // (2 * n_pos * n_neg))::BIGINT
      |  END AS auc_ppm
      |FROM agg""".stripMargin)

  /** Calibration bins of a length-based pseudo-probability against
    * the lang='en' label: exact integer confidence/accuracy ppm and
    * the per-bin ECE-gap numerator. One map-combined groupBy. */
  private val x114: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      Eval.calibrationBins(t(s, d, "documents"),
          least($"n_chars" * 2000, lit(1000000L)), $"lang" === "en",
          bins = 10)
        .orderBy($"bin")
    },
    """WITH r AS (
      |  SELECT least(n_chars * 2000, 1000000) AS s,
      |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      |  FROM documents),
      |b AS (SELECT least(s * 10 // 1000000, 9) AS bin, s, y FROM r)
      |SELECT bin::BIGINT AS bin, COUNT(*)::BIGINT AS n,
      |  SUM(y)::BIGINT AS n_pos,
      |  (SUM(s) // COUNT(*))::BIGINT AS conf_ppm,
      |  (SUM(y) * 1000000 // COUNT(*))::BIGINT AS acc_ppm,
      |  abs(SUM(y) * 1000000 - SUM(s))::BIGINT AS gap_num
      |FROM b GROUP BY bin ORDER BY bin""".stripMargin)

  /** Cohen's kappa between the labeled language and the marker-vote
    * detector (x08's classifier): the inter-annotator-agreement gate
    * as one contingency aggregation, exact integer fraction. */
  private val x115: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      val markers = Seq(
        "en" -> Seq("the", "a"), "de" -> Seq("table", "row"),
        "fr" -> Seq("value", "data"), "es" -> Seq("query", "join"))
      Eval.cohenKappa(
        t(s, d, "documents").select($"lang".as("a"),
          TextAnalysis.langId($"text", markers).as("b")),
        $"a", $"b")
    },
    """WITH det AS (
      |  SELECT lang AS a,
      |    CASE WHEN s_en = mx THEN 'en' WHEN s_de = mx THEN 'de'
      |         WHEN s_fr = mx THEN 'fr' ELSE 'es' END AS b
      |  FROM (
      |    SELECT lang,
      |      len(list_filter(toks, x -> x IN ('the', 'a'))) AS s_en,
      |      len(list_filter(toks, x -> x IN ('table', 'row'))) AS s_de,
      |      len(list_filter(toks, x -> x IN ('value', 'data'))) AS s_fr,
      |      len(list_filter(toks, x -> x IN ('query', 'join'))) AS s_es,
      |      greatest(
      |        len(list_filter(toks, x -> x IN ('the', 'a'))),
      |        len(list_filter(toks, x -> x IN ('table', 'row'))),
      |        len(list_filter(toks, x -> x IN ('value', 'data'))),
      |        len(list_filter(toks, x -> x IN ('query', 'join')))) AS mx
      |    FROM (SELECT lang, string_split(text, ' ') AS toks FROM documents))),
      |cont AS (SELECT a, b, COUNT(*)::BIGINT AS cn FROM det GROUP BY a, b),
      |rm AS (SELECT a, SUM(cn)::BIGINT AS r FROM cont GROUP BY a),
      |cm AS (SELECT b, SUM(cn)::BIGINT AS c FROM cont GROUP BY b),
      |e AS (SELECT COALESCE(SUM(r * c), 0)::BIGINT AS e
      |      FROM rm JOIN cm ON rm.a = cm.b),
      |tot AS (SELECT SUM(cn)::BIGINT AS nn,
      |        COALESCE(SUM(CASE WHEN a = b THEN cn END), 0)::BIGINT AS dd
      |        FROM cont)
      |SELECT nn AS n, dd AS diag, e.e AS expected_num,
      |  (nn * dd - e.e)::BIGINT AS kappa_num,
      |  (nn * nn - e.e)::BIGINT AS kappa_den,
      |  CASE WHEN nn * nn - e.e <> 0 THEN
      |    ((nn * dd - e.e) * 1000000 // (nn * nn - e.e))::BIGINT
      |  END AS kappa_ppm
      |FROM tot, e""".stripMargin)

  /** Retrieval eval of cosine top-10 against same-label relevance
    * (does the embedding ranking surface same-class vectors?): MRR /
    * hits@10 / recall@10 per query, exact integer ppm. The ranked
    * frame is x06's brute-force top-k; the relevance set is the
    * label-equality join. */
  private val x116: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      val emb = t(s, d, "embeddings")
      val q = emb.filter($"vec_id" < 20)
      val ranked = Similarity.bruteForceTopK(
        q, "vec_id", "embedding", emb, "vec_id", "embedding", k = 10)
      val rels = q.select($"vec_id".as("qid"), $"label".as("ql"))
        .join(emb.select($"vec_id".as("cid"), $"label".as("cl")),
          $"ql" === $"cl" && $"qid" =!= $"cid")
        .select($"qid", $"cid")
      Eval.retrievalEval(ranked, "query_id", "neighbour_id", "rank",
          rels, "qid", "cid", k = 10)
        .orderBy($"query_id")
    },
    s"""WITH ranked AS (
       |  SELECT query_id, neighbour_id, rank FROM (
       |    SELECT q.vec_id AS query_id, c.vec_id AS neighbour_id,
       |      CAST(ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
       |        ${cosineSql("q.embedding", "c.embedding")} DESC, c.vec_id)
       |        AS BIGINT) AS rank
       |    FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
       |    WHERE q.vec_id < 20)
       |  WHERE rank <= 10),
       |rels AS (
       |  SELECT q.vec_id AS qid, c.vec_id AS cid
       |  FROM embeddings q JOIN embeddings c
       |    ON q.label = c.label AND q.vec_id <> c.vec_id
       |  WHERE q.vec_id < 20),
       |nrel AS (SELECT qid, COUNT(*)::BIGINT AS n_rel FROM rels GROUP BY qid),
       |hit AS (SELECT r.query_id, r.rank FROM ranked r
       |        JOIN rels ON rels.qid = r.query_id AND rels.cid = r.neighbour_id),
       |perq AS (SELECT query_id, MIN(rank)::BIGINT AS first_rel_rank,
       |         SUM(CASE WHEN rank <= 10 THEN 1 ELSE 0 END)::BIGINT AS hits_k
       |         FROM hit GROUP BY query_id)
       |SELECT n.qid AS query_id, n.n_rel, p.first_rel_rank,
       |  COALESCE(1000000 // p.first_rel_rank, 0)::BIGINT AS rr_ppm,
       |  COALESCE(p.hits_k, 0)::BIGINT AS hits_k,
       |  (COALESCE(p.hits_k, 0) * 1000000 // n.n_rel)::BIGINT AS recall_ppm
       |FROM nrel n LEFT JOIN perq p ON p.query_id = n.qid
       |ORDER BY query_id""".stripMargin)

  /** Deterministic 7-per-language review panel: fixed-COUNT stratum
    * sample by salted md5 rank — same salt, same panel, any engine. */
  private val x117: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      Sampling.fixedKPerGroup(t(s, d, "documents"), "lang", "doc_id",
          k = 7, salt = "panel1")
        .select($"doc_id", $"lang", $"sample_rank")
        .orderBy($"lang", $"sample_rank")
    },
    """SELECT doc_id, lang, sample_rank FROM (
      |  SELECT doc_id, lang,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY lang
      |      ORDER BY md5('panel1:' || CAST(doc_id AS VARCHAR)), doc_id)
      |      AS BIGINT) AS sample_rank
      |  FROM documents)
      |WHERE sample_rank <= 7 ORDER BY lang, sample_rank""".stripMargin)

  /** Int8 Gram matrix of the embedding corpus — PCA/covariance
    * sufficient statistics as one group-all VectorSumAgg (dims²
    * buffer, map-side combined; no explode, no shuffle of vectors).
    * The gate unrolls the 1-row array result to (i, j, s) cells. */
  private val x118: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      val dims = 64
      Similarity.int8Gram(t(s, d, "embeddings"), "embedding", dims)
        .select($"n", posexplode($"gram").as(Seq("idx", "s")))
        .select($"n", IntMath.truncDiv($"idx", lit(dims)).as("i"),
          pmod($"idx", lit(dims)).cast("long").as("j"), $"s")
        .orderBy($"i", $"j")
    },
    """WITH m AS (
      |  SELECT embedding,
      |    list_max(list_transform(embedding,
      |      x -> abs(CAST(x AS DOUBLE)))) AS maxabs
      |  FROM embeddings),
      |q AS (
      |  SELECT CASE WHEN maxabs = 0
      |    THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
      |    ELSE list_transform(embedding,
      |      x -> CAST(greatest(-127.0, least(127.0,
      |        floor(CAST(x AS DOUBLE) * (127.0 / maxabs) + 0.5)))
      |        AS BIGINT)) END AS qv
      |  FROM m),
      |n AS (SELECT COUNT(*)::BIGINT AS n FROM q),
      |ij AS (SELECT ti.range AS i, tj.range AS j
      |       FROM range(0, 64) ti, range(0, 64) tj)
      |SELECT n.n, ij.i::BIGINT AS i, ij.j::BIGINT AS j,
      |  SUM(qv[ij.i + 1] * qv[ij.j + 1])::BIGINT AS s
      |FROM q, ij, n GROUP BY n.n, ij.i, ij.j ORDER BY i, j""".stripMargin)

  /** Modularity of the 4-round LPA communities on the supplier
    * co-occurrence graph — did label propagation find real structure?
    * Exact integer fractions per community. */
  private val x119: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      val li = t(s, d, "lineitem").filter($"l_quantity" > 47)
        .select($"l_orderkey".as("ok"), $"l_suppkey".as("sk")).distinct()
      val edges = li.as("a").join(li.as("b"),
          col("a.ok") === col("b.ok") && col("a.sk") < col("b.sk"))
        .select(col("a.sk").as("sa"), col("b.sk").as("sb"))
      val labels = Graph.labelPropagate(edges, "sa", "sb", rounds = 4)
      Graph.modularity(edges, "sa", "sb", labels, "id", "lab")
        .orderBy($"community")
    },
    s"""WITH lp AS (SELECT * FROM (${Graph.labelPropSql(supplierEdgeSql(47), rounds = 4)}) t),
       |raw2 AS (${supplierEdgeSql(47)}),
       |e AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
       |      FROM raw2 WHERE src <> dst),
       |mm AS (SELECT COUNT(*)::BIGINT AS m FROM e),
       |lt AS (SELECT e.u, e.v, lu.lab AS lu, lv.lab AS lv
       |       FROM e JOIN lp lu ON lu.id = e.u JOIN lp lv ON lv.id = e.v),
       |intra AS (SELECT lu AS community, COUNT(*)::BIGINT AS e_in
       |          FROM lt WHERE lu = lv GROUP BY lu),
       |deg AS (SELECT nid, COUNT(*)::BIGINT AS d FROM
       |        (SELECT u AS nid FROM e UNION ALL SELECT v FROM e)
       |        GROUP BY nid),
       |comm AS (SELECT lp.lab AS community, COUNT(*)::BIGINT AS n_nodes,
       |         SUM(deg.d)::BIGINT AS d_tot
       |         FROM deg JOIN lp ON lp.id = deg.nid GROUP BY lp.lab)
       |SELECT c.community, c.n_nodes,
       |  COALESCE(i.e_in, 0)::BIGINT AS e_in, c.d_tot,
       |  (4 * mm.m * COALESCE(i.e_in, 0) - c.d_tot * c.d_tot)::BIGINT AS q_num,
       |  (4 * mm.m * mm.m)::BIGINT AS q_den
       |FROM comm c LEFT JOIN intra i ON i.community = c.community, mm
       |ORDER BY c.community""".stripMargin)

  /** Quantized information gain: does `source` predict `lang`? The
    * feature-relevance number as exact integer entropy fractions. */
  private val x120: (Fn, String) = (
    (s, d) => Profile.informationGain(t(s, d, "documents"), "source", "lang"),
    """WITH xy AS (SELECT source AS x, lang AS y, COUNT(*)::BIGINT AS cxy
      |            FROM documents GROUP BY 1, 2),
      |nn AS (SELECT SUM(cxy)::BIGINT AS n FROM xy),
      |hy AS (SELECT SUM(cy * (length(bin(nn.n // cy)) - 1))::BIGINT AS hyb
      |       FROM (SELECT y, SUM(cxy)::BIGINT AS cy FROM xy GROUP BY y), nn),
      |cx AS (SELECT x, SUM(cxy)::BIGINT AS cx FROM xy GROUP BY x),
      |hyx AS (SELECT SUM(xy.cxy * (length(bin(cx.cx // xy.cxy)) - 1))::BIGINT
      |        AS hyxb FROM xy JOIN cx ON cx.x = xy.x)
      |SELECT nn.n AS n,
      |  (hy.hyb * 1000000 // nn.n)::BIGINT AS h_label_ppm,
      |  (hyx.hyxb * 1000000 // nn.n)::BIGINT AS h_cond_ppm,
      |  ((hy.hyb * 1000000 // nn.n) - (hyx.hyxb * 1000000 // nn.n))::BIGINT
      |    AS ig_ppm
      |FROM nn, hy, hyx""".stripMargin)

  /** Exact weighted median of line-item price (cents) weighted by
    * quantity, per return flag — robust central tendency with
    * integer cross-multiplied decisions, distinct-value windows. */
  private val x121: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      Profile.weightedMedian(t(s, d, "lineitem"), "l_returnflag",
          floor($"l_extendedprice" * 100 + 0.5).cast("long"),
          floor($"l_quantity").cast("long"))
        .orderBy($"l_returnflag")
    },
    """WITH b AS (
      |  SELECT l_returnflag AS g,
      |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS v,
      |    CAST(floor(l_quantity) AS BIGINT) AS w
      |  FROM lineitem),
      |byv AS (SELECT g, v, SUM(w)::BIGINT AS wv FROM b GROUP BY g, v),
      |cum AS (SELECT g, v, wv,
      |        SUM(wv) OVER (PARTITION BY g ORDER BY v)::BIGINT AS cm
      |        FROM byv),
      |tot AS (SELECT g, SUM(wv)::BIGINT AS w FROM byv GROUP BY g)
      |SELECT cum.g AS l_returnflag, MIN(tot.w)::BIGINT AS w_total,
      |  MIN(cum.v)::BIGINT AS w_median
      |FROM cum JOIN tot ON tot.g = cum.g
      |WHERE 2 * cum.cm >= tot.w
      |GROUP BY cum.g ORDER BY cum.g""".stripMargin)

  /** Directed quantized KL drift between the src0–src2 slice and the
    * rest of the corpus — bits/token surprise of a B-model reading A,
    * floor-log₂ quantized, engine-exact integers. */
  private val x122: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      Drift.klDriftBits(docs.filter($"source" <= "src2"),
          docs.filter($"source" > "src2"), "text")
        .orderBy($"term")
    },
    """WITH ta AS (SELECT unnest([w for w in string_split(text, ' ')
      |                           if len(w) > 0]) AS term
      |            FROM documents WHERE source <= 'src2'),
      |tb AS (SELECT unnest([w for w in string_split(text, ' ')
      |                      if len(w) > 0]) AS term
      |       FROM documents WHERE source > 'src2'),
      |ca AS (SELECT term, COUNT(*)::BIGINT AS cnt_a FROM ta GROUP BY term),
      |cb AS (SELECT term, COUNT(*)::BIGINT AS cnt_b FROM tb GROUP BY term),
      |j AS (SELECT COALESCE(ca.term, cb.term) AS term,
      |        COALESCE(cnt_a, 0)::BIGINT AS cnt_a,
      |        COALESCE(cnt_b, 0)::BIGINT AS cnt_b
      |      FROM ca FULL OUTER JOIN cb ON ca.term = cb.term),
      |tt AS (SELECT SUM(cnt_a)::BIGINT AS ta2, SUM(cnt_b)::BIGINT AS tb2,
      |        COUNT(*)::BIGINT AS v FROM j),
      |qb AS (SELECT term, cnt_a, cnt_b,
      |        CASE WHEN (cnt_a + 1) * (tt.tb2 + tt.v)
      |               >= (cnt_b + 1) * (tt.ta2 + tt.v)
      |          THEN length(bin((cnt_a + 1) * (tt.tb2 + tt.v)
      |                 // ((cnt_b + 1) * (tt.ta2 + tt.v)))) - 1
      |          ELSE -(length(bin((cnt_b + 1) * (tt.ta2 + tt.v)
      |                 // ((cnt_a + 1) * (tt.tb2 + tt.v)))) - 1)
      |        END::BIGINT AS q_bits
      |       FROM j, tt)
      |SELECT term, cnt_a, cnt_b, q_bits,
      |  ((cnt_a + 1) * q_bits)::BIGINT AS contrib_bits
      |FROM qb ORDER BY term""".stripMargin)

  /** Local clustering coefficient over the supplier co-occurrence
    * graph — exact ppm fractions from the degree-oriented triangle
    * close; deg-1 nodes emit the −1 sentinel (undefined). */
  private val x123: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      val li = t(s, d, "lineitem").filter($"l_quantity" > 45)
        .select($"l_orderkey".as("ok"), $"l_suppkey".as("sk")).distinct()
      val edges = li.as("a").join(li.as("b"),
          col("a.ok") === col("b.ok") && col("a.sk") < col("b.sk"))
        .select(col("a.sk").as("sa"), col("b.sk").as("sb"))
      Graph.clusteringCoefficient(edges, "sa", "sb")
        .select($"id", $"deg", $"n_triangles",
          coalesce($"cc_ppm", lit(-1L)).as("cc_ppm"))
        .orderBy($"id")
    },
    """WITH pairs AS (
      |  SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk
      |  FROM lineitem WHERE l_quantity > 45),
      |e AS (SELECT DISTINCT a.sk AS u, b.sk AS v
      |      FROM pairs a JOIN pairs b ON a.ok = b.ok AND a.sk < b.sk),
      |deg AS (SELECT id, COUNT(*)::BIGINT AS deg FROM
      |        (SELECT u AS id FROM e UNION ALL SELECT v FROM e)
      |        GROUP BY id),
      |tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
      |        FROM e e1 JOIN e e2 ON e2.u = e1.v
      |        JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
      |tc AS (SELECT id, COUNT(*)::BIGINT AS nt FROM
      |       (SELECT unnest([a, b, c]) AS id FROM tri) GROUP BY id)
      |SELECT deg.id::BIGINT AS id, deg.deg,
      |  COALESCE(tc.nt, 0)::BIGINT AS n_triangles,
      |  (CASE WHEN deg.deg >= 2
      |    THEN (2000000 * COALESCE(tc.nt, 0)) // (deg.deg * (deg.deg - 1))
      |    ELSE -1 END)::BIGINT AS cc_ppm
      |FROM deg LEFT JOIN tc ON tc.id = deg.id ORDER BY id""".stripMargin)

  /** Exact Spearman rank correlation (integer components) between
    * per-part total quantity and total revenue — tie-correct doubled
    * average ranks, distributed rank spine, no floats anywhere. */
  private val x124: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      val ag = t(s, d, "lineitem").groupBy($"l_partkey")
        .agg(sum($"l_quantity".cast("decimal(18,2)")).as("q"),
          sum($"l_extendedprice".cast("decimal(18,2)")).as("p"))
      Profile.spearmanComponents(ag, col("q"), col("p"))
        .select($"n", $"rho_num".cast("long").as("rho_num"),
          $"den_x".cast("long").as("den_x"),
          $"den_y".cast("long").as("den_y"))
    },
    """WITH ag AS (
      |  SELECT l_partkey,
      |    SUM(CAST(l_quantity AS DECIMAL(18,2))) AS q,
      |    SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS p
      |  FROM lineitem GROUP BY 1),
      |cq AS (SELECT q, COUNT(*)::BIGINT AS cnt FROM ag GROUP BY q),
      |rq AS (SELECT q, 2 * (SUM(cnt) OVER (ORDER BY q) - cnt) + cnt + 1
      |         AS rx FROM cq),
      |cp AS (SELECT p, COUNT(*)::BIGINT AS cnt FROM ag GROUP BY p),
      |rp AS (SELECT p, 2 * (SUM(cnt) OVER (ORDER BY p) - cnt) + cnt + 1
      |         AS ry FROM cp),
      |jj AS (SELECT rq.rx AS rx, rp.ry AS ry
      |       FROM ag JOIN rq ON rq.q = ag.q JOIN rp ON rp.p = ag.p),
      |ss AS (SELECT COUNT(*)::BIGINT AS n, SUM(rx) AS sx, SUM(ry) AS sy,
      |        SUM(rx * rx) AS sxx, SUM(ry * ry) AS syy,
      |        SUM(rx * ry) AS sxy FROM jj)
      |SELECT n, (n * sxy - sx * sy)::BIGINT AS rho_num,
      |  (n * sxx - sx * sx)::BIGINT AS den_x,
      |  (n * syy - sy * sy)::BIGINT AS den_y
      |FROM ss""".stripMargin)

  /** Chao1 vocabulary-richness estimate + Good–Turing unseen mass
    * over the documents corpus — "is vocabulary coverage saturated",
    * exact integer ppm. */
  private val x125: (Fn, String) = (
    (s, d) => TextAnalysis.chao1Richness(t(s, d, "documents"), "text"),
    """WITH c AS (
      |  SELECT tok, COUNT(*)::BIGINT AS r
      |  FROM (SELECT unnest([w for w in string_split(text, ' ')
      |                       if len(w) > 0]) AS tok FROM documents)
      |  GROUP BY tok),
      |s AS (SELECT SUM(r)::BIGINT AS n_tokens, COUNT(*)::BIGINT AS v_obs,
      |        SUM(CASE WHEN r = 1 THEN 1 ELSE 0 END)::BIGINT AS f1,
      |        SUM(CASE WHEN r = 2 THEN 1 ELSE 0 END)::BIGINT AS f2
      |      FROM c)
      |SELECT n_tokens, v_obs, f1, f2,
      |  (v_obs * 1000000 + (1000000 * f1 * (f1 - 1)) // (2 * (f2 + 1)))::BIGINT
      |    AS chao1_ppm,
      |  ((f1 * 1000000) // n_tokens)::BIGINT AS unseen_mass_ppm
      |FROM s""".stripMargin)

  /** Per-domain cap, best-quality-first: keep ≤ 20 docs per source by
    * n_chars (ties by doc_id) via the bounded TopKAgg — never a
    * per-domain row sort. */
  private val x126: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      Sampling.domainCap(t(s, d, "documents"), "source", "doc_id",
          $"n_chars", cap = 20)
        .select($"doc_id", $"source", $"n_chars", $"cap_rank")
        .orderBy($"source", $"cap_rank")
    },
    """SELECT doc_id, source, n_chars,
      |  ROW_NUMBER() OVER (PARTITION BY source
      |    ORDER BY n_chars DESC, doc_id)::BIGINT AS cap_rank
      |FROM documents
      |QUALIFY cap_rank <= 20
      |ORDER BY source, cap_rank""".stripMargin)

  /** Feasible mixture quota for a 50/30/20 source mix — the largest
    * exactly-achievable budget, per-source quotas and acceptance
    * ppm, all integer floors. */
  private val x127: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      Sampling.mixtureQuota(t(s, d, "documents"), "source", $"n_chars",
          Map("src0" -> 500000L, "src1" -> 300000L, "src2" -> 200000L))
        .orderBy($"source")
    },
    """WITH tgt AS (SELECT * FROM (VALUES ('src0', 500000), ('src1', 300000),
      |                            ('src2', 200000)) t(s, target_ppm)),
      |av AS (SELECT source AS s, SUM(n_chars)::BIGINT AS avail_tokens
      |       FROM documents GROUP BY 1),
      |j AS (SELECT COALESCE(tgt.s, av.s) AS s,
      |        COALESCE(target_ppm, 0)::BIGINT AS target_ppm,
      |        COALESCE(avail_tokens, 0)::BIGINT AS avail_tokens
      |      FROM tgt FULL OUTER JOIN av ON tgt.s = av.s),
      |b AS (SELECT MIN((avail_tokens * 1000000) // target_ppm)::BIGINT
      |        AS budget_total FROM j WHERE target_ppm > 0)
      |SELECT j.s AS source, avail_tokens, target_ppm, b.budget_total,
      |  ((b.budget_total * target_ppm) // 1000000)::BIGINT AS quota_tokens,
      |  (CASE WHEN avail_tokens > 0
      |    THEN (((b.budget_total * target_ppm) // 1000000) * 1000000)
      |         // avail_tokens
      |    ELSE 0 END)::BIGINT AS accept_ppm
      |FROM j, b ORDER BY source""".stripMargin)

  /** Bloom-prefiltered semi join against a rare allowlist (orders
    * over 400k): result must be EXACTLY the plain semi join — the
    * 16 KiB bitmap only prunes, never decides. */
  private val x128: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      val allow = t(s, d, "orders").filter($"o_totalprice" > 400000.0)
      BloomJoin.bloomSemiJoin(t(s, d, "lineitem"), allow,
          "l_orderkey", "o_orderkey")
        .groupBy($"l_orderkey")
        .agg(count(lit(1)).as("n_lines"),
          graft.tables.dsum($"l_extendedprice").as("revenue"))
        .orderBy($"l_orderkey")
    },
    """SELECT l_orderkey, COUNT(*)::BIGINT AS n_lines,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
      |    AS revenue
      |FROM lineitem
      |WHERE l_orderkey IN (SELECT o_orderkey FROM orders
      |                     WHERE o_totalprice > 400000)
      |GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin)

  /** Canonical text normalization over a deterministically-messied
    * corpus (injected case, tabs, C0 controls, space runs) — both
    * engines must clean to identical bytes. */
  private val x129: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      val messy = t(s, d, "documents").select($"doc_id",
        concat(lit("  \t"), upper($"text"), lit(" \u0001 END  ")).as("raw"))
      messy.select($"doc_id",
          TextAnalysis.normalizeText($"raw").as("norm"))
        .orderBy($"doc_id")
    },
    """SELECT doc_id,
      |  lower(trim(regexp_replace(regexp_replace(
      |    '  ' || chr(9) || upper(text) || ' ' || chr(1) || ' END  ',
      |    '[\x00-\x1f\x7f]', ' ', 'g'), ' {2,}', ' ', 'g'))) AS norm
      |FROM documents ORDER BY doc_id""".stripMargin)

  /** Corpus concentration: Gini + Herfindahl of per-source character
    * mass — exact integer components, distributed rank spine. */
  private val x130: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      Profile.concentration(t(s, d, "documents"), "source", $"n_chars")
        .select($"n_groups", $"total",
          $"gini_num".cast("long").as("gini_num"),
          $"gini_den".cast("long").as("gini_den"),
          $"gini_ppm", $"hhi_ppm")
    },
    """WITH s AS (SELECT source AS g, SUM(n_chars)::BIGINT AS x
      |           FROM documents GROUP BY 1),
      |r AS (SELECT g, x, ROW_NUMBER() OVER (ORDER BY x, g)::BIGINT AS i
      |      FROM s),
      |a AS (SELECT COUNT(*)::BIGINT AS n, SUM(x)::BIGINT AS sx,
      |        SUM(i * x)::BIGINT AS six, SUM(x * x)::BIGINT AS sxx FROM r)
      |SELECT n AS n_groups, sx AS total,
      |  (2 * six - (n + 1) * sx)::BIGINT AS gini_num,
      |  (n * sx)::BIGINT AS gini_den,
      |  (((2 * six - (n + 1) * sx) * 1000000) // (n * sx))::BIGINT
      |    AS gini_ppm,
      |  ((sxx * 1000000) // (sx * sx))::BIGINT AS hhi_ppm
      |FROM a""".stripMargin)

  /** Rolling median/MAD anomaly flags over per-user event values —
    * trailing 8, ≥4 prior to vote, 3×MAD threshold; −1 sentinels for
    * "no verdict". */
  private val x131: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      val ev = t(s, d, "events").filter($"user_id" < 30)
      Temporal.rollingMadFlags(ev, "user_id", "ts", "event_id",
          floor($"value" * 100 + 0.5), window = 8, minPrior = 4, k = 3)
        .select($"event_id", $"user_id", $"roll_n",
          coalesce($"roll_med", lit(-1L)).as("roll_med"),
          coalesce($"roll_mad", lit(-1L)).as("roll_mad"),
          when($"is_anomaly".isNull, -1L)
            .when($"is_anomaly", 1L).otherwise(0L).as("anomaly"))
        .orderBy($"event_id")
    },
    """WITH e AS (SELECT event_id, user_id, ts,
      |             CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
      |           FROM events WHERE user_id < 30),
      |w AS (SELECT event_id, user_id, v,
      |        -- an empty window frame yields NULL (not []) in DuckDB
      |        COALESCE(list(v) OVER (PARTITION BY user_id
      |          ORDER BY ts, event_id
      |          ROWS BETWEEN 8 PRECEDING AND 1 PRECEDING), []) AS arr
      |      FROM e),
      |m AS (SELECT event_id, user_id, v, len(arr)::BIGINT AS roll_n,
      |        CASE WHEN len(arr) > 0
      |          THEN list_sort(arr)[(len(arr) + 1) // 2] END AS med,
      |        arr
      |      FROM w),
      |m2 AS (SELECT event_id, user_id, v, roll_n, med,
      |         CASE WHEN roll_n > 0
      |           THEN list_sort(list_transform(arr, x -> abs(x - med)))
      |                [(roll_n + 1) // 2] END AS mad
      |       FROM m)
      |SELECT event_id, user_id, roll_n,
      |  COALESCE(med, -1)::BIGINT AS roll_med,
      |  COALESCE(mad, -1)::BIGINT AS roll_mad,
      |  (CASE WHEN roll_n < 4 THEN -1
      |        WHEN abs(v - med) > 3 * mad THEN 1 ELSE 0 END)::BIGINT
      |    AS anomaly
      |FROM m2 ORDER BY event_id""".stripMargin)

  /** Component-size profile of the SimHash near-dup graph over the
    * whole corpus — duplicate-family histogram with singleton
    * accounting (Σ csize·n = |docs| exactly). */
  private val x132: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3)
      Graph.componentSizeProfile(pairs, docs, "doc_id").orderBy($"csize")
    },
    s"""WITH RECURSIVE sigs AS ($simhashSigSql),
       |edges AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |          FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
       |          WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
       |und AS (SELECT id_a AS src, id_b AS dst FROM edges
       |        UNION SELECT id_b, id_a FROM edges),
       |reach(id, r) AS (
       |  SELECT src, src FROM und
       |  UNION
       |  SELECT re.id, u.dst FROM reach re JOIN und u ON u.src = re.r),
       |comp AS (SELECT id, MIN(r) AS cluster FROM reach GROUP BY id),
       |szs AS (SELECT cluster, COUNT(*)::BIGINT AS csize
       |        FROM comp GROUP BY cluster),
       |hist AS (SELECT csize, COUNT(*)::BIGINT AS n_components
       |         FROM szs GROUP BY csize),
       |tots AS (SELECT (SELECT COUNT(*) FROM documents)
       |           - (SELECT COUNT(*) FROM comp) AS singles)
       |SELECT csize, n_components FROM hist
       |UNION ALL
       |SELECT 1::BIGINT, singles::BIGINT FROM tots WHERE singles > 0
       |ORDER BY csize""".stripMargin)

  /** Per-source percentile-rank normalization of document length —
    * midrank ppm, exact integers, ties collapsed before ranking. */
  private val x133: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      Profile.percentileRank(t(s, d, "documents"), "source", $"n_chars")
        .select($"doc_id", $"source", $"n_chars", $"pct_ppm")
        .orderBy($"doc_id")
    },
    """WITH byv AS (SELECT source AS g, n_chars AS v, COUNT(*)::BIGINT AS cnt
      |             FROM documents GROUP BY 1, 2),
      |r AS (SELECT g, v,
      |        2 * (SUM(cnt) OVER (PARTITION BY g ORDER BY v) - cnt)
      |          + cnt + 1 AS r2
      |      FROM byv),
      |tt AS (SELECT g, SUM(cnt)::BIGINT AS ng FROM byv GROUP BY g)
      |SELECT d.doc_id, d.source, d.n_chars,
      |  ((1000000 * (r.r2 - 1)) // (2 * tt.ng))::BIGINT AS pct_ppm
      |FROM documents d
      |JOIN r ON r.g = d.source AND r.v = d.n_chars
      |JOIN tt ON tt.g = d.source
      |ORDER BY d.doc_id""".stripMargin)

  /** Contrastive positive mining from the exact near-dup pair list —
    * top-2 partners per anchor, bounded TopKAgg, both orientations. */
  private val x134: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      val pairs = Dedup.ngramJaccardPairs(t(s, d, "documents"), "doc_id",
        "text", n = 3, threshold = 0.6)
      Dedup.minePositives(pairs, "id_a", "id_b", $"jaccard", cap = 2)
        .orderBy($"anchor", $"pos_rank")
    },
    s"""WITH $shingleCte,
       |pr AS (SELECT id_a, id_b, jaccard FROM jac WHERE jaccard >= 0.6),
       |bo AS (SELECT id_a AS anchor, id_b AS positive, jaccard AS sim
       |       FROM pr
       |       UNION ALL
       |       SELECT id_b, id_a, jaccard FROM pr),
       |rk AS (SELECT anchor, positive, sim,
       |         ROW_NUMBER() OVER (PARTITION BY anchor
       |           ORDER BY sim DESC, positive)::BIGINT AS pos_rank
       |       FROM bo)
       |SELECT anchor, positive, sim, pos_rank FROM rk
       |WHERE pos_rank <= 2 ORDER BY anchor, pos_rank""".stripMargin)

  /** Decile lift of order status 'F' against total price — exact
    * midrank bands over the descending distinct-score spine. */
  private val x135: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      Eval.decileLift(t(s, d, "orders"), floor($"o_totalprice"),
          $"o_orderstatus" === "F", buckets = 10)
        .orderBy($"bucket")
    },
    """WITH r AS (SELECT CAST(floor(o_totalprice) AS BIGINT) AS s,
      |             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      |           FROM orders),
      |sp AS (SELECT s, COUNT(*)::BIGINT AS c, SUM(y)::BIGINT AS p
      |       FROM r GROUP BY s),
      |rk AS (SELECT s, c, p, SUM(c) OVER (ORDER BY s DESC)::BIGINT AS cum
      |       FROM sp),
      |tt AS (SELECT SUM(c)::BIGINT AS n, SUM(p)::BIGINT AS np FROM sp),
      |bb AS (SELECT ((10 * (2 * (cum - c) + c)) // (2 * tt.n)) AS bucket,
      |         c, p FROM rk, tt)
      |SELECT bucket::BIGINT AS bucket, SUM(c)::BIGINT AS n,
      |  SUM(p)::BIGINT AS n_pos,
      |  ((SUM(p) * 1000000) // SUM(c))::BIGINT AS rate_ppm,
      |  (CASE WHEN tt.np > 0
      |    THEN (SUM(p) * tt.n * 1000000) // (SUM(c) * tt.np) END)::BIGINT
      |    AS lift_ppm
      |FROM bb, tt GROUP BY bucket, tt.n, tt.np ORDER BY bucket""".stripMargin)

  /** Quantile mapping of returned-flag quantities onto the 'R'
    * reference distribution — histogram matching by integer
    * cross-multiplied CDF merge. */
  private val x136: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      val li = t(s, d, "lineitem")
      Profile.quantileMap(li.filter($"l_returnflag" === "R"),
          li.filter($"l_returnflag" === "A"), $"l_quantity")
        .orderBy($"v_src")
    },
    """WITH a AS (SELECT CAST(l_quantity AS BIGINT) AS v, COUNT(*)::BIGINT AS c
      |           FROM lineitem WHERE l_returnflag = 'R' GROUP BY 1),
      |b AS (SELECT CAST(l_quantity AS BIGINT) AS v, COUNT(*)::BIGINT AS c
      |      FROM lineitem WHERE l_returnflag = 'A' GROUP BY 1),
      |ac AS (SELECT v, c, SUM(c) OVER (ORDER BY v)::BIGINT AS cum FROM a),
      |bc AS (SELECT v, c, SUM(c) OVER (ORDER BY v)::BIGINT AS cum FROM b),
      |na AS (SELECT SUM(c)::BIGINT AS n FROM a),
      |nb AS (SELECT SUM(c)::BIGINT AS n FROM b)
      |SELECT bc.v AS v_src,
      |  ((1000000 * (2 * (bc.cum - bc.c) + bc.c)) // (2 * nb.n))::BIGINT
      |    AS pct_ppm,
      |  (SELECT MIN(ac.v) FROM ac, na
      |   WHERE 2 * ac.cum * nb.n >= (2 * (bc.cum - bc.c) + bc.c) * na.n)
      |    ::BIGINT AS v_mapped
      |FROM bc, nb ORDER BY v_src""".stripMargin)

  /** 24h-lag autocorrelation of per-user hourly activity — exact
    * Pearson components over the observed-hour overlap. */
  private val x137: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      Temporal.lagAutocorr(t(s, d, "events").filter($"user_id" < 50),
          "user_id", "ts", lagHours = 24)
        .orderBy($"user_id")
    },
    """WITH h AS (SELECT user_id AS k, date_trunc('hour', ts) AS hh,
      |             COUNT(*)::BIGINT AS c
      |           FROM events WHERE user_id < 50 GROUP BY 1, 2),
      |j AS (SELECT a.k, a.c AS x, b.c AS y
      |      FROM h a JOIN h b
      |        ON b.k = a.k AND b.hh + INTERVAL 24 HOURS = a.hh)
      |SELECT k AS user_id, COUNT(*)::BIGINT AS n_pairs,
      |  (COUNT(*) * SUM(x * y) - SUM(x) * SUM(y))::BIGINT AS r_num,
      |  (COUNT(*) * SUM(x * x) - SUM(x) * SUM(x))::BIGINT AS den_x,
      |  (COUNT(*) * SUM(y * y) - SUM(y) * SUM(y))::BIGINT AS den_y
      |FROM j GROUP BY k ORDER BY user_id""".stripMargin)

  /** Quantized Zipf slope of the corpus rank–frequency curve — exact
    * integer regression over floor-log₂ buckets. */
  private val x138: (Fn, String) = (
    (s, d) => TextAnalysis.zipfSlope(t(s, d, "documents"), "text"),
    """WITH c AS (SELECT tok, COUNT(*)::BIGINT AS freq
      |           FROM (SELECT unnest([w for w in string_split(text, ' ')
      |                                if len(w) > 0]) AS tok
      |                 FROM documents)
      |           GROUP BY tok),
      |r AS (SELECT freq,
      |        ROW_NUMBER() OVER (ORDER BY freq DESC, tok)::BIGINT AS rnk
      |      FROM c),
      |b AS (SELECT (length(bin(rnk)) - 1)::BIGINT AS x,
      |        (length(bin(freq)) - 1)::BIGINT AS y FROM r)
      |SELECT COUNT(*)::BIGINT AS v_obs,
      |  (COUNT(*) * SUM(x * y) - SUM(x) * SUM(y))::BIGINT AS slope_num,
      |  (COUNT(*) * SUM(x * x) - SUM(x) * SUM(x))::BIGINT AS slope_den
      |FROM b""".stripMargin)

  /** 10%-each-end trimmed mean of line price cents per return flag —
    * exact integer interval-intersection trimming. */
  private val x139: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      Profile.trimmedMean(t(s, d, "lineitem"), "l_returnflag",
          floor($"l_extendedprice" * 100 + 0.5).cast("long"),
          alphaPpm = 100000L)
        .select($"l_returnflag", $"n", $"n_trimmed_each", $"n_kept",
          $"sum_kept".cast("long").as("sum_kept"), $"mean_floor")
        .orderBy($"l_returnflag")
    },
    """WITH b AS (SELECT l_returnflag AS g,
      |             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS v
      |           FROM lineitem),
      |byv AS (SELECT g, v, COUNT(*)::BIGINT AS cnt FROM b GROUP BY 1, 2),
      |cum AS (SELECT g, v, cnt,
      |          SUM(cnt) OVER (PARTITION BY g ORDER BY v)::BIGINT AS cm
      |        FROM byv),
      |kk AS (SELECT g, SUM(cnt)::BIGINT AS n,
      |         (SUM(cnt) * 100000) // 1000000 AS k
      |       FROM byv GROUP BY g),
      |kept AS (SELECT cum.g, cum.v, kk.n, kk.k,
      |           GREATEST(0, LEAST(cum.cm, kk.n - kk.k)
      |             - GREATEST(cum.cm - cum.cnt, kk.k)) AS kp
      |         FROM cum JOIN kk ON kk.g = cum.g)
      |SELECT g AS l_returnflag, MIN(n)::BIGINT AS n,
      |  MIN(k)::BIGINT AS n_trimmed_each,
      |  SUM(kp)::BIGINT AS n_kept,
      |  SUM(kp * v)::BIGINT AS sum_kept,
      |  (SUM(kp * v) // SUM(kp))::BIGINT AS mean_floor
      |FROM kept GROUP BY g ORDER BY g""".stripMargin)

  /** c-TF-IDF: top-3 distinguishing terms per source — group term
    * frequency × Zipf-bucketed inverse group frequency. */
  private val x140: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      TextAnalysis.classTfidf(t(s, d, "documents"), "source", "text", k = 3)
        .orderBy($"source", $"rank")
    },
    """WITH tf AS (SELECT g, term, COUNT(*)::BIGINT AS tf FROM
      |             (SELECT source AS g,
      |                unnest([w for w in string_split(text, ' ')
      |                        if len(w) > 0]) AS term
      |              FROM documents)
      |            GROUP BY 1, 2),
      |gf AS (SELECT term, COUNT(*)::BIGINT AS df_groups FROM tf
      |       GROUP BY term),
      |ng AS (SELECT COUNT(DISTINCT g)::BIGINT AS n FROM tf),
      |sc AS (SELECT tf.g, tf.term, tf.tf, gf.df_groups,
      |         (tf.tf * (length(bin(ng.n // gf.df_groups)) - 1))::BIGINT
      |           AS score
      |       FROM tf JOIN gf USING (term), ng),
      |rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY g
      |         ORDER BY score DESC, term)::BIGINT AS rank FROM sc)
      |SELECT g AS source, rank, term, tf, df_groups, score
      |FROM rk WHERE rank <= 3 ORDER BY source, rank""".stripMargin)

  /** Exact 2×2 chi-square: does the even/odd user split move the
    * purchase rate — cells + milli-χ², all integer floors. */
  private val x141: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      Eval.chiSquare2x2(t(s, d, "events"),
          pmod($"user_id", lit(2)) === 0, $"event_type" === "purchase")
        .select($"a", $"b", $"c", $"d", $"chi2_milli")
    },
    """WITH cells AS (SELECT
      |  SUM(CASE WHEN user_id % 2 = 0 AND event_type = 'purchase'
      |      THEN 1 ELSE 0 END)::HUGEINT AS a,
      |  SUM(CASE WHEN user_id % 2 = 0 AND event_type <> 'purchase'
      |      THEN 1 ELSE 0 END)::HUGEINT AS b,
      |  SUM(CASE WHEN user_id % 2 = 1 AND event_type = 'purchase'
      |      THEN 1 ELSE 0 END)::HUGEINT AS c,
      |  SUM(CASE WHEN user_id % 2 = 1 AND event_type <> 'purchase'
      |      THEN 1 ELSE 0 END)::HUGEINT AS d
      |  FROM events)
      |SELECT a::BIGINT AS a, b::BIGINT AS b, c::BIGINT AS c,
      |  d::BIGINT AS d,
      |  (CASE WHEN (a+b)*(c+d)*(a+c)*(b+d) > 0
      |    THEN ((a+b+c+d) * (a*d - b*c) * (a*d - b*c) * 1000)
      |         // ((a+b)*(c+d)*(a+c)*(b+d)) END)::BIGINT AS chi2_milli
      |FROM cells""".stripMargin)

  /** LSH banding audit at the x03 configuration: the oracle pins the
    * exact-pair truth AND perfect recall (at this corpus margin a
    * missed pair means the banding broke — the row turns red). The
    * engine's n_hits comes from candidates ∩ exact, so it can only
    * equal n_exact when no true pair escaped the bands.
    *
    * A sizing with `truthSampleBits` > 0 (the bench's, see
    * [[graft.Harness.benchSizing]]) runs the audit in SAMPLED-truth
    * mode — same plan shape at ~1/4^bits the standing pair cost. The
    * correctness gate runs [[graft.Sizing.Gate]], so the oracle always
    * compares against the exhaustive truth. */
  private val x142: (Sizing => Fn, String) = (
    z => (s, d) => {
      import s.implicits._
      val bits = z.truthSampleBits
      Dedup.lshBandingAudit(t(s, d, "documents"), "doc_id", "text",
          n = 3, threshold = 0.6, bands = 64, rowsPerBand = 2,
          truthSampleBits = bits)
        .select($"n_exact", $"n_hits", $"recall_ppm")
    },
    s"""WITH $shingleCte
       |SELECT COUNT(*)::BIGINT AS n_exact, COUNT(*)::BIGINT AS n_hits,
       |  1000000::BIGINT AS recall_ppm
       |FROM jac WHERE jaccard >= 0.6""".stripMargin)

  /** Dominant principal direction by exact integer power iteration on
    * the int8 Gram matrix — 3 rounds, ppm renormalization each round;
    * the oracle replays the identical integer recurrence, so the
    * direction must match to the last ppm unit. */
  private val x143: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      Similarity.principalDirection(t(s, d, "embeddings"), "embedding",
          dims = 64, iters = 3)
        .orderBy($"dim")
    },
    """WITH m AS (
      |  SELECT embedding,
      |    list_max(list_transform(embedding,
      |      x -> abs(CAST(x AS DOUBLE)))) AS maxabs
      |  FROM embeddings),
      |q AS (
      |  SELECT CASE WHEN maxabs = 0
      |    THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
      |    ELSE list_transform(embedding,
      |      x -> CAST(greatest(-127.0, least(127.0,
      |        floor(CAST(x AS DOUBLE) * (127.0 / maxabs) + 0.5)))
      |        AS BIGINT)) END AS qv
      |  FROM m),
      |ij AS (SELECT ti.range AS i, tj.range AS j
      |       FROM range(0, 64) ti, range(0, 64) tj),
      |gram AS (SELECT ij.i, ij.j,
      |           SUM(qv[ij.i + 1] * qv[ij.j + 1])::HUGEINT AS g
      |         FROM q, ij GROUP BY ij.i, ij.j),
      |w1 AS (SELECT i, g * 1000000 AS w FROM gram WHERE j = 0),
      |v1 AS (SELECT i, (w * 1000000) // (SELECT MAX(ABS(w)) FROM w1) AS v
      |       FROM w1),
      |w2 AS (SELECT gram.i, SUM(gram.g * v1.v) AS w
      |       FROM gram JOIN v1 ON gram.j = v1.i GROUP BY gram.i),
      |v2 AS (SELECT i, (w * 1000000) // (SELECT MAX(ABS(w)) FROM w2) AS v
      |       FROM w2),
      |w3 AS (SELECT gram.i, SUM(gram.g * v2.v) AS w
      |       FROM gram JOIN v2 ON gram.j = v2.i GROUP BY gram.i),
      |v3 AS (SELECT i, (w * 1000000) // (SELECT MAX(ABS(w)) FROM w3) AS v
      |       FROM w3)
      |SELECT i::BIGINT AS dim, v::BIGINT AS v_ppm
      |FROM v3 ORDER BY dim""".stripMargin)

  /** Leading-`k`-hex-digit integer of an md5 expression — DuckDB
    * mirror of `conv(substring(h, 1, k), 16, 10)` (k ≤ 15 stays
    * exact in BIGINT). Emitted as nested nibble arithmetic, usable
    * inside list lambdas. */
  private def hexSql(h: String, k: Int): String = {
    require(k >= 1 && k <= 15)
    val terms = (1 to k).map(i =>
      s"strpos('0123456789abcdef', substr($h, $i, 1)) - 1)")
    ("(" * k) + terms.mkString(" * 16 + ")
  }

  private def hex6Sql(h: String): String = hexSql(h, 6)

  /** Deterministic Poisson-bootstrap CI for mean document length —
    * the oracle replays every replicate's hash-drawn multiplicities
    * and the exact order-statistic interval. */
  private val x144: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      Eval.bootstrapCI(t(s, d, "documents"), $"doc_id", length($"text"),
        reps = 200, salt = "ci1")
    },
    s"""WITH rws AS (SELECT CAST(doc_id AS VARCHAR) AS k,
       |              length(text)::BIGINT AS x FROM documents),
       |rs AS (SELECT range AS r FROM range(0, 200)),
       |uu AS (SELECT r, x,
       |  ${hex6Sql("md5('ci1:' || CAST(r AS VARCHAR) || ':' || k)")}
       |    % 1000000 AS u
       |  FROM rws, rs),
       |ww AS (SELECT r, x,
       |  ${Eval.PoissonCumPpm.map(c =>
            s"(CASE WHEN u >= $c THEN 1 ELSE 0 END)").mkString(" + ")}
       |    AS w FROM uu),
       |rm AS (SELECT r, (SUM(w * x)::HUGEINT * 1000000) // SUM(w) AS m
       |       FROM ww GROUP BY r HAVING SUM(w) > 0),
       |rk AS (SELECT m, ROW_NUMBER() OVER (ORDER BY m, r) AS rk FROM rm),
       |base AS (SELECT COUNT(*)::BIGINT AS n,
       |  ((SUM(length(text))::HUGEINT * 1000000) // COUNT(*))::BIGINT
       |    AS mean_ppm FROM documents)
       |SELECT 200::BIGINT AS reps, base.n, base.mean_ppm,
       |  (SELECT m FROM rk WHERE rk = 5)::BIGINT AS lo_ppm,
       |  (SELECT m FROM rk WHERE rk = 196)::BIGINT AS hi_ppm
       |FROM base""".stripMargin)

  /** Winnowing fingerprint sets (n=3-gram hashes, window w=8) —
    * every selected hash of every document, replayed nibble-for-
    * nibble by the oracle's list lambdas. */
  private val x145: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      t(s, d, "documents")
        .select($"doc_id",
          explode(TextAnalysis.winnowFingerprints($"text", n = 3, w = 8))
            .as("fp"))
        .orderBy($"doc_id", $"fp")
    },
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk
       |              FROM documents),
       |g AS (SELECT doc_id,
       |  list_transform(range(1, greatest(len(tk) - 2, 1) + 1),
       |    i -> md5(array_to_string(tk[i:i+2], ' '))) AS hs
       |  FROM toks),
       |h AS (SELECT doc_id,
       |  list_transform(hs, x -> ${hexSql("x", 12)}) AS hv FROM g),
       |m AS (SELECT h.doc_id,
       |  CASE WHEN len([w FOR w IN toks.tk IF len(w) > 0]) = 0 THEN []
       |       ELSE list_transform(range(1, greatest(len(hv) - 7, 1) + 1),
       |         i -> list_min(hv[i:i+7])) END AS mins
       |  FROM h JOIN toks ON toks.doc_id = h.doc_id)
       |SELECT doc_id, unnest(list_sort(list_distinct(mins)))::BIGINT AS fp
       |FROM m ORDER BY doc_id, fp""".stripMargin)

  /** Term burstiness (index of dispersion over per-doc counts, zeros
    * included) for terms with ≥ 100 corpus occurrences. */
  private val x146: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      TextAnalysis.burstiness(t(s, d, "documents"), "doc_id", "text",
          minTotal = 100L)
        .orderBy($"term")
    },
    """WITH tf AS (SELECT doc_id, term, COUNT(*)::BIGINT AS c
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |        FROM documents)
      |  WHERE len(term) > 0 GROUP BY doc_id, term),
      |nn AS (SELECT COUNT(*)::HUGEINT AS n FROM documents),
      |st AS (SELECT term, COUNT(*)::BIGINT AS n_docs,
      |         SUM(c)::HUGEINT AS total, SUM(c * c)::HUGEINT AS sumsq
      |       FROM tf GROUP BY term)
      |SELECT term, n_docs, total::BIGINT AS total,
      |  ((nn.n * sumsq - total * total) * 1000000
      |    // (nn.n * total))::BIGINT AS d_ppm
      |FROM st, nn WHERE total >= 100 ORDER BY term""".stripMargin)

  /** RBO between parts-by-revenue-cents and parts-by-line-count
    * top-50 rankings (p = 0.9, integer-recurrence weights) — both
    * rankings built with TopKAgg, ranked on exact integer cents so
    * the two engines' orderings cannot diverge on a float ulp. */
  private val x147: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      val li = t(s, d, "lineitem")
      def top50(keyed: DataFrame) = keyed
        .agg(graft.functions.TopKAgg.topk($"c".cast("double"), $"i", 50)
          .as("top"))
        .select(posexplode($"top").as(Seq("p", "s")))
        .select($"s.id".as("item"), ($"p" + 1).cast("long").as("rank"))
      val byRev = top50(li.groupBy($"l_partkey".as("i"))
        .agg(sum(($"l_extendedprice".cast("decimal(18,2)") * 100)
          .cast("long")).as("c")))
      val byCnt = top50(li.groupBy($"l_partkey".as("i"))
        .agg(count(lit(1)).as("c")))
      Eval.rankBiasedOverlap(byRev, byCnt, "item", "rank", k = 50)
    },
    """WITH RECURSIVE
      |rev AS (SELECT l_partkey AS i,
      |          SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
      |            AS BIGINT))::HUGEINT AS c
      |        FROM lineitem GROUP BY 1),
      |ra AS (SELECT i, ROW_NUMBER() OVER (ORDER BY c DESC, i) AS r
      |       FROM rev QUALIFY r <= 50),
      |cnt AS (SELECT l_partkey AS i, COUNT(*)::HUGEINT AS c
      |        FROM lineitem GROUP BY 1),
      |rb AS (SELECT i, ROW_NUMBER() OVER (ORDER BY c DESC, i) AS r
      |       FROM cnt QUALIFY r <= 50),
      |wt(d, w) AS (SELECT 1, 1000000000000000000::HUGEINT
      |             UNION ALL SELECT d + 1, (w * 9) // 10 FROM wt
      |             WHERE d < 50),
      |joint AS (SELECT greatest(ra.r, rb.r) AS m FROM ra JOIN rb USING (i)),
      |inter AS (SELECT wt.d, COUNT(*)::HUGEINT AS x
      |          FROM joint JOIN wt ON wt.d >= joint.m GROUP BY wt.d),
      |s AS (SELECT COALESCE(SUM((wt.w * inter.x) // inter.d),
      |        0)::HUGEINT AS s
      |      FROM inter JOIN wt ON wt.d = inter.d)
      |SELECT 50::BIGINT AS k,
      |  (SELECT COUNT(*) FROM joint)::BIGINT AS n_joint,
      |  (s.s // 10000000000000)::BIGINT AS rbo_ppm
      |FROM s""".stripMargin)

  /** Cross-corpus surprisal: every document scored under the English
    * reference model with add-one smoothing — OOV counts and
    * Zipf-bucket bits, replayed exactly by the oracle. */
  private val x148: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      TextAnalysis.crossSurprisal(docs.filter($"lang" === "en"), docs,
          "doc_id", "text")
        .orderBy($"doc_id")
    },
    """WITH tr AS (SELECT unnest(string_split(text, ' ')) AS t
      |            FROM documents WHERE lang = 'en'),
      |tc AS (SELECT t, COUNT(*)::BIGINT AS cnt FROM tr
      |       WHERE len(t) > 0 GROUP BY t),
      |tot AS (SELECT SUM(cnt)::BIGINT AS total, COUNT(*)::BIGINT AS v
      |        FROM tc),
      |tk AS (SELECT doc_id, term FROM
      |         (SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |          FROM documents)
      |       WHERE len(term) > 0),
      |sc AS (SELECT tk.doc_id, COALESCE(tc.cnt, 0) AS cnt
      |       FROM tk LEFT JOIN tc ON tc.t = tk.term)
      |SELECT sc.doc_id, COUNT(*)::BIGINT AS n_toks,
      |  SUM(CASE WHEN cnt = 0 THEN 1 ELSE 0 END)::BIGINT AS oov,
      |  SUM(length(bin((tot.total + tot.v) // (cnt + 1))) - 1)::BIGINT
      |    AS bits_sum,
      |  ((SUM(length(bin((tot.total + tot.v) // (cnt + 1))) - 1)
      |    * 1000000) // COUNT(*))::BIGINT AS surprisal_ppm
      |FROM sc, tot GROUP BY sc.doc_id ORDER BY sc.doc_id""".stripMargin)

  /** CUSUM changepoint per user over event values (cents) — max
    * scaled deviation and its timestamp, earliest on ties. */
  private val x149: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      Temporal.cusumChangepoint(t(s, d, "events").filter($"user_id" < 200),
          "user_id", "ts", "event_id", $"value")
        .orderBy($"user_id")
    },
    """WITH e AS (SELECT user_id AS k, epoch_us(ts) AS us, event_id,
      |             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
      |               AS x
      |           FROM events WHERE user_id < 200),
      |t AS (SELECT k, COUNT(*)::HUGEINT AS n, SUM(x)::HUGEINT AS tot
      |      FROM e GROUP BY k),
      |c AS (SELECT k, us,
      |        SUM(x) OVER (PARTITION BY k ORDER BY us, event_id
      |          ROWS UNBOUNDED PRECEDING)::HUGEINT AS cum,
      |        ROW_NUMBER() OVER (PARTITION BY k ORDER BY us, event_id)
      |          ::HUGEINT AS i
      |      FROM e),
      |d AS (SELECT c.k, c.us, (t.n * c.cum - c.i * t.tot) AS dev, t.n
      |      FROM c JOIN t ON t.k = c.k),
      |sel AS (SELECT k, us, dev, n, ROW_NUMBER() OVER (PARTITION BY k
      |          ORDER BY abs(dev) DESC, us) AS r FROM d)
      |SELECT k AS user_id, n::BIGINT AS n, dev::BIGINT AS dev_scaled,
      |  us AS at_us
      |FROM sel WHERE r = 1 ORDER BY user_id""".stripMargin)

  /** Conditional transition entropy H(next | current) of the event
    * chain — Zipf-bucket bits per from-state. */
  private val x150: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      Temporal.transitionEntropy(t(s, d, "events"), "user_id", "ts",
          "event_type", "event_id")
        .orderBy($"from_type")
    },
    """WITH o AS (SELECT user_id, ts, event_id, event_type,
      |             LAG(event_type) OVER (PARTITION BY user_id
      |               ORDER BY ts, event_id) AS from_type
      |           FROM events),
      |tc AS (SELECT from_type, event_type AS to_type,
      |         COUNT(*)::BIGINT AS c
      |       FROM o WHERE from_type IS NOT NULL
      |       GROUP BY from_type, event_type),
      |s AS (SELECT from_type, SUM(c)::BIGINT AS s FROM tc
      |      GROUP BY from_type)
      |SELECT tc.from_type, s.s AS out_total,
      |  COUNT(*)::BIGINT AS n_next_states,
      |  SUM(tc.c * (length(bin(s.s // tc.c)) - 1))::BIGINT AS bits_sum,
      |  ((SUM(tc.c * (length(bin(s.s // tc.c)) - 1)) * 1000000)
      |    // s.s)::BIGINT AS h_ppm
      |FROM tc JOIN s USING (from_type)
      |GROUP BY tc.from_type, s.s ORDER BY tc.from_type""".stripMargin)

  /** Rolling 7-day active users per active day, plus same-day DAU. */
  private val x151: (Fn, String) = (
    (s, d) => {
      Temporal.rollingActiveUsers(t(s, d, "events"), "ts", "user_id",
        windowDays = 7)
    },
    """WITH ud AS (SELECT DISTINCT CAST(ts AS DATE) AS d, user_id AS u
      |            FROM events),
      |days AS (SELECT DISTINCT d AS day FROM ud),
      |dau AS (SELECT d AS day, COUNT(*)::BIGINT AS dau FROM ud
      |        GROUP BY 1),
      |cov AS (SELECT DISTINCT CAST(t.day AS DATE) AS day, ud.u
      |        FROM ud, unnest(generate_series(ud.d,
      |          ud.d + INTERVAL 6 DAY, INTERVAL 1 DAY)) AS t(day)),
      |wau AS (SELECT cov.day, COUNT(*)::BIGINT AS rolling_active
      |        FROM cov JOIN days ON days.day = cov.day GROUP BY cov.day)
      |SELECT dau.day, dau.dau, wau.rolling_active
      |FROM dau JOIN wau ON wau.day = dau.day ORDER BY dau.day""".stripMargin)

  /** Mutual nearest-neighbour pairs between the even- and odd-id
    * embedding halves — bitext-mining's alignment criterion, run on
    * THE BANDED 100 TB PATH (deterministic hyperplane LSH candidates,
    * no side broadcast). The oracle replays the md5-plane banding
    * bit-for-bit (x05's trick), both top-1-over-candidates passes and
    * the mutuality join — so the LSH-kNN output is identical by
    * construction. Recall vs exact is gated separately by x169. */
  private val x152: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      val emb = t(s, d, "embeddings")
      Similarity.mutualNearestPairs(
          emb.filter(pmod($"vec_id", lit(2)) === 0), "vec_id", "embedding",
          emb.filter(pmod($"vec_id", lit(2)) === 1), "vec_id", "embedding",
          bands = 16, bitsPerBand = 4, dim = 64)
        .select($"id_a", $"id_b",
          (floor($"cosine" * 1e6 + 0.5) / 1e6).as("cos6"))
        .orderBy($"id_a")
    },
    s"""WITH ${Planes.planesCteSql(64, 64)},
       |${Planes.dotsCteSql("embeddings", "vec_id", "embedding", 64)},
       |sk AS (
       |  SELECT vec_id, p // 4 AS band,
       |    CAST(SUM(CASE WHEN dot > 0 THEN CAST(pow(2, p % 4) AS BIGINT)
       |             ELSE 0 END) AS BIGINT) AS bucket
       |  FROM dots GROUP BY vec_id, band),
       |${Planes.cappedSkCteSql(4096)},
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM skb a JOIN skb b ON a.band = b.band AND a.bucket = b.bucket
       |    AND a.sub = b.sub
       |  WHERE a.vec_id % 2 = 0 AND b.vec_id % 2 = 1),
       |sc AS (
       |  SELECT id_a, id_b,
       |    ${cosineSql("ea.embedding", "eb.embedding")} AS cosine
       |  FROM cand
       |  JOIN embeddings ea ON ea.vec_id = cand.id_a
       |  JOIN embeddings eb ON eb.vec_id = cand.id_b),
       |ab AS (SELECT id_a, id_b, cosine FROM (
       |  SELECT id_a, id_b, cosine,
       |    ROW_NUMBER() OVER (PARTITION BY id_a
       |      ORDER BY cosine DESC, id_b) AS r
       |  FROM sc) WHERE r = 1),
       |ba AS (SELECT id_a, id_b FROM (
       |  SELECT id_a, id_b,
       |    ROW_NUMBER() OVER (PARTITION BY id_b
       |      ORDER BY cosine DESC, id_a) AS r
       |  FROM sc) WHERE r = 1)
       |SELECT ab.id_a, ab.id_b,
       |  floor(ab.cosine * 1e6 + 0.5) / 1e6 AS cos6
       |FROM ab JOIN ba ON ba.id_a = ab.id_a AND ba.id_b = ab.id_b
       |ORDER BY ab.id_a""".stripMargin)

  /** Winsorized mean of price cents per return flag (α = 10%) —
    * clipped boundary masses replayed on the same distinct-value
    * spine as the x139 trimmed mean. */
  private val x153: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      Profile.winsorizedMean(t(s, d, "lineitem"), "l_returnflag",
          floor($"l_extendedprice" * 100 + 0.5).cast("long"),
          alphaPpm = 100000L)
        .select($"l_returnflag", $"n", $"n_clipped_each",
          $"sum_winsorized".cast("long").as("sum_winsorized"),
          $"mean_floor")
        .orderBy($"l_returnflag")
    },
    """WITH b AS (SELECT l_returnflag AS g,
      |             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS v
      |           FROM lineitem),
      |byv AS (SELECT g, v, COUNT(*)::BIGINT AS cnt FROM b GROUP BY 1, 2),
      |cum AS (SELECT g, v, cnt,
      |          SUM(cnt) OVER (PARTITION BY g ORDER BY v)::BIGINT AS cm
      |        FROM byv),
      |kk AS (SELECT g, SUM(cnt)::BIGINT AS n,
      |         (SUM(cnt) * 100000) // 1000000 AS k
      |       FROM byv GROUP BY g),
      |m AS (SELECT cum.g, cum.v, kk.n, kk.k,
      |        GREATEST(0, LEAST(cum.cm, kk.n - kk.k)
      |          - GREATEST(cum.cm - cum.cnt, kk.k)) AS kp,
      |        CASE WHEN cum.cm - cum.cnt < kk.k + 1
      |             AND cum.cm >= kk.k + 1 THEN kk.k ELSE 0 END AS lom,
      |        CASE WHEN cum.cm - cum.cnt < kk.n - kk.k
      |             AND cum.cm >= kk.n - kk.k THEN kk.k ELSE 0 END AS him
      |      FROM cum JOIN kk ON kk.g = cum.g)
      |SELECT g AS l_returnflag, MIN(n)::BIGINT AS n,
      |  MIN(k)::BIGINT AS n_clipped_each,
      |  SUM((kp + lom + him) * v)::BIGINT AS sum_winsorized,
      |  (SUM((kp + lom + him) * v) // MIN(n))::BIGINT AS mean_floor
      |FROM m GROUP BY g ORDER BY g""".stripMargin)

  /** Language-mixing segmentation over 8-token chunks with the x08
    * marker lexicons (3 languages → the oracle's first-wins CASE
    * chain mirrors langId's argmax exactly). */
  private val x154: (Fn, String) = {
    val mk = Seq("en" -> Seq("the", "a"), "de" -> Seq("table", "row"),
      "fr" -> Seq("value", "data"))
    def sc(ws: Seq[String]) =
      s"len(list_filter(tk[(i*8+1):(i*8+8)], t -> t IN (${
        ws.map(w => s"'$w'").mkString(", ")})))"
    val (en, de, fr) = (sc(mk(0)._2), sc(mk(1)._2), sc(mk(2)._2))
    ((s, d) => {
      import s.implicits._
      t(s, d, "documents")
        .select($"doc_id",
          TextAnalysis.langSegments($"text", chunkTokens = 8, mk).as("ls"))
        .select($"doc_id", $"ls.*")
        .orderBy($"doc_id")
    },
    s"""WITH base AS (SELECT doc_id, string_split(text, ' ') AS tk,
       |  greatest((len(string_split(text, ' ')) + 7) // 8, 1) AS nch
       |  FROM documents),
       |lg AS (SELECT doc_id, nch,
       |  list_transform(range(0, nch), i ->
       |    CASE WHEN $en >= $de AND $en >= $fr THEN 'en'
       |         WHEN $de >= $fr THEN 'de' ELSE 'fr' END) AS lgs
       |  FROM base),
       |seg AS (SELECT doc_id, nch, lgs,
       |  CASE WHEN nch = 1 THEN 1
       |       ELSE 1 + len(list_filter(range(2, nch + 1),
       |         i -> lgs[i] <> lgs[i-1])) END AS n_segments,
       |  list_sort(list_distinct(lgs)) AS dls FROM lg),
       |mj AS (SELECT doc_id, nch, n_segments, dls, lgs,
       |  list_transform(dls, l -> len(list_filter(lgs, x -> x = l)))
       |    AS cnts FROM seg)
       |SELECT doc_id, nch::BIGINT AS n_chunks,
       |  n_segments::BIGINT AS n_segments,
       |  dls[list_position(cnts, list_max(cnts))] AS majority_lang,
       |  (list_max(cnts)::BIGINT * 1000000) // nch AS majority_ppm
       |FROM mj ORDER BY doc_id""".stripMargin)
  }

  /** Watermark lateness profile under a deterministic hash-jittered
    * arrival order (the driver data arrives perfectly sorted, so the
    * gate synthesizes up-to-2h network delay: arrival = event time +
    * 9-hex-digit md5 draw mod 7.2·10⁹ µs) — the log₂ lateness
    * histogram that picks `withWatermark`. */
  private val x155: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      val jitter = pmod(
        conv(substring(md5(concat(lit("lat:"),
          $"event_id".cast("string")).cast("binary")), 1, 9), 16, 10)
          .cast("long"),
        lit(7200000000L))
      val arr = t(s, d, "events")
        .withColumn("arr", unix_micros($"ts".cast("timestamp")) + jitter)
      Temporal.latenessProfile(arr, "user_id", "ts", "arr")
        .orderBy($"bucket")
    },
    s"""WITH e AS (SELECT user_id, epoch_us(ts) AS us,
       |  epoch_us(ts) + ${hexSql("md5('lat:' || CAST(event_id AS VARCHAR))", 9)}
       |    % 7200000000 AS arr
       |  FROM events),
       |r AS (SELECT us, MAX(us) OVER (PARTITION BY user_id ORDER BY arr
       |        ROWS UNBOUNDED PRECEDING) - us AS late FROM e)
       |SELECT (CASE WHEN late = 0 THEN -1
       |         ELSE length(bin(late)) - 1 END)::BIGINT AS bucket,
       |  COUNT(*)::BIGINT AS n, MAX(late)::BIGINT AS max_late_us
       |FROM r GROUP BY 1 ORDER BY bucket""".stripMargin)

  /** Golden-record survivorship over synthetic customer clusters —
    * per (cluster, field) majority vote with lexicographic ties. */
  private val x156: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      Fuzzy.goldenRecord(
          t(s, d, "customer").withColumn("cl", pmod($"c_custkey", lit(300))),
          "cl", Seq("c_mktsegment", "c_nationkey"))
        .orderBy($"cluster", $"field")
    },
    """WITH m AS (
      |  SELECT c_custkey % 300 AS cluster, 'c_mktsegment' AS field,
      |    c_mktsegment AS value FROM customer
      |  WHERE c_mktsegment IS NOT NULL
      |  UNION ALL
      |  SELECT c_custkey % 300, 'c_nationkey',
      |    CAST(c_nationkey AS VARCHAR) FROM customer
      |  WHERE c_nationkey IS NOT NULL),
      |c AS (SELECT cluster, field, value, COUNT(*)::BIGINT AS cnt
      |      FROM m GROUP BY 1, 2, 3),
      |r AS (SELECT cluster, field, value, cnt,
      |        ROW_NUMBER() OVER (PARTITION BY cluster, field
      |          ORDER BY cnt DESC, value) AS rk,
      |        COUNT(*) OVER (PARTITION BY cluster, field) AS nv,
      |        SUM(cnt) OVER (PARTITION BY cluster, field) AS nn
      |      FROM c)
      |SELECT cluster, field, value AS golden_value, cnt AS votes,
      |  nv::BIGINT AS n_variants, nn::BIGINT AS n_nonnull
      |FROM r WHERE rk = 1 ORDER BY cluster, field""".stripMargin)

  /** JSON key census over a payload synthesized with conditional
    * keys (to_json drops nulls, so presence varies per row) — the
    * oracle computes the identical profile from the source columns. */
  private val x157: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      val js = t(s, d, "events").select(to_json(struct(
        $"event_type",
        when($"value" > 50, $"user_id").as("heavy_user"),
        get_json_object($"props", "$.k").cast("long").as("k"))).as("j"))
      Profile.jsonKeyProfile(js, $"j").orderBy($"key")
    },
    """WITH src AS (SELECT event_type,
      |    CASE WHEN value > 50 THEN user_id END AS heavy_user,
      |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      |  FROM events),
      |m AS (
      |  SELECT 'event_type' AS key, event_type AS value FROM src
      |  WHERE event_type IS NOT NULL
      |  UNION ALL
      |  SELECT 'heavy_user', CAST(heavy_user AS VARCHAR) FROM src
      |  WHERE heavy_user IS NOT NULL
      |  UNION ALL
      |  SELECT 'k', CAST(k AS VARCHAR) FROM src WHERE k IS NOT NULL)
      |SELECT key, COUNT(*)::BIGINT AS n_present,
      |  COUNT(DISTINCT value)::BIGINT AS n_distinct_values
      |FROM m GROUP BY key ORDER BY key""".stripMargin)

  /** k-NN label disagreement over the first 500 embeddings (k = 10)
    * — the noisy-label pruning signal, run on THE BANDED 100 TB PATH
    * (deterministic hyperplane LSH self-candidates, corpus never
    * broadcast). The oracle replays the md5-plane banding and the
    * top-k-over-candidates window, so the LSH-kNN output is identical
    * by construction. Recall vs exact is gated separately by x170. */
  private val x158: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      Similarity.knnLabelDisagreement(
          t(s, d, "embeddings").filter($"vec_id" < 500),
          "vec_id", "embedding", "label", k = 10,
          bands = 16, bitsPerBand = 4, dim = 64)
        .orderBy($"id")
    },
    s"""WITH e AS (SELECT vec_id, embedding, label FROM embeddings
       |           WHERE vec_id < 500),
       |${Planes.planesCteSql(64, 64)},
       |${Planes.dotsCteSql("e", "vec_id", "embedding", 64)},
       |sk AS (
       |  SELECT vec_id, p // 4 AS band,
       |    CAST(SUM(CASE WHEN dot > 0 THEN CAST(pow(2, p % 4) AS BIGINT)
       |             ELSE 0 END) AS BIGINT) AS bucket
       |  FROM dots GROUP BY vec_id, band),
       |${Planes.cappedSkCteSql(4096)},
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM skb a JOIN skb b ON a.band = b.band AND a.bucket = b.bucket
       |    AND a.sub = b.sub AND a.vec_id <> b.vec_id),
       |nn AS (SELECT q, qlab, nlab FROM (
       |  SELECT cand.id_a AS q, ea.label AS qlab, eb.label AS nlab,
       |    ROW_NUMBER() OVER (PARTITION BY cand.id_a ORDER BY
       |      ${cosineSql("ea.embedding", "eb.embedding")} DESC, cand.id_b)
       |      AS r
       |  FROM cand
       |  JOIN e ea ON ea.vec_id = cand.id_a
       |  JOIN e eb ON eb.vec_id = cand.id_b) WHERE r <= 10)
       |SELECT q AS id, MIN(qlab) AS label, COUNT(*)::BIGINT AS k_used,
       |  SUM(CASE WHEN qlab = nlab THEN 0 ELSE 1 END)::BIGINT
       |    AS n_disagree,
       |  ((SUM(CASE WHEN qlab = nlab THEN 0 ELSE 1 END) * 1000000)
       |    // COUNT(*))::BIGINT AS disagree_ppm
       |FROM nn GROUP BY q ORDER BY id""".stripMargin)

  /** OOV-rate curve at four vocabulary budgets — the engine computes
    * coverage from the count spectrum alone; the oracle ranks terms
    * directly. Identical by the tie-sharing argument (all terms in a
    * count band contribute the same mass). */
  private val x159: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      TextAnalysis.oovCurve(t(s, d, "documents"), "text",
          Seq(10L, 100L, 1000L, 10000L))
        .orderBy($"vocab_size")
    },
    """WITH wc AS (SELECT term, COUNT(*)::BIGINT AS cnt FROM
      |             (SELECT unnest(string_split(text, ' ')) AS term
      |              FROM documents)
      |           WHERE len(term) > 0 GROUP BY term),
      |rk AS (SELECT cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, term)
      |         AS r FROM wc),
      |tot AS (SELECT SUM(cnt)::BIGINT AS total,
      |          COUNT(*)::BIGINT AS n_terms FROM wc),
      |vs(v) AS (VALUES (10), (100), (1000), (10000)),
      |cov AS (SELECT v, COALESCE(SUM(cnt), 0)::BIGINT AS covered
      |        FROM vs LEFT JOIN rk ON rk.r <= vs.v GROUP BY v)
      |SELECT v::BIGINT AS vocab_size,
      |  LEAST(tot.n_terms, v)::BIGINT AS n_kept_terms,
      |  cov.covered AS covered_tokens, tot.total AS total_tokens,
      |  (((tot.total - cov.covered) * 1000000) // tot.total)::BIGINT
      |    AS oov_ppm
      |FROM cov, tot ORDER BY vocab_size""".stripMargin)

  /** Point-in-time feature join over synthetic SCD2 versions (each
    * customer's orders become validity windows; facts probe 15 days
    * after each order) — exactly one non-empty window matches. */
  private val x160: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
      val o = t(s, d, "orders").filter($"o_custkey" < 500)
        .select($"o_orderkey", $"o_custkey",
          $"o_orderdate".cast("date").as("o_orderdate"),
          ($"o_totalprice".cast("decimal(18,2)") * 100).cast("long")
            .as("cents"))
      val dims = o.select($"o_custkey".as("k"),
        $"o_orderdate".as("valid_from"),
        lead($"o_orderdate", 1).over(w).as("valid_to"),
        $"cents".as("feature_cents"))
      val facts = o.select($"o_orderkey".as("fid"), $"o_custkey".as("fk"),
        date_add($"o_orderdate", 15).as("fact_date"))
      Temporal.pointInTimeJoin(facts, "fk", "fact_date", dims, "k",
          "valid_from", "valid_to")
        .select($"fid", $"fk".as("custkey"), $"fact_date", $"valid_from",
          $"feature_cents")
        .orderBy($"fid")
    },
    """WITH o AS (SELECT o_orderkey, o_custkey, o_orderdate,
      |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      AS cents
      |  FROM orders WHERE o_custkey < 500),
      |v AS (SELECT o_custkey AS k, CAST(o_orderdate AS DATE) AS valid_from,
      |        CAST(LEAD(o_orderdate) OVER (PARTITION BY o_custkey
      |          ORDER BY o_orderdate, o_orderkey) AS DATE) AS valid_to,
      |        cents AS feature_cents
      |      FROM o),
      |f AS (SELECT o_orderkey AS fid, o_custkey AS fk,
      |        CAST(o_orderdate AS DATE) + 15 AS fact_date FROM o)
      |SELECT f.fid, f.fk AS custkey, f.fact_date, v.valid_from,
      |  v.feature_cents
      |FROM f LEFT JOIN v ON v.k = f.fk AND f.fact_date >= v.valid_from
      |  AND (v.valid_to IS NULL OR f.fact_date < v.valid_to)
      |ORDER BY f.fid""".stripMargin)

  /** Per-user sequence surprisal under the corpus transition model —
    * the behavioural anomaly score. */
  private val x161: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      Temporal.sequenceSurprisal(t(s, d, "events"), "user_id", "ts",
          "event_type", "event_id")
        .orderBy($"user_id")
    },
    """WITH o AS (SELECT user_id, event_type,
      |             LAG(event_type) OVER (PARTITION BY user_id
      |               ORDER BY ts, event_id) AS from_type
      |           FROM events),
      |tr AS (SELECT user_id, from_type, event_type AS to_type FROM o
      |       WHERE from_type IS NOT NULL),
      |tc AS (SELECT from_type, to_type, COUNT(*)::BIGINT AS c
      |       FROM tr GROUP BY 1, 2),
      |st AS (SELECT from_type, SUM(c)::BIGINT AS s FROM tc GROUP BY 1)
      |SELECT tr.user_id, COUNT(*)::BIGINT AS n_transitions,
      |  SUM(length(bin(st.s // tc.c)) - 1)::BIGINT AS bits_sum,
      |  ((SUM(length(bin(st.s // tc.c)) - 1) * 1000000)
      |    // COUNT(*))::BIGINT AS surprisal_ppm
      |FROM tr JOIN tc USING (from_type, to_type)
      |  JOIN st USING (from_type)
      |GROUP BY tr.user_id ORDER BY tr.user_id""".stripMargin)

  /** Embedding isotropy (mean-offset energy share) in the int8
    * domain — one exact number from the Gram statistics. */
  private val x162: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      Similarity.embeddingIsotropy(t(s, d, "embeddings"), "embedding",
          dims = 64)
        .select($"n", $"norm_sum_sq".cast("long").as("norm_sum_sq"),
          $"trace".cast("long").as("trace"), $"mean_offset_ppm")
    },
    """WITH m AS (
      |  SELECT embedding,
      |    list_max(list_transform(embedding,
      |      x -> abs(CAST(x AS DOUBLE)))) AS maxabs
      |  FROM embeddings),
      |q AS (
      |  SELECT CASE WHEN maxabs = 0
      |    THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
      |    ELSE list_transform(embedding,
      |      x -> CAST(greatest(-127.0, least(127.0,
      |        floor(CAST(x AS DOUBLE) * (127.0 / maxabs) + 0.5)))
      |        AS BIGINT)) END AS qv
      |  FROM m),
      |sums AS (SELECT i.range AS i, SUM(qv[i.range + 1])::HUGEINT AS s
      |         FROM q, range(0, 64) i GROUP BY i.range),
      |agg AS (SELECT (SELECT COUNT(*)::HUGEINT FROM q) AS n,
      |          (SELECT SUM(s * s) FROM sums) AS nss,
      |          (SELECT SUM(x * x)::HUGEINT FROM
      |            (SELECT unnest(qv) AS x FROM q)) AS tr)
      |SELECT n::BIGINT AS n, nss::BIGINT AS norm_sum_sq,
      |  tr::BIGINT AS trace,
      |  ((nss * 1000000) // (n * tr))::BIGINT AS mean_offset_ppm
      |FROM agg""".stripMargin)

  /** RAG context assembly: deterministic pseudo-retriever hits
    * ((doc_id + idx) % 7 < 3 over each doc's 8-token chunk grid)
    * merged into spans bridging ≤ 1 missing chunk. */
  private val x163: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents").select($"doc_id",
          size(split($"text", " ")).as("nt"))
        .withColumn("nch",
          greatest((($"nt" + 7) / 8).cast("int"), lit(1)))
      val hits = docs
        .select($"doc_id", explode(sequence(lit(0), $"nch" - 1)).as("idx"),
          $"nch", $"nt")
        .filter(pmod($"doc_id" + $"idx", lit(7)) < 3)
        .withColumn("ctoks", when($"idx" < $"nch" - 1, 8L)
          .otherwise($"nt" - ($"nch" - 1) * 8))
      Chunk.mergeRetrievedChunks(hits, "doc_id", "idx", "ctoks",
          maxGap = 1)
        .orderBy($"doc", $"span_start")
    },
    """WITH d AS (SELECT doc_id, len(string_split(text, ' ')) AS nt,
      |    greatest((len(string_split(text, ' ')) + 7) // 8, 1) AS nch
      |  FROM documents),
      |h AS (SELECT doc_id, unnest(range(0, nch)) AS idx, nch, nt FROM d),
      |hf AS (SELECT doc_id, idx,
      |    CASE WHEN idx < nch - 1 THEN 8 ELSE nt - (nch - 1) * 8 END
      |      AS ctoks
      |  FROM h WHERE (doc_id + idx) % 7 < 3),
      |lg AS (SELECT doc_id, idx, ctoks,
      |    LAG(idx) OVER (PARTITION BY doc_id ORDER BY idx) AS prev
      |  FROM hf),
      |isl AS (SELECT doc_id, idx, ctoks,
      |    SUM(CASE WHEN prev IS NULL OR idx - prev > 2 THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY doc_id ORDER BY idx
      |        ROWS UNBOUNDED PRECEDING) AS g
      |  FROM lg)
      |SELECT doc_id AS doc, MIN(idx)::BIGINT AS span_start,
      |  MAX(idx)::BIGINT AS span_end, COUNT(*)::BIGINT AS n_hits,
      |  SUM(ctoks)::BIGINT AS span_tokens
      |FROM isl GROUP BY doc_id, g ORDER BY doc, span_start""".stripMargin)

  /** Majority-vote label merge over three deterministic noisy
    * labelers (one flips a stratum, one abstains on a stratum),
    * quorum 60%. */
  private val x164: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      t(s, d, "events").select($"event_id",
          Eval.majorityVote(Seq(
            $"event_type",
            when(pmod($"user_id", lit(5)) === 0, lit("purchase"))
              .otherwise($"event_type"),
            when(pmod($"event_id", lit(11)) === 0,
              lit(null).cast("string")).otherwise($"event_type")),
            quorumPpm = 600000L).as("mv"))
        .select($"event_id", $"mv.*")
        .orderBy($"event_id")
    },
    """WITH v AS (SELECT event_id,
      |    [x FOR x IN [event_type,
      |       CASE WHEN user_id % 5 = 0 THEN 'purchase'
      |            ELSE event_type END,
      |       CASE WHEN event_id % 11 = 0 THEN NULL
      |            ELSE event_type END]
      |     IF x IS NOT NULL] AS l
      |  FROM events),
      |s AS (SELECT event_id, l, list_sort(list_distinct(l)) AS dts
      |      FROM v),
      |c AS (SELECT event_id, l, dts,
      |    list_transform(dts, y -> len(list_filter(l, x -> x = y)))
      |      AS cnts
      |  FROM s)
      |SELECT event_id, len(l)::BIGINT AS n_votes,
      |  dts[list_position(cnts, list_max(cnts))] AS winner,
      |  (list_max(cnts)::BIGINT * 1000000 // len(l))::BIGINT
      |    AS share_ppm,
      |  CASE WHEN len(l) > 0
      |        AND list_max(cnts) * 1000000 // len(l) >= 600000
      |       THEN dts[list_position(cnts, list_max(cnts))] END AS label
      |FROM c ORDER BY event_id""".stripMargin)

  /** End-to-end curation pipeline gate — Gopher quality filter →
    * exact-dedup keep-first → stratified hash sample → per-language
    * audit. One composed lazy plan; the oracle replays every stage,
    * so a drift ANYWHERE in the chain turns the row red. */
  private val x165: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      val flagged = t(s, d, "documents").filter(
        TextAnalysis.gopherFlags($"text", Seq("the", "a"),
          minTokens = 20L).getField("pass_all"))
      val dig = flagged.select($"doc_id", $"lang", $"text",
        md5($"text".cast("binary")).as("digest"))
      val keep = dig.groupBy($"digest").agg(min($"doc_id").as("doc_id"))
      val deduped = dig.join(keep, Seq("digest", "doc_id"))
      val sampled = Sampling.stratifiedSample(deduped, "lang", "doc_id",
        Map("en" -> 0.5, "de" -> 0.5, "fr" -> 0.5, "es" -> 0.5),
        salt = "pipe5")
      sampled.groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"), sum($"doc_id").as("sum_ids"),
          sum(size(split($"text", " ")).cast("long")).as("n_tokens"))
        .orderBy($"lang")
    },
    s"""WITH f AS (
       |  SELECT doc_id, lang, text,
       |    len(string_split(text, ' ')) AS n,
       |    len(list_distinct(string_split(text, ' '))) AS nd,
       |    len(list_filter(string_split(text, ' '),
       |      t -> t = 'the' OR t = 'a')) AS stop,
       |    length(text) AS chars
       |  FROM documents),
       |p AS (SELECT doc_id, lang, text FROM f
       |      WHERE n BETWEEN 20 AND 100000
       |        AND chars - n + 1 >= 3 * n AND chars - n + 1 <= 10 * n
       |        AND stop * 20 >= n AND nd * 2 >= n),
       |dg AS (SELECT doc_id, lang, text, md5(text) AS digest FROM p),
       |kp AS (SELECT digest, MIN(doc_id) AS doc_id FROM dg
       |       GROUP BY digest),
       |dd AS (SELECT dg.doc_id, dg.lang, dg.text FROM dg
       |       JOIN kp ON kp.digest = dg.digest
       |              AND kp.doc_id = dg.doc_id),
       |sm AS (SELECT * FROM dd
       |       WHERE lang IN ('en', 'de', 'fr', 'es') -- unmapped strata drop
       |         AND ${bucketSql("doc_id", "pipe5", 0)} < 128)
       |SELECT lang, COUNT(*)::BIGINT AS n_docs,
       |  SUM(doc_id)::BIGINT AS sum_ids,
       |  SUM(len(string_split(text, ' ')))::BIGINT AS n_tokens
       |FROM sm GROUP BY lang ORDER BY lang""".stripMargin)

  /** Mann–Kendall monotone-trend statistic per event type over the
    * hourly value series — exact S and tie-corrected var18. */
  private val x166: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      Temporal.mannKendall(t(s, d, "events"), "event_type", "ts",
          $"value")
        .orderBy($"event_type")
    },
    """WITH h AS (SELECT event_type AS k, date_trunc('hour', ts) AS hh,
      |    SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
      |      ::BIGINT AS v
      |  FROM events GROUP BY 1, 2),
      |p AS (SELECT a.k,
      |        CASE WHEN b.v > a.v THEN 1
      |             WHEN b.v < a.v THEN -1 ELSE 0 END AS sg
      |      FROM h a JOIN h b ON a.k = b.k AND a.hh < b.hh),
      |sp AS (SELECT k, COUNT(*)::BIGINT AS n_pairs,
      |         SUM(sg)::BIGINT AS s_stat FROM p GROUP BY k),
      |nn AS (SELECT k, COUNT(*)::BIGINT AS n FROM h GROUP BY k),
      |tt AS (SELECT k, SUM(t * (t - 1) * (2 * t + 5))::BIGINT AS tie18
      |       FROM (SELECT k, v, COUNT(*)::BIGINT AS t FROM h
      |             GROUP BY k, v) GROUP BY k)
      |SELECT nn.k AS event_type, nn.n,
      |  COALESCE(sp.n_pairs, 0)::BIGINT AS n_pairs,
      |  COALESCE(sp.s_stat, 0)::BIGINT AS s_stat,
      |  (nn.n * (nn.n - 1) * (2 * nn.n + 5) - tt.tie18)::BIGINT
      |    AS var18
      |FROM nn LEFT JOIN sp ON sp.k = nn.k JOIN tt ON tt.k = nn.k
      |ORDER BY event_type""".stripMargin)

  /** Theil–Sen robust slope per event type — the lower-median
    * pairwise slope in exact cents-per-hour fractions. */
  private val x167: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      Temporal.theilSen(t(s, d, "events"), "event_type", "ts", $"value")
        .orderBy($"event_type")
    },
    """WITH h AS (SELECT event_type AS k,
      |    epoch_us(date_trunc('hour', ts)) // 3600000000 AS e,
      |    SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
      |      ::BIGINT AS v
      |  FROM events GROUP BY 1, 2),
      |-- span cap mirror: stride s = ceil(span / 4096); inert (s = 1,
      |-- identity re-bucket) when the key's hour span fits the cap
      |sp AS (SELECT k, MIN(e) AS e0,
      |        (MAX(e) - MIN(e) + 4096) // 4096 AS s
      |      FROM h GROUP BY k),
      |c AS (SELECT h.k AS k, sp.s AS s,
      |        (h.e - sp.e0) // sp.s AS ce, SUM(h.v)::BIGINT AS v
      |      FROM h JOIN sp ON sp.k = h.k GROUP BY 1, 2, 3),
      |p AS (SELECT a.k, (b.v - a.v)::BIGINT AS num,
      |        ((b.ce - a.ce) * a.s)::BIGINT AS den
      |      FROM c a JOIN c b ON a.k = b.k AND a.ce < b.ce),
      |r AS (SELECT k, num, den,
      |        ROW_NUMBER() OVER (PARTITION BY k ORDER BY
      |          CAST(num AS DOUBLE) / den, num, den) AS rn,
      |        COUNT(*) OVER (PARTITION BY k) AS m
      |      FROM p)
      |SELECT k AS event_type, m::BIGINT AS n_pairs, num AS med_num,
      |  den AS med_den, (num * 1000 // den)::BIGINT AS slope_milli
      |FROM r WHERE rn = (m + 1) // 2 ORDER BY event_type""".stripMargin)

  /** Interval-set overlap per customer: 30-day windows from each
    * order vs the same windows shifted 15 days — exact overlapping
    * days from the boundary sweep, no pair join. */
  private val x168: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      val o = t(s, d, "orders").filter($"o_custkey" < 300)
        .select($"o_custkey".as("k"),
          datediff($"o_orderdate".cast("date"),
            lit("1970-01-01").cast("date")).cast("long").as("d0"))
      val a = o.select($"k", $"d0".as("ivl_from"),
        ($"d0" + 30).as("ivl_to"))
      val b = o.select($"k", ($"d0" + 15).as("ivl_from"),
        ($"d0" + 45).as("ivl_to"))
      Temporal.intervalOverlap(a, b, "k", "ivl_from", "ivl_to")
        .orderBy($"k")
    },
    """WITH o AS (SELECT o_custkey AS k,
      |    (CAST(o_orderdate AS DATE) - DATE '1970-01-01')::BIGINT AS d0
      |  FROM orders WHERE o_custkey < 300),
      |bounds AS (
      |  SELECT k, d0 AS t, 1 AS da, 0 AS db FROM o
      |  UNION ALL SELECT k, d0 + 30, -1, 0 FROM o
      |  UNION ALL SELECT k, d0 + 15, 0, 1 FROM o
      |  UNION ALL SELECT k, d0 + 45, 0, -1 FROM o),
      |g AS (SELECT k, t, SUM(da)::BIGINT AS da, SUM(db)::BIGINT AS db
      |      FROM bounds GROUP BY k, t),
      |r AS (SELECT k, t,
      |        SUM(da) OVER (PARTITION BY k ORDER BY t
      |          ROWS UNBOUNDED PRECEDING) AS ca,
      |        SUM(db) OVER (PARTITION BY k ORDER BY t
      |          ROWS UNBOUNDED PRECEDING) AS cb,
      |        LEAD(t) OVER (PARTITION BY k ORDER BY t) AS nxt
      |      FROM g)
      |SELECT k, SUM(nxt - t)::BIGINT AS overlap_units,
      |  COUNT(*)::BIGINT AS n_segments
      |FROM r WHERE nxt IS NOT NULL AND ca > 0 AND cb > 0
      |GROUP BY k ORDER BY k""".stripMargin)

  /** Self-verifying recall audit for the banded mutual-NN miner
    * (x152's scale path): the exact brute-force mutual pairs are the
    * ground truth, the banded pairs the candidate under test; the
    * oracle recomputes BOTH sides, so a Spark banding bug turns the
    * row red and the recall value itself is engine-verified. Runs on
    * the 500-vector fixture slice (the exact side is O(n²) by
    * definition — audit-only). */
  private val x169: (Sizing => Fn, String) = (
    z => (s, d) => {
      import s.implicits._
      // bench runs audit a deterministic sub-corpus (paired
      // comparison, see mutualBandingAudit); the gate always runs
      // exhaustive (the property is unset under Verify)
      val bits = z.truthSampleBits
      val emb = t(s, d, "embeddings").filter($"vec_id" < 500)
      Similarity.mutualBandingAudit(
          emb.filter(pmod($"vec_id", lit(2)) === 0), "vec_id", "embedding",
          emb.filter(pmod($"vec_id", lit(2)) === 1), "vec_id", "embedding",
          bands = 16, bitsPerBand = 4, dim = 64, docSampleBits = bits)
    },
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings
       |           WHERE vec_id < 500),
       |ha AS (SELECT * FROM e WHERE vec_id % 2 = 0),
       |hb AS (SELECT * FROM e WHERE vec_id % 2 = 1),
       |xab AS (SELECT id_a, id_b FROM (
       |  SELECT ha.vec_id AS id_a, hb.vec_id AS id_b,
       |    ROW_NUMBER() OVER (PARTITION BY ha.vec_id ORDER BY
       |      ${cosineSql("ha.embedding", "hb.embedding")} DESC, hb.vec_id)
       |      AS r
       |  FROM ha, hb) WHERE r = 1),
       |xba AS (SELECT id_a, id_b FROM (
       |  SELECT hb.vec_id AS id_b, ha.vec_id AS id_a,
       |    ROW_NUMBER() OVER (PARTITION BY hb.vec_id ORDER BY
       |      ${cosineSql("hb.embedding", "ha.embedding")} DESC, ha.vec_id)
       |      AS r
       |  FROM ha, hb) WHERE r = 1),
       |xm AS (SELECT xab.id_a, xab.id_b FROM xab
       |       JOIN xba ON xba.id_a = xab.id_a AND xba.id_b = xab.id_b),
       |${Planes.planesCteSql(64, 64)},
       |${Planes.dotsCteSql("e", "vec_id", "embedding", 64)},
       |sk AS (
       |  SELECT vec_id, p // 4 AS band,
       |    CAST(SUM(CASE WHEN dot > 0 THEN CAST(pow(2, p % 4) AS BIGINT)
       |             ELSE 0 END) AS BIGINT) AS bucket
       |  FROM dots GROUP BY vec_id, band),
       |${Planes.cappedSkCteSql(4096)},
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM skb a JOIN skb b ON a.band = b.band AND a.bucket = b.bucket
       |    AND a.sub = b.sub
       |  WHERE a.vec_id % 2 = 0 AND b.vec_id % 2 = 1),
       |sc AS (
       |  SELECT id_a, id_b,
       |    ${cosineSql("ea.embedding", "eb.embedding")} AS cosine
       |  FROM cand
       |  JOIN e ea ON ea.vec_id = cand.id_a
       |  JOIN e eb ON eb.vec_id = cand.id_b),
       |bab AS (SELECT id_a, id_b FROM (
       |  SELECT id_a, id_b,
       |    ROW_NUMBER() OVER (PARTITION BY id_a
       |      ORDER BY cosine DESC, id_b) AS r
       |  FROM sc) WHERE r = 1),
       |bba AS (SELECT id_a, id_b FROM (
       |  SELECT id_a, id_b,
       |    ROW_NUMBER() OVER (PARTITION BY id_b
       |      ORDER BY cosine DESC, id_a) AS r
       |  FROM sc) WHERE r = 1),
       |bm AS (SELECT bab.id_a, bab.id_b FROM bab
       |       JOIN bba ON bba.id_a = bab.id_a AND bba.id_b = bab.id_b),
       |hits AS (SELECT COUNT(*)::BIGINT AS h FROM xm
       |         JOIN bm ON bm.id_a = xm.id_a AND bm.id_b = xm.id_b)
       |SELECT (SELECT COUNT(*) FROM xm)::BIGINT AS n_exact,
       |  (SELECT COUNT(*) FROM bm)::BIGINT AS n_banded,
       |  hits.h AS n_hits,
       |  ((hits.h * 1000000) // (SELECT COUNT(*) FROM xm))::BIGINT
       |    AS recall_ppm
       |FROM hits""".stripMargin)

  /** Self-verifying recall audit for the banded k-NN path (x158's
    * scale path): exact brute-force top-k neighbour pairs vs the
    * banded top-k pairs on the 500-vector fixture slice, every
    * number oracle-recomputed. */
  private val x170: (Sizing => Fn, String) = (
    z => (s, d) => {
      import s.implicits._
      // bench runs sample the QUERY side (unbiased full-corpus
      // recall, see knnBandingAudit); the gate always runs exhaustive
      val bits = z.truthSampleBits
      Similarity.knnBandingAudit(
          t(s, d, "embeddings").filter($"vec_id" < 500),
          "vec_id", "embedding", k = 10,
          bands = 16, bitsPerBand = 4, dim = 64, querySampleBits = bits)
    },
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings
       |           WHERE vec_id < 500),
       |xnn AS (SELECT q, nb FROM (
       |  SELECT a.vec_id AS q, b.vec_id AS nb,
       |    ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
       |      ${cosineSql("a.embedding", "b.embedding")} DESC, b.vec_id)
       |      AS r
       |  FROM e a JOIN e b ON a.vec_id <> b.vec_id) WHERE r <= 10),
       |${Planes.planesCteSql(64, 64)},
       |${Planes.dotsCteSql("e", "vec_id", "embedding", 64)},
       |sk AS (
       |  SELECT vec_id, p // 4 AS band,
       |    CAST(SUM(CASE WHEN dot > 0 THEN CAST(pow(2, p % 4) AS BIGINT)
       |             ELSE 0 END) AS BIGINT) AS bucket
       |  FROM dots GROUP BY vec_id, band),
       |${Planes.cappedSkCteSql(4096)},
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM skb a JOIN skb b ON a.band = b.band AND a.bucket = b.bucket
       |    AND a.sub = b.sub AND a.vec_id <> b.vec_id),
       |bnn AS (SELECT q, nb FROM (
       |  SELECT cand.id_a AS q, cand.id_b AS nb,
       |    ROW_NUMBER() OVER (PARTITION BY cand.id_a ORDER BY
       |      ${cosineSql("ea.embedding", "eb.embedding")} DESC, cand.id_b)
       |      AS r
       |  FROM cand
       |  JOIN e ea ON ea.vec_id = cand.id_a
       |  JOIN e eb ON eb.vec_id = cand.id_b) WHERE r <= 10),
       |hits AS (SELECT COUNT(*)::BIGINT AS h FROM xnn
       |         JOIN bnn ON bnn.q = xnn.q AND bnn.nb = xnn.nb)
       |SELECT (SELECT COUNT(*) FROM xnn)::BIGINT AS n_exact,
       |  (SELECT COUNT(*) FROM bnn)::BIGINT AS n_banded,
       |  hits.h AS n_hits,
       |  ((hits.h * 1000000) // (SELECT COUNT(*) FROM xnn))::BIGINT
       |    AS recall_ppm
       |FROM hits""".stripMargin)

  /** Per-interval concurrency WITHOUT pair enumeration: every event
    * opens a 60–300 s interval; the operator reports how many other
    * intervals each one overlaps via two global order statistics
    * (rank arithmetic over a boundary sweep) — the oracle recomputes
    * it as the naive theta-join count. */
  private val x171: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      val iv = t(s, d, "events").select($"event_id",
        unix_timestamp($"ts").as("ivl_from"),
        (unix_timestamp($"ts") + 60L + $"event_id" % 240).as("ivl_to"))
      Temporal.concurrentIntervals(iv, "event_id", "ivl_from", "ivl_to")
        .orderBy($"event_id")
    },
    """WITH iv AS (SELECT event_id,
      |    (epoch_us(ts) // 1000000)::BIGINT AS s,
      |    (epoch_us(ts) // 1000000)::BIGINT + 60 + (event_id % 240) AS e
      |  FROM events)
      |SELECT a.event_id, COUNT(b.event_id)::BIGINT AS n_overlapping
      |FROM iv a LEFT JOIN iv b
      |  ON b.s < a.e AND b.e > a.s AND b.event_id <> a.event_id
      |GROUP BY a.event_id ORDER BY a.event_id""".stripMargin)

  /** Shared int8-quantization CTE over `embeddings` (the x30
    * formula, list form). */
  private val q8Cte =
    """q8 AS (
      |  SELECT vec_id, label, CASE WHEN maxabs = 0
      |    THEN list_transform(embedding, x -> 0::BIGINT)
      |    ELSE list_transform(embedding,
      |      x -> CAST(greatest(-127.0, least(127.0,
      |        floor(CAST(x AS DOUBLE) * (127.0 / maxabs) + 0.5)))
      |        AS BIGINT)) END AS q
      |  FROM (SELECT vec_id, label, embedding,
      |          list_max(list_transform(embedding,
      |            x -> abs(CAST(x AS DOUBLE)))) AS maxabs
      |        FROM embeddings))""".stripMargin

  /** Product-quantization ANN with asymmetric distance: 8 subspaces ×
    * 16 codes from an md5-sampled codebook, corpus scanned as codes
    * only, per-query integer distance tables; the oracle replays the
    * identical quantize → sample → encode → reconstruct arithmetic. */
  private val x172: (Sizing => Fn, String) = (
    z => (s, d) => {
      import s.implicits._
      val emb = t(s, d, "embeddings")
      val cb = Similarity.pqCodebook(emb, "vec_id", "embedding",
        subspaces = 8, ksub = 16, dim = 64)
      Similarity.pqTopK(
          z.capPanel(emb.filter($"vec_id" % 97 === 0), "vec_id"),
          "vec_id", "embedding", emb, "vec_id", "embedding", cb, k = 10)
        .orderBy($"query_id", $"rank")
    },
    s"""WITH $q8Cte,
       |sel AS (SELECT vec_id, q,
       |    ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS code
       |  FROM (SELECT vec_id, q FROM q8
       |        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16)),
       |cb AS (SELECT ms.m, sel.code,
       |    list_slice(sel.q, ms.m * 8 + 1, ms.m * 8 + 8) AS cvec
       |  FROM sel, (SELECT unnest(range(8)) AS m) ms),
       |enc AS (SELECT vec_id, m, code FROM (
       |  SELECT c.vec_id, cb.m, cb.code,
       |    ROW_NUMBER() OVER (PARTITION BY c.vec_id, cb.m
       |      ORDER BY list_sum(list_transform(range(1, 9),
       |        i -> (c.q[cb.m * 8 + i] - cb.cvec[i])
       |           * (c.q[cb.m * 8 + i] - cb.cvec[i]))), cb.code) AS r
       |  FROM q8 c, cb) WHERE r = 1),
       |qs AS (SELECT vec_id, q FROM q8 WHERE vec_id % 97 = 0),
       |dist AS (
       |  SELECT qs.vec_id AS query_id, enc.vec_id AS corpus_id,
       |    SUM(list_sum(list_transform(range(1, 9),
       |      i -> (qs.q[enc.m * 8 + i] - cb.cvec[i])
       |         * (qs.q[enc.m * 8 + i] - cb.cvec[i]))))::BIGINT AS d2
       |  FROM qs, enc JOIN cb ON cb.m = enc.m AND cb.code = enc.code
       |  GROUP BY 1, 2)
       |SELECT query_id, r AS rank, corpus_id, d2 AS adc_d2 FROM (
       |  SELECT query_id, corpus_id, d2,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY d2, corpus_id) AS r
       |  FROM dist) WHERE r <= 10 ORDER BY query_id, rank""".stripMargin)

  /** Resource-allocation link prediction over the sparse 9973-bucket
    * modulo graph (997 is ~26%-dense at sf0.1 — avg deg 260 ⇒ 67M
    * wedges; 9973 keeps the wedge volume deg²-honest): top-100
    * suggested (non-adjacent) pairs by Σ ⌊10⁶/deg(w)⌋ over common
    * neighbors w. */
  private val x173: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      val edges = t(s, d, "orders").select(
        ($"o_custkey" % 9973).as("src"), ($"o_orderkey" % 9973).as("dst"))
      Graph.resourceAllocation(edges, "src", "dst")
        .orderBy($"ra_scaled".desc, $"u", $"v").limit(100)
    },
    """WITH raw AS (
      |  SELECT o_custkey % 9973 AS src, o_orderkey % 9973 AS dst FROM orders),
      |und AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
      |        FROM raw WHERE src <> dst),
      |dir AS (SELECT u AS w, v AS n FROM und UNION ALL SELECT v, u FROM und),
      |wp AS (SELECT w, (1000000 // COUNT(*))::BIGINT AS w_ppm
      |       FROM dir GROUP BY w HAVING COUNT(*) <= 10000),
      |adj AS (SELECT dir.w, dir.n, wp.w_ppm FROM dir JOIN wp USING (w)),
      |agg AS (SELECT a.n AS u, b.n AS v, SUM(a.w_ppm)::BIGINT AS ra_scaled,
      |          COUNT(*)::BIGINT AS n_common
      |        FROM adj a JOIN adj b ON a.w = b.w AND a.n < b.n
      |        GROUP BY 1, 2)
      |SELECT u, v, ra_scaled, n_common FROM agg
      |WHERE NOT EXISTS (SELECT 1 FROM und
      |                  WHERE und.u = agg.u AND und.v = agg.v)
      |ORDER BY ra_scaled DESC, u, v LIMIT 100""".stripMargin)

  /** NDCG@10 per query over a REAL ranking (brute-force cosine
    * top-20) against graded relevance (same-label docs, gain
    * 1 + id mod 3); the log₂ discounts are a shared integer literal
    * table on both engines, so the gate compares exact integers. */
  private val x174: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      val emb = t(s, d, "embeddings")
      val qs = emb.filter($"vec_id" % 97 === 0)
      val ranked = Similarity.bruteForceTopK(qs, "vec_id", "embedding",
        emb, "vec_id", "embedding", k = 20)
      val rels = qs.select($"vec_id".as("q"), $"label".as("ql"))
        .join(emb.select($"vec_id".as("dc"), $"label"),
          col("label") === col("ql") && col("dc") =!= col("q"))
        .select($"q", $"dc", (lit(1L) + $"dc" % 3).as("gain"))
      Eval.ndcgAtK(ranked, "query_id", "neighbour_id", "rank",
          rels, "q", "dc", "gain", k = 10)
        .orderBy($"query_id")
    },
    s"""WITH qs AS (SELECT vec_id, label, embedding FROM embeddings
       |            WHERE vec_id % 97 = 0),
       |ranked AS (SELECT q, nb, r FROM (
       |  SELECT a.vec_id AS q, b.vec_id AS nb,
       |    ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
       |      ${cosineSql("a.embedding", "b.embedding")} DESC, b.vec_id)
       |      AS r
       |  FROM qs a JOIN embeddings b ON a.vec_id <> b.vec_id)
       |  WHERE r <= 20),
       |rels AS (SELECT qs.vec_id AS q, e.vec_id AS dc,
       |    (1 + e.vec_id % 3)::BIGINT AS gain
       |  FROM qs JOIN embeddings e
       |    ON e.label = qs.label AND e.vec_id <> qs.vec_id),
       |wt(rank, w_ppm) AS (VALUES ${Eval.ndcgWeightsSqlValues(10)}),
       |dcg AS (SELECT ranked.q, SUM(rels.gain * wt.w_ppm)::BIGINT AS dcg
       |        FROM ranked JOIN rels ON rels.q = ranked.q
       |          AND rels.dc = ranked.nb
       |        JOIN wt ON wt.rank = ranked.r
       |        WHERE ranked.r <= 10 GROUP BY ranked.q),
       |ideal AS (SELECT q, gain,
       |    ROW_NUMBER() OVER (PARTITION BY q ORDER BY gain DESC, dc) AS ir
       |  FROM rels),
       |idcg AS (SELECT q, SUM(gain * wt.w_ppm)::BIGINT AS idcg
       |         FROM ideal JOIN wt ON wt.rank = ideal.ir
       |         WHERE ir <= 10 GROUP BY q)
       |SELECT idcg.q AS query_id, idcg.idcg AS idcg_scaled,
       |  COALESCE(dcg.dcg, 0)::BIGINT AS dcg_scaled,
       |  CASE WHEN idcg.idcg > 0 THEN
       |    ((COALESCE(dcg.dcg, 0) * 1000000) // idcg.idcg)::BIGINT
       |  END AS ndcg_ppm
       |FROM idcg LEFT JOIN dcg ON dcg.q = idcg.q
       |ORDER BY query_id""".stripMargin)

  /** Heaps'-law vocabulary growth: cumulative tokens and cumulative
    * DISTINCT vocabulary after each document, both as distributed
    * prefix sums (first occurrences attribute each type to exactly
    * one doc). */
  private val x175: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      TextAnalysis.vocabGrowth(t(s, d, "documents"), "doc_id", "text")
        .orderBy($"ord")
    },
    """WITH tk AS (SELECT doc_id, term FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |    FROM documents) WHERE len(term) > 0),
      |perdoc AS (SELECT d.doc_id, COUNT(tk.term)::BIGINT AS n_tokens
      |           FROM documents d LEFT JOIN tk USING (doc_id)
      |           GROUP BY d.doc_id),
      |nnew AS (SELECT doc_id, COUNT(*)::BIGINT AS n_new FROM
      |           (SELECT MIN(doc_id) AS doc_id FROM tk GROUP BY term)
      |         GROUP BY doc_id)
      |SELECT doc_id AS ord, n_tokens,
      |  COALESCE(n_new, 0)::BIGINT AS n_new_types,
      |  SUM(n_tokens) OVER (ORDER BY doc_id
      |    ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_tokens,
      |  SUM(COALESCE(n_new, 0)) OVER (ORDER BY doc_id
      |    ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_vocab
      |FROM perdoc LEFT JOIN nnew USING (doc_id)
      |ORDER BY ord""".stripMargin)

  /** Fleiss' κ over three synthetic raters (click/view/purchase event
    * streams vote a 5-way label per user); exact 128-bit integer
    * fraction on both engines. */
  private val x176: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      val r = t(s, d, "events")
        .filter($"event_type".isin("click", "view", "purchase"))
        .groupBy($"user_id", $"event_type")
        .agg((sum(($"value".cast("decimal(18,2)") * 100).cast("long"))
          % 5).as("label"))
      Eval.fleissKappa(r, "user_id", "label", n = 3)
    },
    """WITH r AS (SELECT user_id, event_type,
      |    (SUM((CAST(value AS DECIMAL(18,2)) * 100)::BIGINT) % 5) AS label
      |  FROM events WHERE event_type IN ('click', 'view', 'purchase')
      |  GROUP BY user_id, event_type),
      |cnt AS (SELECT user_id AS i, label AS c, COUNT(*)::BIGINT AS nic
      |        FROM r GROUP BY 1, 2),
      |per AS (SELECT i, SUM(nic)::BIGINT AS ni,
      |          SUM(nic * nic)::BIGINT AS sq FROM cnt GROUP BY i),
      |kept AS (SELECT * FROM per WHERE ni = 3),
      |mc AS (SELECT c, SUM(nic)::BIGINT AS mcnt
      |       FROM cnt JOIN kept USING (i) GROUP BY c),
      |tot AS (SELECT (SELECT COUNT(*) FROM kept)::HUGEINT AS n_items,
      |               (SELECT COUNT(*) FROM per)::BIGINT AS n_all,
      |               (SELECT SUM(sq) FROM kept)::HUGEINT AS a,
      |               (SELECT SUM(mcnt * mcnt) FROM mc)::HUGEINT AS m2),
      |f AS (SELECT *, n_items * 3 AS nn FROM tot)
      |SELECT n_items::BIGINT AS n_items,
      |  (n_all - n_items)::BIGINT AS n_dropped_items,
      |  a::BIGINT AS sum_sq_counts, m2::BIGINT AS sum_sq_marginals,
      |  CASE WHEN ((nn * nn - m2) * nn * 2) <> 0 THEN
      |    ((((a - nn) * nn * nn - nn * 2 * m2) * 1000000) //
      |     ((nn * nn - m2) * nn * 2))::BIGINT END AS kappa_ppm
      |FROM f""".stripMargin)

  /** Bucketed interval×interval pair join with owner-bucket dedup:
    * co-active view/purchase 15-minute windows per user. */
  private val x177: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      val ev = t(s, d, "events")
      def win(tp: String, idn: String) = ev.filter($"event_type" === tp)
        .select($"user_id", $"event_id".as(idn),
          unix_timestamp($"ts").as("ivl_from"),
          (unix_timestamp($"ts") + 900L).as("ivl_to"))
      Temporal.intervalJoin(win("view", "view_id"), "view_id",
          win("purchase", "purchase_id"), "purchase_id",
          "user_id", "ivl_from", "ivl_to", bucketWidthSec = 900L)
        .orderBy($"user_id", $"view_id", $"purchase_id")
    },
    """WITH a AS (SELECT user_id, event_id AS view_id,
      |    (epoch_us(ts) // 1000000)::BIGINT AS s,
      |    (epoch_us(ts) // 1000000)::BIGINT + 900 AS e
      |  FROM events WHERE event_type = 'view'),
      |b AS (SELECT user_id, event_id AS purchase_id,
      |    (epoch_us(ts) // 1000000)::BIGINT AS s,
      |    (epoch_us(ts) // 1000000)::BIGINT + 900 AS e
      |  FROM events WHERE event_type = 'purchase')
      |SELECT a.user_id AS user_id, a.view_id, b.purchase_id,
      |  (least(a.e, b.e) - greatest(a.s, b.s))::BIGINT AS overlap_units
      |FROM a JOIN b ON b.user_id = a.user_id
      |  AND a.s < b.e AND b.s < a.e
      |ORDER BY user_id, view_id, purchase_id""".stripMargin)

  /** Self-verifying PQ recall audit (the x169/x170 pattern over
    * x172): exact int8-lattice top-10 as ground truth vs the PQ-ADC
    * top-10 under the same sampled codebook; the oracle recomputes
    * both sides. */
  private val x178: (Sizing => Fn, String) = (
    z => (s, d) => {
      import s.implicits._
      // bench runs thin the (already sparse) query panel by a further
      // deterministic hash filter — recall per surviving query is
      // still exact against the full corpus, so the estimate stays
      // unbiased; the gate always runs the full %97 panel
      val bits = z.truthSampleBits
      val qFilter = if (bits == 0) lit(true)
        else pmod(xxhash64($"vec_id".cast("string")), lit(1L << bits)) === 0
      val emb = t(s, d, "embeddings")
      val cb = Similarity.pqCodebook(emb, "vec_id", "embedding",
        subspaces = 8, ksub = 16, dim = 64)
      Similarity.pqRecallAudit(
        z.capPanel(emb.filter($"vec_id" % 97 === 0).filter(qFilter),
          "vec_id"), "vec_id",
        "embedding", emb, "vec_id", "embedding", cb, k = 10)
    },
    s"""WITH $q8Cte,
       |qs AS (SELECT vec_id, q FROM q8 WHERE vec_id % 97 = 0),
       |xt AS (SELECT qv, cid FROM (
       |  SELECT qs.vec_id AS qv, c.vec_id AS cid,
       |    ROW_NUMBER() OVER (PARTITION BY qs.vec_id ORDER BY
       |      list_sum(list_transform(range(1, 65),
       |        i -> (qs.q[i] - c.q[i]) * (qs.q[i] - c.q[i]))),
       |      c.vec_id) AS r
       |  FROM qs, q8 c) WHERE r <= 10),
       |sel AS (SELECT vec_id, q,
       |    ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS code
       |  FROM (SELECT vec_id, q FROM q8
       |        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16)),
       |cb AS (SELECT ms.m, sel.code,
       |    list_slice(sel.q, ms.m * 8 + 1, ms.m * 8 + 8) AS cvec
       |  FROM sel, (SELECT unnest(range(8)) AS m) ms),
       |enc AS (SELECT vec_id, m, code FROM (
       |  SELECT c.vec_id, cb.m, cb.code,
       |    ROW_NUMBER() OVER (PARTITION BY c.vec_id, cb.m
       |      ORDER BY list_sum(list_transform(range(1, 9),
       |        i -> (c.q[cb.m * 8 + i] - cb.cvec[i])
       |           * (c.q[cb.m * 8 + i] - cb.cvec[i]))), cb.code) AS r
       |  FROM q8 c, cb) WHERE r = 1),
       |dist AS (
       |  SELECT qs.vec_id AS qv, enc.vec_id AS cid,
       |    SUM(list_sum(list_transform(range(1, 9),
       |      i -> (qs.q[enc.m * 8 + i] - cb.cvec[i])
       |         * (qs.q[enc.m * 8 + i] - cb.cvec[i]))))::BIGINT AS d2
       |  FROM qs, enc JOIN cb ON cb.m = enc.m AND cb.code = enc.code
       |  GROUP BY 1, 2),
       |pq AS (SELECT qv, cid FROM (
       |  SELECT qv, cid,
       |    ROW_NUMBER() OVER (PARTITION BY qv ORDER BY d2, cid) AS r
       |  FROM dist) WHERE r <= 10),
       |h AS (SELECT COUNT(*)::BIGINT AS n_hits FROM xt
       |      JOIN pq ON pq.qv = xt.qv AND pq.cid = xt.cid)
       |SELECT (SELECT COUNT(*) FROM qs)::BIGINT AS n_queries,
       |  (SELECT COUNT(*) FROM xt)::BIGINT AS n_truth,
       |  h.n_hits,
       |  ((h.n_hits * 1000000) // (SELECT COUNT(*) FROM xt))::BIGINT
       |    AS recall_ppm
       |FROM h""".stripMargin)

  /** Stable dense ids over (source, doc_id) via the two-phase range
    * exchange — never a single-reducer ROW_NUMBER. */
  private val x179: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      Prefix.denseIds(t(s, d, "documents").select($"doc_id", $"source"),
          Seq($"source", $"doc_id"), "stable_id")
        .orderBy($"stable_id")
    },
    """SELECT doc_id, source,
      |  (ROW_NUMBER() OVER (ORDER BY source, doc_id) - 1)::BIGINT
      |    AS stable_id
      |FROM documents ORDER BY stable_id""".stripMargin)

  /** Farthest-point (k-center greedy) diversity sample over the
    * embedding corpus; the oracle unrolls the identical greedy
    * rounds. */
  private val x180: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      Similarity.farthestPointSample(t(s, d, "embeddings"), "vec_id",
          "embedding", k = 8)
        .orderBy($"rank")
    },
    Similarity.farthestPointSampleSql("embeddings", 8))

  /** IVF-PQ ANN: Lloyd routing + ADC-over-codes scoring — the full
    * production serving shape; the oracle stacks the PQ chain on the
    * shared Lloyd CTEs and replays routing + encode + table lookups
    * bit-for-bit. */
  private val x181: (Sizing => Fn, String) = (
    z => (s, d) => {
      import s.implicits._
      val emb = t(s, d, "embeddings")
      val cb = Similarity.pqCodebook(emb, "vec_id", "embedding",
        subspaces = 8, ksub = 16, dim = 64)
      Similarity.ivfPqTopK(
          z.capPanel(emb.filter($"vec_id" % 97 === 0), "vec_id"),
          "vec_id", "embedding", emb, "vec_id", "embedding", cb, k = 10,
          nCentroids = 16, nProbe = 4, rounds = 2)
        .orderBy($"query_id", $"rank")
    }, {
      val (ctes, asgRel, centRel) =
        Similarity.kmeansLloydCtes("embeddings", k = 16, rounds = 2)
      s"""WITH $ctes,
         |psel AS (SELECT vec_id, q8,
         |    ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS code
         |  FROM (SELECT vec_id, q8 FROM q
         |        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16)),
         |pcb AS (SELECT ms.mm, psel.code,
         |    list_slice(psel.q8, ms.mm * 8 + 1, ms.mm * 8 + 8) AS cvec
         |  FROM psel, (SELECT unnest(range(8)) AS mm) ms),
         |penc AS (SELECT vec_id, mm, code FROM (
         |  SELECT c.vec_id, pcb.mm, pcb.code,
         |    ROW_NUMBER() OVER (PARTITION BY c.vec_id, pcb.mm
         |      ORDER BY list_sum(list_transform(range(1, 9),
         |        i -> (c.q8[pcb.mm * 8 + i] - pcb.cvec[i])
         |           * (c.q8[pcb.mm * 8 + i] - pcb.cvec[i]))), pcb.code)
         |      AS r
         |  FROM q c, pcb) WHERE r = 1),
         |qsel AS (SELECT vec_id AS query_id, q8 FROM q
         |         WHERE vec_id % 97 = 0),
         |qdq AS (SELECT qs.query_id, c.cluster,
         |    list_sum([ (qs.q8[j] - c.cvec[j]) * (qs.q8[j] - c.cvec[j])
         |               for j in range(1, len(qs.q8) + 1) ])::BIGINT
         |      AS d2c
         |  FROM qsel qs CROSS JOIN $centRel c),
         |qpr AS (SELECT query_id, cluster FROM (
         |  SELECT query_id, cluster,
         |    ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY d2c, cluster) AS pr
         |  FROM qdq) WHERE pr <= 4),
         |pdist AS (SELECT qpr.query_id, a.vec_id AS corpus_id,
         |    SUM(list_sum(list_transform(range(1, 9),
         |      i -> (qs.q8[penc.mm * 8 + i] - pcb.cvec[i])
         |         * (qs.q8[penc.mm * 8 + i] - pcb.cvec[i]))))::BIGINT AS d2
         |  FROM qpr
         |  JOIN $asgRel a ON a.cluster = qpr.cluster
         |  JOIN penc ON penc.vec_id = a.vec_id
         |  JOIN pcb ON pcb.mm = penc.mm AND pcb.code = penc.code
         |  JOIN qsel qs ON qs.query_id = qpr.query_id
         |  GROUP BY 1, 2)
         |SELECT query_id, r AS rank, corpus_id, d2 AS adc_d2 FROM (
         |  SELECT query_id, corpus_id, d2,
         |    ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY d2, corpus_id) AS r
         |  FROM pdist) WHERE r <= 10 ORDER BY query_id, rank""".stripMargin
    })

  /** Per-language nucleus vocabulary: the terms carrying 80% of each
    * language's token mass (top-p truncation, exact integer keep
    * rule). */
  private val x182: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      val terms = t(s, d, "documents")
        .select($"lang", explode(split($"text", " ")).as("term"))
        .filter(length($"term") > 0)
        .groupBy($"lang", $"term").agg(count(lit(1)).as("cnt"))
      Sampling.topPByGroup(terms, "lang", "term", $"cnt", pPpm = 800000L)
        .orderBy($"lang", $"rank")
    },
    """WITH tc AS (
      |  SELECT lang, term, COUNT(*)::BIGINT AS cnt FROM (
      |    SELECT lang, unnest(string_split(text, ' ')) AS term
      |    FROM documents)
      |  WHERE len(term) > 0 GROUP BY lang, term),
      |tot AS (SELECT lang, SUM(cnt)::BIGINT AS tot FROM tc GROUP BY lang),
      |r AS (SELECT tc.lang, tc.term, tc.cnt, tot.tot,
      |    SUM(tc.cnt) OVER (PARTITION BY tc.lang
      |      ORDER BY tc.cnt DESC, tc.term
      |      ROWS UNBOUNDED PRECEDING)::BIGINT AS cum,
      |    ROW_NUMBER() OVER (PARTITION BY tc.lang
      |      ORDER BY tc.cnt DESC, tc.term) AS rank
      |  FROM tc JOIN tot USING (lang))
      |SELECT lang, term, cnt AS weight, cum AS cum_weight,
      |  rank::BIGINT AS rank
      |FROM r WHERE (cum - cnt)::HUGEINT * 1000000 < 800000::HUGEINT * tot
      |ORDER BY lang, rank""".stripMargin)

  /** √-temperature mixture quotas per source over whitespace token
    * supply; the one square root is provably exact below 2⁵² on both
    * engines. NULL text supplies ZERO tokens (greatest(0, coalesce))
    * — matching the oracle's null-skipping SUM; without the guard a
    * null row would contribute size(split(NULL)) = −1/NULL to the
    * supply on corpora with missing text (the same trap x175 guards
    * explicitly). */
  private val x183: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      Sampling.sqrtTemperatureQuota(t(s, d, "documents"), "source",
          greatest(lit(0L),
            coalesce(TextAnalysis.tokenCount($"text"), lit(0L))),
          budgetTokens = 20000L)
        .orderBy($"source")
    },
    """WITH avail AS (
      |  SELECT source, SUM(len(string_split(text, ' ')))::BIGINT
      |      AS avail_tokens
      |  FROM documents GROUP BY source),
      |w AS (SELECT source, avail_tokens,
      |        CAST(floor(sqrt(CAST(avail_tokens AS DOUBLE))) AS BIGINT)
      |          AS sqrt_weight
      |      FROM avail),
      |tot AS (SELECT SUM(sqrt_weight)::HUGEINT AS tw FROM w)
      |SELECT source, avail_tokens, sqrt_weight,
      |  ((sqrt_weight::HUGEINT * 1000000) // tw)::BIGINT AS target_ppm,
      |  least(avail_tokens,
      |    ((sqrt_weight::HUGEINT * 20000) // tw)::BIGINT) AS quota_tokens,
      |  CASE WHEN avail_tokens > 0 THEN
      |    ((least(avail_tokens,
      |        ((sqrt_weight::HUGEINT * 20000) // tw)::BIGINT)::HUGEINT
      |      * 1000000) // avail_tokens)::BIGINT
      |  ELSE 0 END AS accept_ppm
      |FROM w, tot ORDER BY source""".stripMargin)

  /** Recall audit for the capped, corpus-aware banded semantic dedup
    * (x62's production path): exact integer-decision pair set vs the
    * banded pairs, one row of integer counts — the instrument behind
    * the round-8 knob retune. Exhaustive in the gate
    * (docSampleBits = 0); bench runs sample pairs via the sizing's
    * `truthSampleBits`. */
  private val x184: (Sizing => Fn, String) = (
    z => (s, d) => {
      val bits = z.truthSampleBits
      Dedup.semanticBandingAudit(t(s, d, "embeddings"), "vec_id",
          "embedding", cos2Num = 4, cos2Den = 25, dim = 64,
          docSampleBits = bits)
    },
    s"""WITH ${Planes.planesCteSql(32, 64)},
       |${Planes.dotsCteSql("embeddings", "vec_id", "embedding", 64)},
       |sk AS (
       |  SELECT vec_id, p // 4 AS band,
       |    CAST(SUM(CASE WHEN dot > 0 THEN CAST(pow(2, p % 4) AS BIGINT)
       |             ELSE 0 END) AS BIGINT) AS bucket
       |  FROM dots GROUP BY vec_id, band),
       |${Planes.cappedSkCteSql(4096)},
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM skb a JOIN skb b
       |    ON a.band = b.band AND a.bucket = b.bucket AND a.sub = b.sub
       |    AND a.vec_id < b.vec_id),
       |m AS (
       |  SELECT vec_id, embedding,
       |    list_max(list_transform(embedding,
       |      x -> abs(CAST(x AS DOUBLE)))) AS maxabs
       |  FROM embeddings),
       |qz AS (
       |  SELECT vec_id,
       |    CASE WHEN maxabs = 0
       |      THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
       |      ELSE list_transform(embedding,
       |        x -> CAST(greatest(-127.0, least(127.0,
       |          floor(CAST(x AS DOUBLE) * (127.0 / maxabs) + 0.5)))
       |          AS BIGINT))
       |    END AS qv
       |  FROM m),
       |exs AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |    list_reduce([ a.qv[i] * b.qv[i]
       |      for i in range(1, len(a.qv) + 1) ], (x, y) -> x + y) AS dotq,
       |    list_reduce([ a.qv[i] * a.qv[i]
       |      for i in range(1, len(a.qv) + 1) ], (x, y) -> x + y) AS na,
       |    list_reduce([ b.qv[i] * b.qv[i]
       |      for i in range(1, len(b.qv) + 1) ], (x, y) -> x + y) AS nb
       |  FROM qz a JOIN qz b ON a.vec_id < b.vec_id),
       |ex AS (
       |  SELECT id_a, id_b FROM exs
       |  WHERE dotq > 0 AND na > 0 AND nb > 0
       |    AND 25 * dotq * dotq >= 4 * na * nb),
       |bp AS (
       |  SELECT cand.id_a, cand.id_b FROM cand
       |  JOIN ex ON ex.id_a = cand.id_a AND ex.id_b = cand.id_b)
       |SELECT (SELECT COUNT(*) FROM ex)::BIGINT AS n_exact,
       |  (SELECT COUNT(*) FROM bp)::BIGINT AS n_banded,
       |  (SELECT COUNT(*) FROM bp)::BIGINT AS n_hits,
       |  ((SELECT COUNT(*) FROM bp)::HUGEINT * 1000000
       |    // (SELECT COUNT(*) FROM ex))::BIGINT AS recall_ppm""".stripMargin)

  /** DSIR hashed-ngram importance scores: documents scored by how
    * target-like their hashed unigram+bigram features are (target =
    * the English slice of the same corpus). Integer log2 buckets and
    * md5 feature hashing make every score oracle-exact. */
  private val x185: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      Sampling.dsirWeights(docs, docs.filter($"lang" === "en"),
          "doc_id", "text", buckets = 4096)
        .orderBy($"doc_id")
    }, {
      val md5int = (e: String) =>
        s"""CAST(list_reduce([ (strpos('0123456789abcdef',
           |      substr(md5($e), j, 1)) - 1)
           |      * pow(16, 6 - j) for j in range(1, 7) ], (x, y) -> x + y)
           |    AS BIGINT)""".stripMargin
      s"""WITH toks AS (
         |  SELECT doc_id, lang,
         |    [t for t in string_split(text, ' ') if len(t) > 0] AS ts
         |  FROM documents),
         |feat AS (
         |  SELECT doc_id, lang, f FROM (
         |    SELECT doc_id, lang, unnest(ts) AS f FROM toks)
         |  UNION ALL
         |  SELECT doc_id, lang, f FROM (
         |    SELECT doc_id, lang,
         |      unnest([ ts[i] || ' ' || ts[i+1]
         |               for i in range(1, len(ts)) ]) AS f
         |    FROM toks)),
         |fb AS (SELECT doc_id, lang, ${md5int("f")} % 4096 AS b FROM feat),
         |rm AS (SELECT b, COUNT(*)::BIGINT AS rcnt FROM fb GROUP BY b),
         |tm AS (SELECT b, COUNT(*)::BIGINT AS tcnt FROM fb
         |       WHERE lang = 'en' GROUP BY b),
         |rt AS (SELECT SUM(rcnt)::BIGINT AS rtot FROM rm),
         |tt AS (SELECT SUM(tcnt)::BIGINT AS ttot FROM tm),
         |tab AS (
         |  SELECT rm.b,
         |    (length(bin((rtot + 4096) // (rcnt + 1))) - 1)::BIGINT
         |      - (length(bin((ttot + 4096) // (COALESCE(tcnt, 0) + 1))) - 1)::BIGINT
         |      AS d
         |  FROM rm LEFT JOIN tm ON tm.b = rm.b, rt, tt)
         |SELECT doc_id, COUNT(*)::BIGINT AS n_feats,
         |  SUM(d)::BIGINT AS score_bits,
         |  (SUM(d) * 1000000 // COUNT(*))::BIGINT AS score_ppm
         |FROM fb JOIN tab ON tab.b = fb.b
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin
    })

  /** UniMax epoch-capped budget allocation across sources: exact
    * integer water-filling, every branch of the closed form mirrored
    * in window SQL. */
  private val x186: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      Sampling.unimaxAllocation(t(s, d, "documents"), "source",
          greatest(lit(0L),
            coalesce(TextAnalysis.tokenCount($"text"), lit(0L))),
          budgetTokens = 20000L, maxEpochsPpm = 800000L)
        .orderBy($"source")
    },
    """WITH sup AS (
      |  SELECT source, SUM(len(string_split(text, ' ')))::BIGINT AS supply
      |  FROM documents GROUP BY source),
      |caps AS (SELECT source, supply,
      |    ((supply::HUGEINT * 800000) // 1000000)::BIGINT AS cap
      |  FROM sup),
      |r AS (SELECT source, supply, cap,
      |    ROW_NUMBER() OVER (ORDER BY cap, source)::BIGINT AS i,
      |    SUM(cap) OVER (ORDER BY cap, source
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum
      |  FROM caps),
      |kk AS (SELECT COUNT(*)::BIGINT AS k FROM r),
      |ff AS (SELECT MIN(i) AS ff FROM r, kk
      |       WHERE cap::HUGEINT * (k - i + 1) >
      |             20000::HUGEINT - (cum - cap)),
      |mm AS (SELECT COALESCE(ff - 1, k)::BIGINT AS m FROM ff, kk),
      |cc AS (SELECT COALESCE(MAX(cum), 0)::BIGINT AS c FROM r, mm
      |       WHERE i <= m)
      |SELECT source, supply, cap_tokens, alloc_tokens,
      |  CASE WHEN supply > 0
      |    THEN (alloc_tokens::HUGEINT * 1000000 // supply)::BIGINT
      |  END AS epochs_ppm
      |FROM (
      |  SELECT source, supply, cap AS cap_tokens,
      |    CASE WHEN i <= m THEN cap
      |      ELSE ((20000::HUGEINT - c) // greatest(k - m, 1))::BIGINT
      |    END AS alloc_tokens
      |  FROM r, kk, mm, cc)
      |ORDER BY source""".stripMargin)

  /** JL random-projection distortion audit: per sampled pair, the
    * variance-corrected projected/true squared-distance ratio in ppm
    * — projection and both distances replayed double-for-double by
    * the oracle (deterministic md5 planes, same left-fold order). */
  private val x187: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      Similarity.projectionDistortionAudit(t(s, d, "embeddings"),
          "vec_id", "embedding", outDim = 8, dim = 64, sampleMod = 7)
        .orderBy($"id_a", $"id_b")
    },
    s"""WITH ${Planes.planesCteSql(8, 64)},
       |s AS (
       |  SELECT vec_id, embedding FROM embeddings
       |  WHERE CAST(list_reduce([ (strpos('0123456789abcdef',
       |      substr(md5(vec_id::VARCHAR), j, 1)) - 1)
       |      * pow(16, 6 - j) for j in range(1, 7) ], (x, y) -> x + y)
       |    AS BIGINT) % 7 = 0),
       |${Planes.dotsCteSql("s", "vec_id", "embedding", 64)},
       |proj AS (
       |  SELECT vec_id, list(dot ORDER BY p) AS pv FROM dots
       |  GROUP BY vec_id),
       |pairs AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |    list_reduce([ (CAST(a.embedding[i] AS DOUBLE)
       |          - CAST(b.embedding[i] AS DOUBLE))
       |        * (CAST(a.embedding[i] AS DOUBLE)
       |          - CAST(b.embedding[i] AS DOUBLE))
       |      for i in range(1, 65) ], (x, y) -> x + y) AS dx,
       |    list_reduce([ (pa.pv[i] - pb.pv[i]) * (pa.pv[i] - pb.pv[i])
       |      for i in range(1, 9) ], (x, y) -> x + y) AS dp
       |  FROM s a JOIN s b ON a.vec_id < b.vec_id
       |  JOIN proj pa ON pa.vec_id = a.vec_id
       |  JOIN proj pb ON pb.vec_id = b.vec_id)
       |SELECT id_a, id_b,
       |  CAST(floor(1000000.0 * 12.0 * dp / (8.0 * dx)) AS BIGINT)
       |    AS distortion_ppm
       |FROM pairs WHERE dx > 0 ORDER BY id_a, id_b""".stripMargin)

  /** Incremental semantic dedup: even-id batch vs odd-id history,
    * banded+capped cross candidates, integer int8 decision — the
    * oracle replays banding, the REFERENCE-ONLY census cap
    * ([[Planes.cappedSkRefCteSql]], the contract that makes the
    * streaming index exact) and the decision over the full set and
    * keeps only cross-parity pairs. */
  private val x188: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      val emb = t(s, d, "embeddings")
      Dedup.semanticDupPairsInt8Across(
          emb.filter(pmod($"vec_id", lit(2)) === 0),
          emb.filter(pmod($"vec_id", lit(2)) === 1),
          "vec_id", "embedding", cos2Num = 4, cos2Den = 25, dim = 64)
        .orderBy($"id_a", $"id_b")
    },
    s"""WITH ${Planes.planesCteSql(32, 64)},
       |${Planes.dotsCteSql("embeddings", "vec_id", "embedding", 64)},
       |sk AS (
       |  SELECT vec_id, p // 4 AS band,
       |    CAST(SUM(CASE WHEN dot > 0 THEN CAST(pow(2, p % 4) AS BIGINT)
       |             ELSE 0 END) AS BIGINT) AS bucket
       |  FROM dots GROUP BY vec_id, band),
       |${Planes.cappedSkRefCteSql(4096, "vec_id % 2 = 1")},
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM skb a JOIN skb b
       |    ON a.band = b.band AND a.bucket = b.bucket AND a.sub = b.sub
       |  WHERE a.vec_id % 2 = 0 AND b.vec_id % 2 = 1),
       |m AS (
       |  SELECT vec_id, embedding,
       |    list_max(list_transform(embedding,
       |      x -> abs(CAST(x AS DOUBLE)))) AS maxabs
       |  FROM embeddings),
       |qz AS (
       |  SELECT vec_id,
       |    CASE WHEN maxabs = 0
       |      THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
       |      ELSE list_transform(embedding,
       |        x -> CAST(greatest(-127.0, least(127.0,
       |          floor(CAST(x AS DOUBLE) * (127.0 / maxabs) + 0.5)))
       |          AS BIGINT))
       |    END AS qv
       |  FROM m),
       |scored AS (
       |  SELECT id_a, id_b,
       |    list_reduce([ qa.qv[i] * qb.qv[i]
       |      for i in range(1, len(qa.qv) + 1) ], (x, y) -> x + y) AS dotq,
       |    list_reduce([ qa.qv[i] * qa.qv[i]
       |      for i in range(1, len(qa.qv) + 1) ], (x, y) -> x + y) AS na,
       |    list_reduce([ qb.qv[i] * qb.qv[i]
       |      for i in range(1, len(qb.qv) + 1) ], (x, y) -> x + y) AS nb
       |  FROM cand
       |  JOIN qz qa ON qa.vec_id = cand.id_a
       |  JOIN qz qb ON qb.vec_id = cand.id_b)
       |SELECT id_a, id_b, dotq::BIGINT AS dotq, na::BIGINT AS na,
       |  nb::BIGINT AS nb
       |FROM scored
       |WHERE dotq > 0 AND na > 0 AND nb > 0
       |  AND 25 * dotq * dotq >= 4 * na * nb
       |ORDER BY id_a, id_b""".stripMargin)

  /** SemDeDup proper: int8-Lloyd clusters as candidate buckets (with
    * the same oversized-bucket cap), integer cosine² decision — the
    * oracle composes the x87 Lloyd CTE chain with the capped bucket
    * join and the x62 decision. The gate exercises the CORPUS-AWARE
    * default (`nClusters` = 0 → [[Planes.nClustersFor]] from one
    * cheap count): at the gate corpus (500 vectors) the derivation
    * lands on exactly k = ⌈500/128⌉ = 4, which this static
    * Lloyd-CTE oracle pins. */
  private val x189: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      Dedup.semanticDupPairsIvfInt8(t(s, d, "embeddings"), "vec_id",
          "embedding", cos2Num = 4, cos2Den = 25, rounds = 2)
        .orderBy($"id_a", $"id_b")
    }, {
      val (ctes, asgRel, _) =
        Similarity.kmeansLloydCtes("embeddings", k = 4, rounds = 2)
      s"""WITH $ctes,
         |sk AS (SELECT vec_id, 0 AS band, cluster AS bucket
         |       FROM $asgRel),
         |${Planes.cappedSkCteSql(4096)},
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM skb a JOIN skb b
         |    ON a.band = b.band AND a.bucket = b.bucket AND a.sub = b.sub
         |    AND a.vec_id < b.vec_id),
         |scored AS (
         |  SELECT id_a, id_b,
         |    list_reduce([ qa.q8[i] * qb.q8[i]
         |      for i in range(1, len(qa.q8) + 1) ], (x, y) -> x + y) AS dotq,
         |    list_reduce([ qa.q8[i] * qa.q8[i]
         |      for i in range(1, len(qa.q8) + 1) ], (x, y) -> x + y) AS na,
         |    list_reduce([ qb.q8[i] * qb.q8[i]
         |      for i in range(1, len(qb.q8) + 1) ], (x, y) -> x + y) AS nb
         |  FROM cand
         |  JOIN q qa ON qa.vec_id = cand.id_a
         |  JOIN q qb ON qb.vec_id = cand.id_b)
         |SELECT id_a, id_b, dotq::BIGINT AS dotq, na::BIGINT AS na,
         |  nb::BIGINT AS nb
         |FROM scored
         |WHERE dotq > 0 AND na > 0 AND nb > 0
         |  AND 25 * dotq * dotq >= 4 * na * nb
         |ORDER BY id_a, id_b""".stripMargin
    })

  /** Exact-substring dedup rewrite (keep-first-occurrence, 8-token
    * minimum match): the oracle replays windowing, the per-window
    * MIN-doc keeper, and the token-mask rewrite list-for-list. */
  private val x190: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      Dedup.substringDedupRewrite(t(s, d, "documents"), "doc_id", "text",
          l = 8)
        .select($"doc_id", $"text_clean", $"n_removed")
        .orderBy($"doc_id")
    },
    """WITH tk AS (
      |  SELECT doc_id,
      |    [t for t in string_split(text, ' ') if len(t) > 0] AS ts
      |  FROM documents),
      |wi AS (
      |  SELECT doc_id, ts, unnest(range(1, len(ts) - 8 + 2)) AS i
      |  FROM tk WHERE len(ts) >= 8),
      |ws AS (
      |  SELECT doc_id, i - 1 AS s, array_to_string(ts[i:i+7], ' ') AS w
      |  FROM wi),
      |keep AS (SELECT w, MIN(doc_id) AS kd FROM ws GROUP BY w),
      |mask AS (
      |  SELECT ws.doc_id, ws.s FROM ws JOIN keep ON keep.w = ws.w
      |  WHERE ws.doc_id > keep.kd),
      |m2 AS (SELECT doc_id, list(s) AS starts FROM mask GROUP BY doc_id),
      |fin AS (
      |  SELECT tk.doc_id, tk.ts, COALESCE(m2.starts, []) AS starts
      |  FROM tk LEFT JOIN m2 ON m2.doc_id = tk.doc_id)
      |SELECT doc_id,
      |  COALESCE(array_to_string(
      |    [ ts[j] for j in range(1, len(ts) + 1)
      |      if len(list_filter(starts,
      |           s -> s <= j - 1 AND j - 1 < s + 8)) = 0 ], ' '), '')
      |    AS text_clean,
      |  (len(ts) - len(
      |    [ ts[j] for j in range(1, len(ts) + 1)
      |      if len(list_filter(starts,
      |           s -> s <= j - 1 AND j - 1 < s + 8)) = 0 ]))::BIGINT
      |    AS n_removed
      |FROM fin ORDER BY doc_id""".stripMargin)

  /** End-to-end SemDeDup APPLICATION: banded+capped int8 pairs →
    * connected components → keep-smallest-id representative → the
    * SURVIVING corpus via one anti-join (the x46 pipeline on semantic
    * pairs). The oracle replays banding, cap, integer decision,
    * recursive transitive closure, keeper policy and the anti-join —
    * so the whole chain must agree row-for-row. */
  private val x191: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      val emb = t(s, d, "embeddings")
      val pairs = Dedup.semanticDupPairsInt8(emb, "vec_id", "embedding",
        cos2Num = 4, cos2Den = 25, dim = 64)
      Dedup.dedupCorpus(emb, "vec_id", pairs, lit(0L))
        .select($"vec_id").orderBy($"vec_id")
    },
    s"""WITH RECURSIVE ${Planes.planesCteSql(32, 64)},
       |${Planes.dotsCteSql("embeddings", "vec_id", "embedding", 64)},
       |sk AS (
       |  SELECT vec_id, p // 4 AS band,
       |    CAST(SUM(CASE WHEN dot > 0 THEN CAST(pow(2, p % 4) AS BIGINT)
       |             ELSE 0 END) AS BIGINT) AS bucket
       |  FROM dots GROUP BY vec_id, band),
       |${Planes.cappedSkCteSql(4096)},
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM skb a JOIN skb b
       |    ON a.band = b.band AND a.bucket = b.bucket AND a.sub = b.sub
       |    AND a.vec_id < b.vec_id),
       |m AS (
       |  SELECT vec_id, embedding,
       |    list_max(list_transform(embedding,
       |      x -> abs(CAST(x AS DOUBLE)))) AS maxabs
       |  FROM embeddings),
       |qz AS (
       |  SELECT vec_id,
       |    CASE WHEN maxabs = 0
       |      THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
       |      ELSE list_transform(embedding,
       |        x -> CAST(greatest(-127.0, least(127.0,
       |          floor(CAST(x AS DOUBLE) * (127.0 / maxabs) + 0.5)))
       |          AS BIGINT))
       |    END AS qv
       |  FROM m),
       |scored AS (
       |  SELECT id_a, id_b,
       |    list_reduce([ qa.qv[i] * qb.qv[i]
       |      for i in range(1, len(qa.qv) + 1) ], (x, y) -> x + y) AS dotq,
       |    list_reduce([ qa.qv[i] * qa.qv[i]
       |      for i in range(1, len(qa.qv) + 1) ], (x, y) -> x + y) AS na,
       |    list_reduce([ qb.qv[i] * qb.qv[i]
       |      for i in range(1, len(qb.qv) + 1) ], (x, y) -> x + y) AS nb
       |  FROM cand
       |  JOIN qz qa ON qa.vec_id = cand.id_a
       |  JOIN qz qb ON qb.vec_id = cand.id_b),
       |edges AS (
       |  SELECT id_a, id_b FROM scored
       |  WHERE dotq > 0 AND na > 0 AND nb > 0
       |    AND 25 * dotq * dotq >= 4 * na * nb),
       |und AS (SELECT id_a AS src, id_b AS dst FROM edges
       |        UNION SELECT id_b, id_a FROM edges),
       |reach(id, r) AS (
       |  SELECT src, src FROM und
       |  UNION
       |  SELECT re.id, u.dst FROM reach re JOIN und u ON u.src = re.r),
       |comp AS (SELECT id, MIN(r) AS cluster FROM reach GROUP BY id),
       |todrop AS (SELECT id FROM (
       |  SELECT cluster, id, ROW_NUMBER() OVER
       |    (PARTITION BY cluster ORDER BY id) AS rk FROM comp)
       |  WHERE rk > 1)
       |SELECT vec_id FROM embeddings
       |WHERE vec_id NOT IN (SELECT id FROM todrop)
       |ORDER BY vec_id""".stripMargin)

  /** Recall audit for the IVF semantic-dedup path — the x184 pattern
    * on x189's pipeline, instrumenting the round-9 corpus-aware
    * `nClusters` retune: exact integer-decision pairs vs the
    * cluster-bucketed production pairs, one row of integer counts.
    * Exhaustive in the gate (docSampleBits = 0); bench runs sample
    * via the sizing's `truthSampleBits`. The
    * oracle replays the Lloyd chain at the derived k = 4 plus the
    * brute-force exact side. */
  private val x192: (Sizing => Fn, String) = (
    z => (s, d) => {
      val bits = z.truthSampleBits
      Dedup.semanticIvfAudit(t(s, d, "embeddings"), "vec_id",
          "embedding", cos2Num = 4, cos2Den = 25, rounds = 2,
          docSampleBits = bits)
    }, {
      val (ctes, asgRel, _) =
        Similarity.kmeansLloydCtes("embeddings", k = 4, rounds = 2)
      s"""WITH $ctes,
         |sk AS (SELECT vec_id, 0 AS band, cluster AS bucket
         |       FROM $asgRel),
         |${Planes.cappedSkCteSql(4096)},
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM skb a JOIN skb b
         |    ON a.band = b.band AND a.bucket = b.bucket AND a.sub = b.sub
         |    AND a.vec_id < b.vec_id),
         |exs AS (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |    list_reduce([ a.q8[i] * b.q8[i]
         |      for i in range(1, len(a.q8) + 1) ], (x, y) -> x + y) AS dotq,
         |    list_reduce([ a.q8[i] * a.q8[i]
         |      for i in range(1, len(a.q8) + 1) ], (x, y) -> x + y) AS na,
         |    list_reduce([ b.q8[i] * b.q8[i]
         |      for i in range(1, len(b.q8) + 1) ], (x, y) -> x + y) AS nb
         |  FROM q a JOIN q b ON a.vec_id < b.vec_id),
         |ex AS (
         |  SELECT id_a, id_b FROM exs
         |  WHERE dotq > 0 AND na > 0 AND nb > 0
         |    AND 25 * dotq * dotq >= 4 * na * nb),
         |iv AS (
         |  SELECT ex.id_a, ex.id_b FROM ex
         |  JOIN cand ON cand.id_a = ex.id_a AND cand.id_b = ex.id_b)
         |SELECT (SELECT COUNT(*) FROM ex)::BIGINT AS n_exact,
         |  (SELECT COUNT(*) FROM iv)::BIGINT AS n_ivf,
         |  (SELECT COUNT(*) FROM iv)::BIGINT AS n_hits,
         |  ((SELECT COUNT(*) FROM iv)::HUGEINT * 1000000
         |    // NULLIF((SELECT COUNT(*) FROM ex), 0))::BIGINT AS recall_ppm""".stripMargin
    })

  /** Streaming semantic-index MAINTENANCE: the index is built from
    * one reference slice, a second slice is merged incrementally
    * ([[EmbedStream.mergeRefIndex]] — census refreshed, old band rows
    * reused verbatim), and probe rows match against the merged index.
    * The oracle replays banding, the reference-only census over the
    * COMBINED reference, and the integer decision — so the merge must
    * equal a full rebuild row-for-row (the spec proves index-level
    * parity; this gate proves the downstream answer end-to-end). */
  private val x193: (Sizing => Fn, String) = (
    z => (s, d) => {
      import s.implicits._
      val emb = t(s, d, "embeddings")
      val idx0 = graft.streaming.EmbedStream.semanticRefIndex(
        emb.filter(pmod($"vec_id", lit(5)).isin(1, 2)),
        "vec_id", "embedding", bands = 8, bitsPerBand = 4, dim = 64)
      val merged = graft.streaming.EmbedStream.mergeRefIndex(idx0,
        emb.filter(pmod($"vec_id", lit(5)).isin(3, 4)),
        "vec_id", "embedding")
      graft.streaming.EmbedStream.semanticDupMatches(
          z.capPanel(emb.filter(pmod($"vec_id", lit(5)) === 0),
            "vec_id"), merged,
          "vec_id", "embedding", cos2Num = 4, cos2Den = 25)
        .select($"id_a", $"id_b", $"dotq", $"na", $"nb").distinct()
        .orderBy($"id_a", $"id_b")
    },
    s"""WITH ${Planes.planesCteSql(32, 64)},
       |${Planes.dotsCteSql("embeddings", "vec_id", "embedding", 64)},
       |sk AS (
       |  SELECT vec_id, p // 4 AS band,
       |    CAST(SUM(CASE WHEN dot > 0 THEN CAST(pow(2, p % 4) AS BIGINT)
       |             ELSE 0 END) AS BIGINT) AS bucket
       |  FROM dots GROUP BY vec_id, band),
       |${Planes.cappedSkRefCteSql(4096, "vec_id % 5 <> 0")},
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM skb a JOIN skb b
       |    ON a.band = b.band AND a.bucket = b.bucket AND a.sub = b.sub
       |  WHERE a.vec_id % 5 = 0 AND b.vec_id % 5 <> 0),
       |m AS (
       |  SELECT vec_id, embedding,
       |    list_max(list_transform(embedding,
       |      x -> abs(CAST(x AS DOUBLE)))) AS maxabs
       |  FROM embeddings),
       |qz AS (
       |  SELECT vec_id,
       |    CASE WHEN maxabs = 0
       |      THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
       |      ELSE list_transform(embedding,
       |        x -> CAST(greatest(-127.0, least(127.0,
       |          floor(CAST(x AS DOUBLE) * (127.0 / maxabs) + 0.5)))
       |          AS BIGINT))
       |    END AS qv
       |  FROM m),
       |scored AS (
       |  SELECT id_a, id_b,
       |    list_reduce([ qa.qv[i] * qb.qv[i]
       |      for i in range(1, len(qa.qv) + 1) ], (x, y) -> x + y) AS dotq,
       |    list_reduce([ qa.qv[i] * qa.qv[i]
       |      for i in range(1, len(qa.qv) + 1) ], (x, y) -> x + y) AS na,
       |    list_reduce([ qb.qv[i] * qb.qv[i]
       |      for i in range(1, len(qb.qv) + 1) ], (x, y) -> x + y) AS nb
       |  FROM cand
       |  JOIN qz qa ON qa.vec_id = cand.id_a
       |  JOIN qz qb ON qb.vec_id = cand.id_b)
       |SELECT id_a, id_b, dotq::BIGINT AS dotq, na::BIGINT AS na,
       |  nb::BIGINT AS nb
       |FROM scored
       |WHERE dotq > 0 AND na > 0 AND nb > 0
       |  AND 25 * dotq * dotq >= 4 * na * nb
       |ORDER BY id_a, id_b""".stripMargin)

  /** BM25 top-k retrieval for a query panel: queries are the first
    * four tokens of every 97th document, scored against the full
    * corpus with the x53 integer-exact BM25 arithmetic, top-5 docs
    * per query through the bounded heap aggregate. The oracle
    * replays tokenization, distinct query terms, per-term scores,
    * the per-(query, doc) sum, and the (score desc, doc asc)
    * ranking. */
  private val x194: (Sizing => Fn, String) = (
    z => (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val queries = z.capPanel(docs.filter($"doc_id" % 97 === 0)
        .select($"doc_id".as("query_id"),
          concat_ws(" ", slice(filter(split($"text", " "),
            t => t =!= ""), 1, 4)).as("qtext")), "query_id")
      TextAnalysis.bm25Retrieve(queries, "query_id", "qtext",
          docs, "doc_id", "text", k = 5)
        .orderBy($"query_id", $"rank")
    },
    """WITH tok AS (
      |  SELECT doc_id, unnest([t for t in string_split(text, ' ')
      |                         if len(t) > 0]) AS term
      |  FROM documents),
      |tf AS (SELECT doc_id, term, COUNT(*)::BIGINT AS tf
      |       FROM tok GROUP BY doc_id, term),
      |dl AS (SELECT doc_id, COUNT(*)::BIGINT AS dl FROM tok GROUP BY doc_id),
      |dfq AS (SELECT term, COUNT(*)::BIGINT AS term_df FROM tf GROUP BY term),
      |tot AS (SELECT COUNT(*)::BIGINT AS n_docs, SUM(dl)::BIGINT AS t_toks
      |        FROM dl),
      |qt AS (
      |  SELECT doc_id AS query_id, unnest(list_distinct(
      |    ([t for t in string_split(text, ' ') if len(t) > 0])[1:4])) AS term
      |  FROM documents WHERE doc_id % 97 = 0),
      |sc AS (SELECT qt.query_id, tf.doc_id,
      |         SUM((length(bin(n_docs // term_df)) - 1)
      |           * ((1000000 * 44 * t_toks * tf)
      |              // (20 * t_toks * tf + 6 * t_toks + 18 * dl * n_docs))
      |         )::BIGINT AS score_ppm
      |       FROM tf JOIN qt USING (term) JOIN dl ON dl.doc_id = tf.doc_id
      |       JOIN dfq ON dfq.term = tf.term, tot
      |       GROUP BY qt.query_id, tf.doc_id),
      |rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
      |         ORDER BY score_ppm DESC, doc_id)::BIGINT AS rank FROM sc)
      |SELECT query_id, rank, doc_id, score_ppm
      |FROM rk WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)

  /** Incremental cross-corpus SimHash dedup: odd-id docs are the
    * arriving batch, even-id docs the accumulated history — the
    * signature sibling of x50/x188, with the round-9 REFERENCE-ONLY
    * census (the contract the streaming signature index rides). The
    * oracle replays signatures, chunk banding, the history-side
    * census cap, the cross-parity candidate join and the exact
    * hamming verify. */
  private val x195: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      Dedup.simhashPairsAcross(
          docs.filter($"doc_id" % 2 === 1), docs.filter($"doc_id" % 2 === 0),
          "doc_id", "text", maxHamming = 3)
        .select($"id_a", $"id_b", $"hamming".cast("int").as("hamming"))
        .orderBy($"id_a", $"id_b")
    },
    s"""WITH sigs AS ($simhashSigSql),
       |usig AS (
       |  SELECT doc_id, CASE WHEN simhash < 0
       |    THEN simhash::HUGEINT + 18446744073709551616::HUGEINT
       |    ELSE simhash::HUGEINT END AS u
       |  FROM sigs),
       |sk AS (
       |  SELECT doc_id AS vec_id, band, ((u // d) % 65536)::BIGINT AS bucket
       |  FROM usig CROSS JOIN (VALUES (0, 1::HUGEINT),
       |    (1, 65536::HUGEINT), (2, 4294967296::HUGEINT),
       |    (3, 281474976710656::HUGEINT)) AS bw(band, d)),
       |${Planes.cappedSkRefCteSql(4096, "vec_id % 2 = 0")},
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM skb a JOIN skb b
       |    ON a.band = b.band AND a.bucket = b.bucket AND a.sub = b.sub
       |  WHERE a.vec_id % 2 = 1 AND b.vec_id % 2 = 0)
       |SELECT cand.id_a, cand.id_b,
       |  bit_count(xor(sa.simhash, sb.simhash))::INT AS hamming
       |FROM cand
       |JOIN sigs sa ON sa.doc_id = cand.id_a
       |JOIN sigs sb ON sb.doc_id = cand.id_b
       |WHERE bit_count(xor(sa.simhash, sb.simhash)) <= 3
       |ORDER BY id_a, id_b""".stripMargin)

  /** HYBRID retrieval: the lexical leg (x194's BM25 over the first-
    * four-token queries of every 97th document) and the dense leg
    * (x06's brute-force cosine over the same-id embeddings panel)
    * fused per query with exact-integer RRF
    * ([[Index.rrfFuseByQuery]]). The oracle replays both legs and the
    * fusion; a query missing from one leg (panel coverage differs by
    * modality at some scales) fuses from the other alone — union
    * semantics, n_lists recording the evidence. */
  private val x196: (Sizing => Fn, String) = (
    z => (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val emb = t(s, d, "embeddings")
      val queriesTxt = z.capPanel(docs.filter($"doc_id" % 97 === 0)
        .select($"doc_id".as("query_id"),
          concat_ws(" ", slice(filter(split($"text", " "),
            t => t =!= ""), 1, 4)).as("qtext")), "query_id")
      val lex = TextAnalysis.bm25Retrieve(queriesTxt, "query_id", "qtext",
          docs, "doc_id", "text", k = 10)
        .select($"query_id", $"doc_id".as("id"), $"rank")
      val dense = Similarity.bruteForceTopK(
          z.capPanel(emb.filter($"vec_id" % 97 === 0), "vec_id"),
          "vec_id", "embedding",
          emb, "vec_id", "embedding", k = 10)
        .select($"query_id", $"neighbour_id".as("id"), $"rank")
      Index.rrfFuseByQuery(Seq(lex, dense), k = 60, topN = 5)
        .orderBy($"query_id", $"fused_rank")
    },
    s"""WITH tok AS (
       |  SELECT doc_id, unnest([t for t in string_split(text, ' ')
       |                         if len(t) > 0]) AS term
       |  FROM documents),
       |tf AS (SELECT doc_id, term, COUNT(*)::BIGINT AS tf
       |       FROM tok GROUP BY doc_id, term),
       |dl AS (SELECT doc_id, COUNT(*)::BIGINT AS dl FROM tok GROUP BY doc_id),
       |dfq AS (SELECT term, COUNT(*)::BIGINT AS term_df FROM tf GROUP BY term),
       |tot AS (SELECT COUNT(*)::BIGINT AS n_docs, SUM(dl)::BIGINT AS t_toks
       |        FROM dl),
       |qt AS (
       |  SELECT doc_id AS query_id, unnest(list_distinct(
       |    ([t for t in string_split(text, ' ') if len(t) > 0])[1:4])) AS term
       |  FROM documents WHERE doc_id % 97 = 0),
       |sc AS (SELECT qt.query_id, tf.doc_id,
       |         SUM((length(bin(n_docs // term_df)) - 1)
       |           * ((1000000 * 44 * t_toks * tf)
       |              // (20 * t_toks * tf + 6 * t_toks + 18 * dl * n_docs))
       |         )::BIGINT AS score_ppm
       |       FROM tf JOIN qt USING (term) JOIN dl ON dl.doc_id = tf.doc_id
       |       JOIN dfq ON dfq.term = tf.term, tot
       |       GROUP BY qt.query_id, tf.doc_id),
       |lex AS (SELECT query_id, doc_id AS id,
       |          ROW_NUMBER() OVER (PARTITION BY query_id
       |            ORDER BY score_ppm DESC, doc_id)::BIGINT AS rank
       |        FROM sc QUALIFY rank <= 10),
       |dense AS (
       |  SELECT query_id, id, rank FROM (
       |    SELECT q.vec_id AS query_id, c.vec_id AS id,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
       |        ${cosineSql("q.embedding", "c.embedding")} DESC, c.vec_id)
       |        ::BIGINT AS rank
       |    FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
       |    WHERE q.vec_id % 97 = 0)
       |  WHERE rank <= 10),
       |u AS (SELECT query_id, id, 1000000000 // (60 + rank) AS c FROM lex
       |      UNION ALL
       |      SELECT query_id, id, 1000000000 // (60 + rank) FROM dense),
       |f AS (SELECT query_id, id, SUM(c)::BIGINT AS rrf_scaled,
       |        COUNT(*)::BIGINT AS n_lists
       |      FROM u GROUP BY query_id, id),
       |rk2 AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |          ORDER BY rrf_scaled DESC, id)::BIGINT AS fused_rank FROM f)
       |SELECT query_id, fused_rank, id, rrf_scaled, n_lists
       |FROM rk2 WHERE fused_rank <= 5 ORDER BY query_id, fused_rank""".stripMargin)

  /** PQ candidates + exact re-rank (the FAISS refine pattern): the
    * x172 ADC stage proposes 40 candidates per query, only those read
    * their float vectors for the exact-cosine top-10. The oracle
    * replays the whole chain — quantize, sample, encode, ADC ranks,
    * the 40-candidate cut, and the double-cosine re-rank (x06's
    * ordering). */
  private val x197: (Sizing => Fn, String) = (
    z => (s, d) => {
      import s.implicits._
      val emb = t(s, d, "embeddings")
      val cb = Similarity.pqCodebook(emb, "vec_id", "embedding",
        subspaces = 8, ksub = 16, dim = 64)
      Similarity.pqTopKRefined(
          z.capPanel(emb.filter($"vec_id" % 97 === 0), "vec_id"),
          "vec_id", "embedding", emb, "vec_id", "embedding", cb,
          k = 10, refine = 4)
        .select($"query_id", $"rank", $"corpus_id",
          (floor($"cosine" * 1e6 + 0.5) / 1e6).as("cos6"))
        .orderBy($"query_id", $"rank")
    },
    s"""WITH $q8Cte,
       |sel AS (SELECT vec_id, q,
       |    ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS code
       |  FROM (SELECT vec_id, q FROM q8
       |        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16)),
       |cb AS (SELECT ms.m, sel.code,
       |    list_slice(sel.q, ms.m * 8 + 1, ms.m * 8 + 8) AS cvec
       |  FROM sel, (SELECT unnest(range(8)) AS m) ms),
       |enc AS (SELECT vec_id, m, code FROM (
       |  SELECT c.vec_id, cb.m, cb.code,
       |    ROW_NUMBER() OVER (PARTITION BY c.vec_id, cb.m
       |      ORDER BY list_sum(list_transform(range(1, 9),
       |        i -> (c.q[cb.m * 8 + i] - cb.cvec[i])
       |           * (c.q[cb.m * 8 + i] - cb.cvec[i]))), cb.code) AS r
       |  FROM q8 c, cb) WHERE r = 1),
       |qs AS (SELECT vec_id, q FROM q8 WHERE vec_id % 97 = 0),
       |dist AS (
       |  SELECT qs.vec_id AS query_id, enc.vec_id AS corpus_id,
       |    SUM(list_sum(list_transform(range(1, 9),
       |      i -> (qs.q[enc.m * 8 + i] - cb.cvec[i])
       |         * (qs.q[enc.m * 8 + i] - cb.cvec[i]))))::BIGINT AS d2
       |  FROM qs, enc JOIN cb ON cb.m = enc.m AND cb.code = enc.code
       |  GROUP BY 1, 2),
       |cand AS (SELECT query_id, corpus_id FROM (
       |  SELECT query_id, corpus_id,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY d2, corpus_id) AS r
       |  FROM dist) WHERE r <= 40),
       |rer AS (
       |  SELECT cand.query_id, cand.corpus_id,
       |    ${cosineSql("qe.embedding", "ce.embedding")} AS cosine
       |  FROM cand
       |  JOIN embeddings qe ON qe.vec_id = cand.query_id
       |  JOIN embeddings ce ON ce.vec_id = cand.corpus_id)
       |SELECT query_id, rank, corpus_id,
       |  floor(cosine * 1e6 + 0.5) / 1e6 AS cos6 FROM (
       |  SELECT query_id, corpus_id, cosine,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, corpus_id)::BIGINT AS rank
       |  FROM rer) WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin)

  /** Rocchio hashed-unigram quality classifier: train on the 80 %
    * seed slice (label = English), score the held-out 20 % — weights
    * and scores are exact integers (no float log anywhere), so the
    * oracle replays both bit-for-bit. */
  private val x198: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val w = Classify.rocchioWeights(docs.filter($"doc_id" % 5 =!= 0),
        "text", $"lang" === "en", buckets = 4096)
      Classify.rocchioScore(docs.filter($"doc_id" % 5 === 0),
          "doc_id", "text", w, buckets = 4096)
        .select($"doc_id", $"n_toks",
          $"score".cast("long").as("score"), $"pred")
        .orderBy($"doc_id")
    }, {
      val md5int = (e: String) =>
        s"""CAST(list_reduce([ (strpos('0123456789abcdef',
           |      substr(md5($e), j, 1)) - 1)
           |      * pow(16, 6 - j) for j in range(1, 7) ], (x, y) -> x + y)
           |    AS BIGINT)""".stripMargin
      s"""WITH tk AS (
         |  SELECT doc_id, lang = 'en' AS y,
         |    unnest([t for t in string_split(text, ' ') if len(t) > 0]) AS tok
         |  FROM documents),
         |tb AS (SELECT doc_id, y, ${md5int("tok")} % 4096 AS b FROM tk),
         |cnt AS (SELECT b,
         |    SUM(CASE WHEN y THEN 1 ELSE 0 END)::BIGINT AS cp,
         |    SUM(CASE WHEN y THEN 0 ELSE 1 END)::BIGINT AS cn
         |  FROM tb WHERE doc_id % 5 <> 0 AND y IS NOT NULL GROUP BY b),
         |tot AS (SELECT SUM(cp)::HUGEINT AS np, SUM(cn)::HUGEINT AS nn
         |  FROM cnt),
         |w AS (SELECT b, (cp::HUGEINT * nn - cn::HUGEINT * np) AS w
         |  FROM cnt, tot)
         |SELECT doc_id, COUNT(*)::BIGINT AS n_toks,
         |  SUM(COALESCE(w, 0))::BIGINT AS score,
         |  (CASE WHEN SUM(COALESCE(w, 0)) > 0 THEN 1 ELSE 0 END)::BIGINT
         |    AS pred
         |FROM tb LEFT JOIN w ON w.b = tb.b
         |WHERE tb.doc_id % 5 = 0
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin
    })

  /** Serpentine balanced shard assignment: per-shard doc/token loads
    * after dealing token-sorted documents boustrophedon across 8
    * shards — the global rank via the range-exchange prefix scheme,
    * replayed by one window in the oracle. */
  private val x199: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      Packing.balancedShards(t(s, d, "documents"), "doc_id",
          TextAnalysis.tokenCount($"text"), nShards = 8)
        .groupBy($"shard")
        .agg(count(lit(1)).as("n_docs"), sum($"n_tokens").as("sum_tokens"))
        .orderBy($"shard")
    },
    """WITH tc AS (
      |  SELECT doc_id,
      |    GREATEST(0, COALESCE(len(string_split(text, ' ')), 0))::BIGINT
      |      AS nt
      |  FROM documents),
      |r AS (SELECT doc_id, nt,
      |    (ROW_NUMBER() OVER (ORDER BY nt DESC, doc_id) - 1)::BIGINT AS rn
      |  FROM tc)
      |SELECT CASE WHEN (rn // 8) % 2 = 0 THEN rn % 8
      |    ELSE 7 - (rn % 8) END AS shard,
      |  COUNT(*)::BIGINT AS n_docs, SUM(nt)::BIGINT AS sum_tokens
      |FROM r GROUP BY 1 ORDER BY shard""".stripMargin)

  /** Corpus-level MinHash overlap matrix across sources: one 128-slot
    * signature per source over its shingle union, pairwise
    * match-fraction Jaccard + containment estimates — portable
    * md5-based hash family, replayed slot-for-slot by the oracle. */
  private val x200: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      Dedup.corpusOverlapMatrix(t(s, d, "documents"), "source", "text",
          n = 3, k = 128)
        .orderBy($"grp_a", $"grp_b")
    },
    """WITH shw AS (
      |  SELECT source, unnest(list_distinct(
      |    [ array_to_string(s[i:least(i+2, len(s))], ' ')
      |      for i in range(1, greatest(len(s) - 1, 2)) ])) AS sh
      |  FROM (SELECT source, string_split(text, ' ') AS s FROM documents)),
      |b AS (SELECT source, sh, CAST(list_reduce([ (strpos('0123456789abcdef',
      |      substr(md5(sh), j, 1)) - 1) * pow(16, 12 - j)
      |      for j in range(1, 13) ], (x, y) -> x + y) AS BIGINT) AS base
      |  FROM shw),
      |sz AS (SELECT source, COUNT(DISTINCT sh)::BIGINT AS n_sh
      |  FROM shw GROUP BY source),
      |m AS (SELECT source, i,
      |    MIN((base * (2*i + 1) + 40099 * i) % 2147483647) AS mn
      |  FROM b CROSS JOIN (SELECT unnest(range(0, 128)) AS i)
      |  GROUP BY source, i),
      |p AS (SELECT a.source AS grp_a, b2.source AS grp_b,
      |    SUM(CASE WHEN a.mn = b2.mn THEN 1 ELSE 0 END)::BIGINT AS n_match
      |  FROM m a JOIN m b2 ON b2.i = a.i AND a.source < b2.source
      |  GROUP BY 1, 2),
      |e AS (SELECT grp_a, grp_b, n_match, sa.n_sh AS n_sh_a,
      |    sb.n_sh AS n_sh_b,
      |    ((n_match * (sa.n_sh + sb.n_sh)) // (128 + n_match)) AS i_est
      |  FROM p JOIN sz sa ON sa.source = grp_a
      |  JOIN sz sb ON sb.source = grp_b)
      |SELECT grp_a, grp_b, n_match, n_sh_a, n_sh_b,
      |  (n_match * 1000000 // 128)::BIGINT AS jaccard_est_ppm,
      |  ((i_est * 1000000) // n_sh_a)::BIGINT AS cont_a_ppm,
      |  ((i_est * 1000000) // n_sh_b)::BIGINT AS cont_b_ppm
      |FROM e ORDER BY grp_a, grp_b""".stripMargin)

  /** Incremental corpus-signature maintenance: sign two corpus slices
    * independently, MERGE (slot-wise min), refresh the overlap matrix
    * — the oracle computes the matrix FROM SCRATCH over the full
    * corpus, so the gate proves merge == full exactly. */
  private val x201: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val slices = Seq($"doc_id" % 3 =!= 0, $"doc_id" % 3 === 0).map(p =>
        Dedup.corpusSignatures(docs.filter(p), "source", "text",
          n = 3, k = 128))
      Dedup.overlapFromSignatures(
          Dedup.mergeCorpusSignatures(slices.reduce(_ unionByName _),
            k = 128), k = 128)
        .orderBy($"grp_a", $"grp_b")
    },
    """WITH shw AS (
      |  SELECT source, unnest(list_distinct(
      |    [ array_to_string(s[i:least(i+2, len(s))], ' ')
      |      for i in range(1, greatest(len(s) - 1, 2)) ])) AS sh
      |  FROM (SELECT source, string_split(text, ' ') AS s FROM documents)),
      |b AS (SELECT source, CAST(list_reduce([ (strpos('0123456789abcdef',
      |      substr(md5(sh), j, 1)) - 1) * pow(16, 12 - j)
      |      for j in range(1, 13) ], (x, y) -> x + y) AS BIGINT) AS base
      |  FROM shw),
      |m AS (SELECT source, i,
      |    MIN((base * (2*i + 1) + 40099 * i) % 2147483647) AS mn
      |  FROM b CROSS JOIN (SELECT unnest(range(0, 128)) AS i)
      |  GROUP BY source, i)
      |SELECT a.source AS grp_a, b2.source AS grp_b,
      |  SUM(CASE WHEN a.mn = b2.mn THEN 1 ELSE 0 END)::BIGINT AS n_match,
      |  (SUM(CASE WHEN a.mn = b2.mn THEN 1 ELSE 0 END)
      |    * 1000000 // 128)::BIGINT AS jaccard_est_ppm
      |FROM m a JOIN m b2 ON b2.i = a.i AND a.source < b2.source
      |GROUP BY 1, 2 ORDER BY grp_a, grp_b""".stripMargin)

  /** Dedup threshold sweep over the verified 3-gram Jaccard pair
    * list: pair and distinct-doc counts at five candidate cutoffs,
    * zeros preserved. */
  private val x202: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      val pairs = Dedup.ngramJaccardPairs(t(s, d, "documents"),
        "doc_id", "text", n = 3, threshold = 0.5)
      Dedup.dedupThresholdSweep(pairs,
          Seq(0.5, 0.6, 0.7, 0.8, 0.9), floor = 0.5)
        .orderBy($"threshold")
    },
    s"""WITH $shingleCte,
       |thr AS (SELECT unnest([0.5, 0.6, 0.7, 0.8, 0.9]) AS threshold),
       |hits AS (SELECT threshold, id_a, id_b
       |  FROM jac JOIN thr ON jaccard >= threshold),
       |np AS (SELECT threshold, COUNT(*)::BIGINT AS n_pairs
       |  FROM hits GROUP BY threshold),
       |nd AS (SELECT threshold, COUNT(DISTINCT id)::BIGINT AS n_docs
       |  FROM (SELECT threshold, unnest([id_a, id_b]) AS id FROM hits)
       |  GROUP BY threshold)
       |SELECT thr.threshold, COALESCE(n_pairs, 0)::BIGINT AS n_pairs,
       |  COALESCE(n_docs, 0)::BIGINT AS n_docs
       |FROM thr LEFT JOIN np USING (threshold)
       |LEFT JOIN nd USING (threshold)
       |ORDER BY thr.threshold""".stripMargin)

  /** Distinct-2 diversity per source: exact total/distinct bigram
    * counts and the ppm ratio — the templated-content detector. */
  private val x203: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      TextAnalysis.ngramDiversity(t(s, d, "documents"), "source", "text",
          n = 2)
        .orderBy($"grp")
    },
    """WITH toks AS (
      |  SELECT source,
      |    [t for t in string_split(text, ' ') if len(t) > 0] AS ts
      |  FROM documents),
      |gr AS (SELECT source,
      |    unnest([ ts[i] || ' ' || ts[i+1] for i in range(1, len(ts)) ])
      |      AS g
      |  FROM toks),
      |tot AS (SELECT source, COUNT(*)::BIGINT AS n_ngrams
      |  FROM gr GROUP BY source),
      |dis AS (SELECT source, COUNT(DISTINCT g)::BIGINT AS n_distinct
      |  FROM gr GROUP BY source)
      |SELECT tot.source AS grp, n_ngrams, n_distinct,
      |  (n_distinct * 1000000 // n_ngrams)::BIGINT AS distinct_ppm
      |FROM tot JOIN dis ON dis.source = tot.source
      |ORDER BY grp""".stripMargin)

  /** Packing-efficiency report at the x20 layout (per-language
    * concat-and-chunk, 512-token budget): bins, fill rate,
    * boundary-straddling docs — the same window arithmetic as x20's
    * oracle plus a per-language rollup. */
  private val x204: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      val packed = Packing.packByBudget(
        t(s, d, "documents").select($"lang", $"doc_id", $"text"),
        groupCols = Seq("lang"), orderCol = "doc_id",
        tokens = TextAnalysis.tokenCount($"text"), budget = 512L)
      Packing.packingEfficiency(packed, Seq("lang"), budget = 512L)
        .orderBy($"lang")
    },
    """WITH toks AS (
      |  SELECT lang, doc_id,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |laid AS (
      |  SELECT lang, doc_id, n_tokens,
      |    CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens
      |      AS BIGINT) AS start
      |  FROM toks),
      |binned AS (
      |  SELECT lang, n_tokens,
      |    CAST(floor(start / 512.0) AS BIGINT) AS bin,
      |    start - CAST(floor(start / 512.0) AS BIGINT) * 512 AS off
      |  FROM laid)
      |SELECT lang, (MAX(bin) + 1)::BIGINT AS n_bins,
      |  COUNT(*)::BIGINT AS n_docs,
      |  SUM(n_tokens)::BIGINT AS total_tokens,
      |  SUM(CASE WHEN off + n_tokens > 512 THEN 1 ELSE 0 END)::BIGINT
      |    AS n_straddlers,
      |  ((MAX(bin) + 1) * 512)::BIGINT AS capacity,
      |  (SUM(n_tokens) * 1000000 // ((MAX(bin) + 1) * 512))::BIGINT
      |    AS fill_ppm
      |FROM binned GROUP BY lang ORDER BY lang""".stripMargin)

  /** Matryoshka truncation recall: exact top-10 overlap between
    * full-dim (64) and prefix-dim (8/16/32) cosine rankings over the
    * %97 query panel — both rankings and the overlap replayed exactly
    * by the oracle. */
  private val x205: (Sizing => Fn, String) = (
    z => (s, d) => {
      import s.implicits._
      val emb = t(s, d, "embeddings")
      Similarity.truncationRecallAudit(
          z.capPanel(emb.filter($"vec_id" % 97 === 0), "vec_id"),
          "vec_id", "embedding", emb, "vec_id", "embedding",
          dims = Seq(8, 16, 32), k = 10)
        .orderBy($"dim")
    },
    s"""WITH q AS (SELECT vec_id, embedding FROM embeddings
       |  WHERE vec_id % 97 = 0),
       |dims AS (SELECT unnest([8, 16, 32]) AS dim),
       |fs AS (SELECT q.vec_id AS query_id, e.vec_id AS nid,
       |    ${cosineSql("q.embedding", "e.embedding")} AS c
       |  FROM q, embeddings e WHERE e.vec_id <> q.vec_id),
       |fk AS (SELECT query_id, nid FROM (
       |  SELECT query_id, nid, ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY c DESC, nid) AS r FROM fs) WHERE r <= 10),
       |ts AS (SELECT dims.dim, q.vec_id AS query_id, e.vec_id AS nid,
       |    ${cosineSql("(q.embedding[1:dims.dim])", "(e.embedding[1:dims.dim])")} AS c
       |  FROM q, embeddings e, dims WHERE e.vec_id <> q.vec_id),
       |tk AS (SELECT dim, query_id, nid FROM (
       |  SELECT dim, query_id, nid, ROW_NUMBER() OVER (
       |    PARTITION BY dim, query_id ORDER BY c DESC, nid) AS r
       |  FROM ts) WHERE r <= 10),
       |ov AS (SELECT tk.dim, COUNT(*)::BIGINT AS n_overlap
       |  FROM tk JOIN fk USING (query_id, nid) GROUP BY tk.dim),
       |nq AS (SELECT COUNT(*)::BIGINT AS n FROM q),
       |nf AS (SELECT COUNT(*)::BIGINT AS nfull FROM fk)
       |SELECT dims.dim::BIGINT AS dim, nq.n AS n_queries,
       |  COALESCE(ov.n_overlap, 0)::BIGINT AS n_overlap,
       |  (COALESCE(ov.n_overlap, 0) * 1000000 // nf.nfull)::BIGINT
       |    AS recall_ppm
       |FROM dims LEFT JOIN ov ON ov.dim = dims.dim, nq, nf
       |ORDER BY dim""".stripMargin)

  /** Persistent streaming-index round trip, end-to-end: the x193
    * pipeline (build on two reference slices, MERGE the other two)
    * with a SAVE + LOAD through [[graft.streaming.RefIndexStore]]
    * between the merge and the probe — so the gate proves that the
    * on-disk bucketed form of the index (the build-nightly /
    * probe-from-many-jobs deployment) answers byte-identically to the
    * in-session index AND to the oracle's full replay. Same oracle as
    * x193 by construction: persistence must not change a single pair.
    * The save dir is a fixed tmp location; save is an atomic
    * overwrite (staging + rename swap), so repeated runs are safe. */
  private val x206: (Sizing => Fn, String) = (
    z => (s, d) => {
      import s.implicits._
      val emb = t(s, d, "embeddings")
      val idx0 = graft.streaming.EmbedStream.semanticRefIndex(
        emb.filter(pmod($"vec_id", lit(5)).isin(1, 2)),
        "vec_id", "embedding", bands = 8, bitsPerBand = 4, dim = 64)
      val merged = graft.streaming.EmbedStream.mergeRefIndex(idx0,
        emb.filter(pmod($"vec_id", lit(5)).isin(3, 4)),
        "vec_id", "embedding")
      val dir = new java.io.File(
        sys.props("java.io.tmpdir"), "graft_x206_semidx").getAbsolutePath
      // 8 buckets at the gate's corpus size: the bucket count is a
      // layout knob, not a semantics knob (the spec's plan assert
      // holds at any count); fewer buckets = fewer files + sort runs
      // per save, and the gate pays a full save every execution
      graft.streaming.RefIndexStore.saveSemantic(merged, dir, buckets = 8)
      val loaded = graft.streaming.RefIndexStore.loadSemantic(s, dir)
      graft.streaming.EmbedStream.semanticDupMatches(
          z.capPanel(emb.filter(pmod($"vec_id", lit(5)) === 0),
            "vec_id"), loaded,
          "vec_id", "embedding", cos2Num = 4, cos2Den = 25)
        .select($"id_a", $"id_b", $"dotq", $"na", $"nb").distinct()
        .orderBy($"id_a", $"id_b")
    },
    x193._2) // persistence must not change a single pair

  /** Containments from maintained state only: two corpus slices are
    * signed AND distinct-stored independently, both indexes merged,
    * and the FULL overlap matrix (Jaccard estimate + exact
    * containments) refreshed without touching the corpus text — the
    * §7.6.7 closure made incrementable by paying for the (grp, sh)
    * distinct store. Same oracle as x200: the from-scratch full
    * matrix; maintained state must reproduce it exactly. */
  private val x207: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val slices = Seq($"doc_id" % 3 =!= 0, $"doc_id" % 3 === 0)
        .map(p => docs.filter(p))
      val sigs = Dedup.mergeCorpusSignatures(
        slices.map(Dedup.corpusSignatures(_, "source", "text",
          n = 3, k = 128)).reduce(_ unionByName _), k = 128)
      val store = Dedup.mergeDistinctShingleStores(
        slices.map(Dedup.distinctShingleStore(_, "source", "text", n = 3)))
      Dedup.containmentFromSignatures(sigs, store, k = 128)
        .orderBy($"grp_a", $"grp_b")
    },
    x200._2) // maintained state must reproduce the from-scratch matrix

  /** Persistent SIGNATURE-index round trip: x195's cross-corpus
    * SimHash pipeline with the reference index saved + loaded through
    * [[graft.streaming.RefIndexStore]] before the probe — the
    * hamming-family counterpart of x206 (which proves the semantic
    * index), same oracle as x195: the on-disk bucketed index must
    * reproduce the batch operator's pair set exactly, hot buckets
    * included (the census travels with the index). */
  private val x208: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val idx0 = graft.streaming.SimHashStream.simhashRefIndex(
        docs.filter($"doc_id" % 2 === 0), "doc_id", "text", maxHamming = 3)
      val dir = new java.io.File(
        sys.props("java.io.tmpdir"), "graft_x208_sigidx").getAbsolutePath
      graft.streaming.RefIndexStore.saveSimHash(idx0, dir, buckets = 8)
      val loaded = graft.streaming.RefIndexStore.loadSimHash(s, dir)
      graft.streaming.SimHashStream.simhashDupMatches(
          docs.filter($"doc_id" % 2 === 1), loaded, "doc_id", "text")
        .select($"id_a", $"id_b", $"hamming".cast("int").as("hamming"))
        .distinct()
        .orderBy($"id_a", $"id_b")
    },
    x195._2) // persistence must not change a single pair

  /** Persistent MINHASH-index round trip — the third index family
    * (x206 semantic, x208 simhash): x50's incremental cross-corpus
    * pipeline with the history index saved + loaded through
    * [[graft.streaming.RefIndexStore]] before the probe, same oracle
    * (the exact cross-pair Jaccard slice — LSH recall at this margin
    * is total, and the shingle payload must survive the round trip
    * byte-exactly for the verify to agree). */
  private val x209: (Fn, String) = (
    (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val idx0 = graft.streaming.MinHashStream.minhashRefIndex(
        docs.filter($"doc_id" % 2 === 0), "doc_id", "text",
        n = 3, threshold = 0.6)
      val dir = new java.io.File(
        sys.props("java.io.tmpdir"), "graft_x209_mhidx").getAbsolutePath
      graft.streaming.RefIndexStore.saveMinHash(idx0, dir, buckets = 8)
      val loaded = graft.streaming.RefIndexStore.loadMinHash(s, dir)
      graft.streaming.MinHashStream.minhashDupMatches(
          docs.filter($"doc_id" % 2 === 1), loaded, "doc_id", "text")
        .distinct()
        .orderBy($"id_a", $"id_b")
    },
    x50._2) // persistence must not change a single pair

  /** Persistent PQ SERVING index: x197's refine pipeline with the
    * codebook + codes + payload persisted through
    * [[graft.ext.AnnStore]] and served from the LOADED index — the
    * amortization mechanism for the round-10 build-vs-serve split
    * (encode once, serve many panels at the measured ~30 ms/query).
    * Same oracle as x197: persistence must not move a single rank. */
  private val x210: (Sizing => Fn, String) = (
    z => (s, d) => {
      import s.implicits._
      val emb = t(s, d, "embeddings")
      val dir = new java.io.File(
        sys.props("java.io.tmpdir"), "graft_x210_pqidx").getAbsolutePath
      graft.ext.AnnStore.savePq(
        graft.ext.AnnStore.buildPq(emb, "vec_id", "embedding",
          subspaces = 8, ksub = 16, dim = 64), dir)
      val loaded = graft.ext.AnnStore.loadPq(s, dir)
      graft.ext.AnnStore.pqServe(
          z.capPanel(emb.filter($"vec_id" % 97 === 0), "vec_id"),
          "vec_id", "embedding", loaded, k = 10, refine = 4)
        .select($"query_id", $"rank", $"corpus_id",
          (floor($"cosine" * 1e6 + 0.5) / 1e6).as("cos6"))
        .orderBy($"query_id", $"rank")
    },
    x197._2) // persistence must not move a single rank

  /** Append-slices index layout ([[graft.streaming.RefIndexSlices]]):
    * the same two-slice semantic build as x193/x206, but each slice
    * APPENDED to the store (write cost ∝ slice, manifest-committed)
    * instead of merged-and-rewritten; the combined load re-derives
    * every row's sub against the census merged from per-slice counts.
    * Same oracle as x193: the sliced layout must reproduce the full
    * rebuild's pair set exactly. */
  private val x211: (Sizing => Fn, String) = (
    z => (s, d) => {
      import s.implicits._
      val emb = t(s, d, "embeddings")
      val dir = new java.io.File(
        sys.props("java.io.tmpdir"), "graft_x211_slicedidx").getAbsolutePath
      // appends accumulate by design — reset the store per execution
      // so the gate's repeated runs (verify + bench medians) always
      // measure the same two-slice build
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      graft.streaming.RefIndexSlices.appendSemantic(
        emb.filter(pmod($"vec_id", lit(5)).isin(1, 2)), dir,
        "vec_id", "embedding", bands = 8, bitsPerBand = 4, dim = 64)
      graft.streaming.RefIndexSlices.appendSemantic(
        emb.filter(pmod($"vec_id", lit(5)).isin(3, 4)), dir,
        "vec_id", "embedding")
      val loaded = graft.streaming.RefIndexSlices.loadSemantic(s, dir)
      graft.streaming.EmbedStream.semanticDupMatches(
          z.capPanel(emb.filter(pmod($"vec_id", lit(5)) === 0),
            "vec_id"), loaded,
          "vec_id", "embedding", cos2Num = 4, cos2Den = 25)
        .select($"id_a", $"id_b", $"dotq", $"na", $"nb").distinct()
        .orderBy($"id_a", $"id_b")
    },
    x193._2) // the sliced layout must reproduce the full rebuild

  /** Persistent IVF-PQ SERVING index ([[graft.ext.AnnStore]]
    * buildIvfPq/saveIvfPq/loadIvfPq/ivfPqServe): x181's pipeline with
    * centroids + codebook + cluster-assigned codes persisted, the
    * codes PARTITIONED BY cluster so the served batch's probed
    * clusters prune whole directories — the inverted-list read
    * pattern at lake-layout granularity (flat-PQ serving scans every
    * code; this reads nProbe/nCentroids of them). Same oracle as
    * x181: persistence + pruning must not move a single rank. */
  private val x212: (Sizing => Fn, String) = (
    z => (s, d) => {
      import s.implicits._
      val emb = t(s, d, "embeddings")
      val dir = new java.io.File(
        sys.props("java.io.tmpdir"), "graft_x212_ivfpqidx").getAbsolutePath
      graft.ext.AnnStore.saveIvfPq(
        graft.ext.AnnStore.buildIvfPq(emb, "vec_id", "embedding",
          subspaces = 8, ksub = 16, dim = 64, nCentroids = 16,
          rounds = 2), dir)
      val loaded = graft.ext.AnnStore.loadIvfPq(s, dir)
      graft.ext.AnnStore.ivfPqServe(
          z.capPanel(emb.filter($"vec_id" % 97 === 0), "vec_id"),
          "vec_id", "embedding", loaded, k = 10, nProbe = 4)
        .orderBy($"query_id", $"rank")
    },
    x181._2) // persistence + partition pruning must not move a rank

  /** INCREMENTAL PQ index maintenance ([[graft.ext.AnnStore]]
    * createPqSliced/appendPq/loadPqSliced): the codebook freezes at
    * create (standard PQ practice — train once, encode forever) and
    * each ingest batch is encoded and committed as a slice, so the
    * nightly write cost is ∝ the batch where savePq re-encodes and
    * re-writes the whole corpus. Serving unions the slices; the
    * candidate prune pushes into every slice's sorted payload. Same
    * oracle as x197/x210: two appends must serve exactly like the
    * one-shot pipeline. */
  private val x213: (Sizing => Fn, String) = (
    z => (s, d) => {
      import s.implicits._
      val emb = t(s, d, "embeddings")
      val cb = Similarity.pqCodebook(emb, "vec_id", "embedding",
        subspaces = 8, ksub = 16, dim = 64)
      val dir = new java.io.File(
        sys.props("java.io.tmpdir"), "graft_x213_pqslices").getAbsolutePath
      // appends accumulate by design — reset the store per execution
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      graft.ext.AnnStore.createPqSliced(s, dir, cb, dim = 64)
      graft.ext.AnnStore.appendPq(
        emb.filter(pmod($"vec_id", lit(2)) === 0), dir, "vec_id", "embedding")
      graft.ext.AnnStore.appendPq(
        emb.filter(pmod($"vec_id", lit(2)) === 1), dir, "vec_id", "embedding")
      val loaded = graft.ext.AnnStore.loadPqSliced(s, dir)
      graft.ext.AnnStore.pqServe(
          z.capPanel(emb.filter($"vec_id" % 97 === 0), "vec_id"),
          "vec_id", "embedding", loaded, k = 10, refine = 4)
        .select($"query_id", $"rank", $"corpus_id",
          (floor($"cosine" * 1e6 + 0.5) / 1e6).as("cos6"))
        .orderBy($"query_id", $"rank")
    },
    x197._2) // frozen-codebook appends must not move a single rank

  /** INCREMENTAL IVF-PQ maintenance ([[graft.ext.AnnStore]]
    * createIvfPqSliced/appendIvfPq/loadIvfPqSliced): the production
    * serving layout (x212's cluster-partitioned codes) finally gets
    * the append path x213 gave flat PQ — coarse centroids AND the PQ
    * codebook freeze at create, each ingest batch is assigned +
    * encoded (both per-row functions of the frozen artifacts) and
    * committed as a cluster-partitioned code slice, so the nightly
    * refresh costs ∝ batch where saveIvfPq re-trains + re-encodes +
    * re-writes the corpus. Serving unions the slices; the probed-
    * cluster predicate prunes directories inside every slice. Same
    * oracle as x181/x212: two appends must serve exactly like the
    * one-shot build. */
  private val x214: (Sizing => Fn, String) = (
    z => (s, d) => {
      import s.implicits._
      val emb = t(s, d, "embeddings")
      val built = graft.ext.AnnStore.buildIvfPq(emb, "vec_id", "embedding",
        subspaces = 8, ksub = 16, dim = 64, nCentroids = 16, rounds = 2)
      val dir = new java.io.File(
        sys.props("java.io.tmpdir"), "graft_x214_ivfpqslices").getAbsolutePath
      // appends accumulate by design — reset the store per execution
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      graft.ext.AnnStore.createIvfPqSliced(s, dir, built.codebook,
        built.cents, dim = 64)
      graft.ext.AnnStore.appendIvfPq(
        emb.filter(pmod($"vec_id", lit(2)) === 0), dir, "vec_id", "embedding")
      graft.ext.AnnStore.appendIvfPq(
        emb.filter(pmod($"vec_id", lit(2)) === 1), dir, "vec_id", "embedding")
      val loaded = graft.ext.AnnStore.loadIvfPqSliced(s, dir)
      graft.ext.AnnStore.ivfPqServe(
          z.capPanel(emb.filter($"vec_id" % 97 === 0), "vec_id"),
          "vec_id", "embedding", loaded, k = 10, nProbe = 4)
        .orderBy($"query_id", $"rank")
    },
    x181._2) // frozen-artifact appends must not move a single rank

  /** Sliced-PQ COMPACTION ([[graft.ext.AnnStore.compactPq]]): two
    * appended slices collapsed into one (codes unioned, payload
    * globally re-sorted on corpus_id so the serving candidate prune
    * keeps its row-group stats), CAS replace-manifest + graced sweep,
    * then served. Same oracle as x197/x210/x213: compaction re-lays
    * out the index, it must not move a single rank. */
  private val x215: (Sizing => Fn, String) = (
    z => (s, d) => {
      import s.implicits._
      val emb = t(s, d, "embeddings")
      val cb = Similarity.pqCodebook(emb, "vec_id", "embedding",
        subspaces = 8, ksub = 16, dim = 64)
      val dir = new java.io.File(
        sys.props("java.io.tmpdir"), "graft_x215_pqcompact").getAbsolutePath
      // appends accumulate by design — reset the store per execution
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      graft.ext.AnnStore.createPqSliced(s, dir, cb, dim = 64)
      graft.ext.AnnStore.appendPq(
        emb.filter(pmod($"vec_id", lit(2)) === 0), dir, "vec_id", "embedding")
      graft.ext.AnnStore.appendPq(
        emb.filter(pmod($"vec_id", lit(2)) === 1), dir, "vec_id", "embedding")
      graft.ext.AnnStore.compactPq(s, dir)
      val loaded = graft.ext.AnnStore.loadPqSliced(s, dir)
      graft.ext.AnnStore.pqServe(
          z.capPanel(emb.filter($"vec_id" % 97 === 0), "vec_id"),
          "vec_id", "embedding", loaded, k = 10, refine = 4)
        .select($"query_id", $"rank", $"corpus_id",
          (floor($"cosine" * 1e6 + 0.5) / 1e6).as("cos6"))
        .orderBy($"query_id", $"rank")
    },
    x197._2) // compaction must not move a single rank

  /** IVF-PQ + EXACT REFINE serving ([[graft.ext.AnnStore]]
    * saveIvfPq(withPayload)/ivfPqServeRefined) — the full production
    * ANN chain (FAISS's IVFPQ + RFlat): coarse routing prunes the
    * cluster-partitioned codes read at DIRECTORY level, ADC proposes
    * k·refine candidates from the probed lists, and only those read
    * their float vectors from the corpus_id-sorted payload for the
    * exact cosine re-rank. Both scans bounded: codes ∝
    * nProbe/nCentroids, payload ∝ candidates. Oracle: x181's
    * routing + ADC chain widened to k·refine, then x197's re-rank
    * tail — fully integer until the final double cosine, so DuckDB
    * replays every rank. */
  private val x216: (Sizing => Fn, String) = (
    z => (s, d) => {
      import s.implicits._
      val emb = t(s, d, "embeddings")
      val dir = new java.io.File(
        sys.props("java.io.tmpdir"), "graft_x216_ivfpqrefine").getAbsolutePath
      graft.ext.AnnStore.saveIvfPq(
        graft.ext.AnnStore.buildIvfPq(emb, "vec_id", "embedding",
          subspaces = 8, ksub = 16, dim = 64, nCentroids = 16,
          rounds = 2), dir, withPayload = true)
      val loaded = graft.ext.AnnStore.loadIvfPq(s, dir)
      graft.ext.AnnStore.ivfPqServeRefined(
          z.capPanel(emb.filter($"vec_id" % 97 === 0), "vec_id"),
          "vec_id", "embedding", loaded, k = 10, nProbe = 4, refine = 4)
        .select($"query_id", $"rank", $"corpus_id",
          (floor($"cosine" * 1e6 + 0.5) / 1e6).as("cos6"))
        .orderBy($"query_id", $"rank")
    }, {
      val (ctes, asgRel, centRel) =
        Similarity.kmeansLloydCtes("embeddings", k = 16, rounds = 2)
      s"""WITH $ctes,
         |psel AS (SELECT vec_id, q8,
         |    ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS code
         |  FROM (SELECT vec_id, q8 FROM q
         |        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16)),
         |pcb AS (SELECT ms.mm, psel.code,
         |    list_slice(psel.q8, ms.mm * 8 + 1, ms.mm * 8 + 8) AS cvec
         |  FROM psel, (SELECT unnest(range(8)) AS mm) ms),
         |penc AS (SELECT vec_id, mm, code FROM (
         |  SELECT c.vec_id, pcb.mm, pcb.code,
         |    ROW_NUMBER() OVER (PARTITION BY c.vec_id, pcb.mm
         |      ORDER BY list_sum(list_transform(range(1, 9),
         |        i -> (c.q8[pcb.mm * 8 + i] - pcb.cvec[i])
         |           * (c.q8[pcb.mm * 8 + i] - pcb.cvec[i]))), pcb.code)
         |      AS r
         |  FROM q c, pcb) WHERE r = 1),
         |qsel AS (SELECT vec_id AS query_id, q8 FROM q
         |         WHERE vec_id % 97 = 0),
         |qdq AS (SELECT qs.query_id, c.cluster,
         |    list_sum([ (qs.q8[j] - c.cvec[j]) * (qs.q8[j] - c.cvec[j])
         |               for j in range(1, len(qs.q8) + 1) ])::BIGINT
         |      AS d2c
         |  FROM qsel qs CROSS JOIN $centRel c),
         |qpr AS (SELECT query_id, cluster FROM (
         |  SELECT query_id, cluster,
         |    ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY d2c, cluster) AS pr
         |  FROM qdq) WHERE pr <= 4),
         |pdist AS (SELECT qpr.query_id, a.vec_id AS corpus_id,
         |    SUM(list_sum(list_transform(range(1, 9),
         |      i -> (qs.q8[penc.mm * 8 + i] - pcb.cvec[i])
         |         * (qs.q8[penc.mm * 8 + i] - pcb.cvec[i]))))::BIGINT AS d2
         |  FROM qpr
         |  JOIN $asgRel a ON a.cluster = qpr.cluster
         |  JOIN penc ON penc.vec_id = a.vec_id
         |  JOIN pcb ON pcb.mm = penc.mm AND pcb.code = penc.code
         |  JOIN qsel qs ON qs.query_id = qpr.query_id
         |  GROUP BY 1, 2),
         |cand AS (SELECT query_id, corpus_id FROM (
         |  SELECT query_id, corpus_id,
         |    ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY d2, corpus_id) AS r
         |  FROM pdist) WHERE r <= 40),
         |rer AS (
         |  SELECT cand.query_id, cand.corpus_id,
         |    ${cosineSql("qe.embedding", "ce.embedding")} AS cosine
         |  FROM cand
         |  JOIN embeddings qe ON qe.vec_id = cand.query_id
         |  JOIN embeddings ce ON ce.vec_id = cand.corpus_id)
         |SELECT query_id, rank, corpus_id,
         |  floor(cosine * 1e6 + 0.5) / 1e6 AS cos6 FROM (
         |  SELECT query_id, corpus_id, cosine,
         |    ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY cosine DESC, corpus_id)::BIGINT AS rank
         |  FROM rer) WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin
    })

  /** x216's chain served from the SLICED store — frozen-artifact
    * appends with payload slices, refined serve over the slice union
    * (candidate prune pushing into every slice's sorted payload,
    * cluster prune into every slice's partitioned codes). Same oracle
    * as x216: the layout must not move a single refined rank. */
  private val x217: (Sizing => Fn, String) = (
    z => (s, d) => {
      import s.implicits._
      val emb = t(s, d, "embeddings")
      val built = graft.ext.AnnStore.buildIvfPq(emb, "vec_id", "embedding",
        subspaces = 8, ksub = 16, dim = 64, nCentroids = 16, rounds = 2)
      val dir = new java.io.File(
        sys.props("java.io.tmpdir"), "graft_x217_ivfpqrefslices").getAbsolutePath
      // appends accumulate by design — reset the store per execution
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      graft.ext.AnnStore.createIvfPqSliced(s, dir, built.codebook,
        built.cents, dim = 64, withPayload = true)
      graft.ext.AnnStore.appendIvfPq(
        emb.filter(pmod($"vec_id", lit(2)) === 0), dir, "vec_id", "embedding")
      graft.ext.AnnStore.appendIvfPq(
        emb.filter(pmod($"vec_id", lit(2)) === 1), dir, "vec_id", "embedding")
      val loaded = graft.ext.AnnStore.loadIvfPqSliced(s, dir)
      graft.ext.AnnStore.ivfPqServeRefined(
          z.capPanel(emb.filter($"vec_id" % 97 === 0), "vec_id"),
          "vec_id", "embedding", loaded, k = 10, nProbe = 4, refine = 4)
        .select($"query_id", $"rank", $"corpus_id",
          (floor($"cosine" * 1e6 + 0.5) / 1e6).as("cos6"))
        .orderBy($"query_id", $"rank")
    },
    x216._2) // the sliced layout must not move a single refined rank

  /** Every extension query with its oracle SQL; the 22 sized ones
    * (ANN query panels, sampled-truth audits) run at `z`. */
  def all(z: Sizing): Seq[(String, (Fn, Option[String]))] = Seq(
    "x01_dedup_exact" -> (x01._1, Some(x01._2)),
    "x02_dedup_ngram_jaccard" -> (x02._1, Some(x02._2)),
    "x03_dedup_minhash_lsh" -> (x03._1, Some(x03._2)),
    "x04_dedup_simhash" -> (x04._1, Some(x04._2)),
    "x05_dedup_embedding_cosine" -> (x05._1, Some(x05._2)),
    "x06_ann_bruteforce_topk" -> (x06._1, Some(x06._2)),
    "x07_text_stats_quality" -> (x07._1, Some(x07._2)),
    "x08_langid_markers" -> (x08._1, Some(x08._2)),
    "x09_doc_fingerprint" -> (x09._1, Some(x09._2)),
    "x10_multimodal_metadata" -> (x10._1, Some(x10._2)),
    "x11_salted_skew_join" -> (x11._1, Some(x11._2)),
    "x12_asof_join" -> (x12._1, Some(x12._2)),
    "x13_sessionize" -> (x13._1, Some(x13._2)),
    "x14_ann_ivf_topk" -> (x14._1, Some(x14._2)),
    "x15_ann_lsh_topk" -> (x15._1, Some(x15._2)),
    "x16_subword_punct" -> (x16._1, Some(x16._2)),
    "x17_stop_shingles" -> (x17._1, Some(x17._2)),
    "x18_dedup_clusters" -> (x18._1, Some(x18._2)),
    "x19_stratified_sample" -> (x19._1, Some(x19._2)),
    "x20_pack_contexts" -> (x20._1, Some(x20._2)),
    "x21_term_relevance" -> (x21._1, Some(x21._2)),
    "x22_range_join_sessions" -> (x22._1, Some(x22._2)),
    "x23_decontamination" -> (x23._1, Some(x23._2)),
    "x24_repetition_signals" -> (x24._1, Some(x24._2)),
    "x25_chunk_tokens" -> (x25._1, Some(x25._2)),
    "x26_embedding_centroids" -> (x26._1, Some(x26._2)),
    "x27_quality_quantile" -> (x27._1, Some(x27._2)),
    "x28_vocab_coverage" -> (x28._1, Some(x28._2)),
    "x29_budget_curation" -> (x29._1, Some(x29._2)),
    "x30_embedding_quantize" -> (x30._1, Some(x30._2)),
    "x31_gopher_rules" -> (x31._1, Some(x31._2)),
    "x32_duplicate_chunks" -> (x32._1, Some(x32._2)),
    "x33_incremental_dedup" -> (x33._1, Some(x33._2)),
    "x34_pii_redaction" -> (x34._1, Some(x34._2)),
    "x35_fuzzy_blocked_join" -> (x35._1, Some(x35._2)),
    "x36_zorder_key" -> (x36._1, Some(x36._2)),
    "x37_bpe_pair_counts" -> (x37._1, Some(x37._2)),
    "x38_mixture_sampling" -> (x38._1, Some(x38._2)),
    "x39_skew_key_profile" -> (x39._1, Some(x39._2)),
    "x40_snapshot_diff" -> (x40._1, Some(x40._2)),
    "x41_native_topk" -> (x41._1, Some(x41._2)),
    "x42_pagerank" -> (x42._1, Some(x42._2)),
    "x43_corpus_drift" -> (x43._1, Some(x43._2)),
    "x44_histogram_profile" -> (x44._1, Some(x44._2)),
    "x45_simhash_pairs" -> (x45._1, Some(x45._2)),
    "x46_dedup_corpus" -> (x46._1, Some(x46._2)),
    "x47_decontaminate_spans" -> (x47._1, Some(x47._2)),
    "x48_unigram_surprisal" -> (x48._1, Some(x48._2)),
    "x49_column_profile" -> (x49._1, Some(x49._2)),
    "x50_incremental_neardup" -> (x50._1, Some(x50._2)),
    "x51_bigram_surprisal" -> (x51._1, Some(x51._2)),
    "x52_triangle_counts" -> (x52._1, Some(x52._2)),
    "x53_bm25_top_terms" -> (x53._1, Some(x53._2)),
    "x54_robust_outliers" -> (x54._1, Some(x54._2)),
    "x55_pmi_collocations" -> (x55._1, Some(x55._2)),
    "x56_kcore_members" -> (x56._1, Some(x56._2)),
    "x57_label_propagation" -> (x57._1, Some(x57._2)),
    "x58_heavy_hitters" -> (x58._1, Some(x58._2)),
    "x59_funnel_stages" -> (x59._1, Some(x59._2)),
    "x60_retention_cohorts" -> (x60._1, Some(x60._2)),
    "x61_fd_discovery" -> (x61._1, Some(x61._2)),
    "x62_semantic_dedup_int8" -> (x62._1, Some(x62._2)),
    "x63_quantile_sketch" -> (x63._1, Some(x63._2)),
    "x64_weighted_sample" -> (x64._1, Some(x64._2)),
    "x65_inverted_index" -> (x65._1, Some(x65._2)),
    "x66_source_overlap" -> (x66._1, Some(x66._2)),
    "x67_checksum_pii" -> (x67._1, Some(x67._2)),
    "x68_cdc_chunks" -> (x68._1, Some(x68._2)),
    "x69_kmeans_assign" -> (x69._1, Some(x69._2)),
    "x70_url_canonicalize" -> (x70._1, Some(x70._2)),
    "x71_skipgram_counts" -> (x71._1, Some(x71._2)),
    "x72_decayed_score" -> (x72._1, Some(x72._2)),
    "x73_transition_counts" -> (x73._1, Some(x73._2)),
    "x74_funnel_within" -> (x74._1, Some(x74._2)),
    "x75_boilerplate_prune" -> (x75._1, Some(x75._2)),
    "x76_containment_pairs" -> (x76._1, Some(x76._2)),
    "x77_hard_negatives" -> (x77._1, Some(x77._2)),
    "x78_session_paths" -> (x78._1, Some(x78._2)),
    "x79_trailing_window" -> (x79._1, Some(x79._2)),
    "x80_count_of_counts" -> (x80._1, Some(x80._2)),
    "x81_gap_fill" -> (x81._1, Some(x81._2)),
    "x82_interval_coverage" -> (x82._1, Some(x82._2)),
    "x83_hits" -> (x83._1, Some(x83._2)),
    "x84_rrf_fusion" -> (x84._1, Some(x84._2)),
    "x85_negative_sampling" -> (x85._1, Some(x85._2)),
    "x86_equal_freq_bins" -> (x86._1, Some(x86._2)),
    "x87_kmeans_lloyd" -> (x87._1, Some(x87._2)),
    "x88_hll_shard_union" -> (x88._1, Some(x88._2)),
    "x89_basket_lift" -> (x89._1, Some(x89._2)),
    "x90_epoch_shuffle" -> (x90._1, Some(x90._2)),
    "x91_overlap_spans" -> (x91._1, Some(x91._2)),
    "x92_rendezvous_shard" -> (x92._1, Some(x92._2)),
    "x93_kn_continuation" -> (x93._1, Some(x93._2)),
    "x94_internal_repeats" -> (x94._1, Some(x94._2)),
    "x95_two_hop_counts" -> (x95._1, Some(x95._2)),
    "x96_degree_profile" -> (x96._1, Some(x96._2)),
    "x97_weighted_jaccard" -> (x97._1, Some(x97._2)),
    "x98_kmv_join_estimate" -> (x98._1, Some(x98._2)),
    "x99_ks_distance" -> (x99._1, Some(x99._2)),
    "x100_benford_profile" -> (x100._1, Some(x100._2)),
    "x101_pareto_frontier" -> (x101._1, Some(x101._2)),
    "x102_sorted_neighbor_pairs" -> (x102._1, Some(x102._2)),
    "x103_trend_slope" -> (x103._1, Some(x103._2)),
    "x104_retention_ppm" -> (x104._1, Some(x104._2)),
    "x105_bfs_distances" -> (x105._1, Some(x105._2)),
    "x106_token_entropy" -> (x106._1, Some(x106._2)),
    "x107_cms_estimates" -> (x107._1, Some(x107._2)),
    "x108_fs_linkage" -> (x108._1, Some(x108._2)),
    "x109_personalized_pagerank" -> (x109._1, Some(x109._2)),
    "x110_shingle_novelty" -> (x110._1, Some(x110._2)),
    "x111_privacy_audit" -> (x111._1, Some(x111._2)),
    "x112_leakage_safe_split" -> (x112._1, Some(x112._2)),
    "x113_auc_exact" -> (x113._1, Some(x113._2)),
    "x114_calibration_bins" -> (x114._1, Some(x114._2)),
    "x115_cohen_kappa" -> (x115._1, Some(x115._2)),
    "x116_retrieval_eval" -> (x116._1, Some(x116._2)),
    "x117_group_panel_sample" -> (x117._1, Some(x117._2)),
    "x118_int8_gram" -> (x118._1, Some(x118._2)),
    "x119_modularity" -> (x119._1, Some(x119._2)),
    "x120_information_gain" -> (x120._1, Some(x120._2)),
    "x121_weighted_median" -> (x121._1, Some(x121._2)),
    "x122_kl_drift" -> (x122._1, Some(x122._2)),
    "x123_clustering_coefficient" -> (x123._1, Some(x123._2)),
    "x124_spearman" -> (x124._1, Some(x124._2)),
    "x125_chao1_vocab" -> (x125._1, Some(x125._2)),
    "x126_domain_cap" -> (x126._1, Some(x126._2)),
    "x127_mixture_quota" -> (x127._1, Some(x127._2)),
    "x128_bloom_semi_join" -> (x128._1, Some(x128._2)),
    "x129_normalize_text" -> (x129._1, Some(x129._2)),
    "x130_concentration" -> (x130._1, Some(x130._2)),
    "x131_rolling_mad" -> (x131._1, Some(x131._2)),
    "x132_component_sizes" -> (x132._1, Some(x132._2)),
    "x133_percentile_rank" -> (x133._1, Some(x133._2)),
    "x134_mine_positives" -> (x134._1, Some(x134._2)),
    "x135_decile_lift" -> (x135._1, Some(x135._2)),
    "x136_quantile_map" -> (x136._1, Some(x136._2)),
    "x137_lag_autocorr" -> (x137._1, Some(x137._2)),
    "x138_zipf_slope" -> (x138._1, Some(x138._2)),
    "x139_trimmed_mean" -> (x139._1, Some(x139._2)),
    "x140_class_tfidf" -> (x140._1, Some(x140._2)),
    "x141_ab_chisq" -> (x141._1, Some(x141._2)),
    "x142_lsh_banding_audit" -> (x142._1(z), Some(x142._2)),
    "x143_principal_direction" -> (x143._1, Some(x143._2)),
    "x144_bootstrap_ci" -> (x144._1, Some(x144._2)),
    "x145_winnow_fingerprints" -> (x145._1, Some(x145._2)),
    "x146_term_burstiness" -> (x146._1, Some(x146._2)),
    "x147_rank_biased_overlap" -> (x147._1, Some(x147._2)),
    "x148_cross_surprisal" -> (x148._1, Some(x148._2)),
    "x149_cusum_changepoint" -> (x149._1, Some(x149._2)),
    "x150_transition_entropy" -> (x150._1, Some(x150._2)),
    "x151_rolling_active" -> (x151._1, Some(x151._2)),
    "x152_mutual_neighbors" -> (x152._1, Some(x152._2)),
    "x153_winsorized_mean" -> (x153._1, Some(x153._2)),
    "x154_lang_segments" -> (x154._1, Some(x154._2)),
    "x155_lateness_profile" -> (x155._1, Some(x155._2)),
    "x156_golden_record" -> (x156._1, Some(x156._2)),
    "x157_json_key_profile" -> (x157._1, Some(x157._2)),
    "x158_knn_label_noise" -> (x158._1, Some(x158._2)),
    "x159_oov_curve" -> (x159._1, Some(x159._2)),
    "x160_pit_feature_join" -> (x160._1, Some(x160._2)),
    "x161_sequence_surprisal" -> (x161._1, Some(x161._2)),
    "x162_embedding_isotropy" -> (x162._1, Some(x162._2)),
    "x163_merge_retrieved_chunks" -> (x163._1, Some(x163._2)),
    "x164_majority_label" -> (x164._1, Some(x164._2)),
    "x165_curation_pipeline" -> (x165._1, Some(x165._2)),
    "x166_mann_kendall" -> (x166._1, Some(x166._2)),
    "x167_theil_sen" -> (x167._1, Some(x167._2)),
    "x168_interval_overlap" -> (x168._1, Some(x168._2)),
    "x169_mutual_banding_audit" -> (x169._1(z), Some(x169._2)),
    "x170_knn_banding_audit" -> (x170._1(z), Some(x170._2)),
    "x171_concurrent_intervals" -> (x171._1, Some(x171._2)),
    "x172_pq_adc_topk" -> (x172._1(z), Some(x172._2)),
    "x173_ra_link_prediction" -> (x173._1, Some(x173._2)),
    "x174_ndcg_at_k" -> (x174._1, Some(x174._2)),
    "x175_vocab_growth" -> (x175._1, Some(x175._2)),
    "x176_fleiss_kappa" -> (x176._1, Some(x176._2)),
    "x177_interval_pair_join" -> (x177._1, Some(x177._2)),
    "x178_pq_recall_audit" -> (x178._1(z), Some(x178._2)),
    "x179_stable_dense_ids" -> (x179._1, Some(x179._2)),
    "x180_farthest_point_sample" -> (x180._1, Some(x180._2)),
    "x181_ivf_pq_topk" -> (x181._1(z), Some(x181._2)),
    "x182_nucleus_vocab" -> (x182._1, Some(x182._2)),
    "x183_sqrt_temperature_mix" -> (x183._1, Some(x183._2)),
    "x184_semantic_banding_audit" -> (x184._1(z), Some(x184._2)),
    "x185_dsir_importance" -> (x185._1, Some(x185._2)),
    "x186_unimax_allocation" -> (x186._1, Some(x186._2)),
    "x187_jl_distortion_audit" -> (x187._1, Some(x187._2)),
    "x188_semantic_dedup_incremental" -> (x188._1, Some(x188._2)),
    "x189_semantic_dedup_ivf" -> (x189._1, Some(x189._2)),
    "x190_substring_dedup" -> (x190._1, Some(x190._2)),
    "x191_semantic_dedup_corpus" -> (x191._1, Some(x191._2)),
    "x192_semantic_ivf_audit" -> (x192._1(z), Some(x192._2)),
    "x193_semantic_index_merge" -> (x193._1(z), Some(x193._2)),
    "x194_bm25_retrieval" -> (x194._1(z), Some(x194._2)),
    "x195_simhash_incremental" -> (x195._1, Some(x195._2)),
    "x196_hybrid_retrieval" -> (x196._1(z), Some(x196._2)),
    "x197_pq_refine_topk" -> (x197._1(z), Some(x197._2)),
    "x198_rocchio_classifier" -> (x198._1, Some(x198._2)),
    "x199_balanced_shards" -> (x199._1, Some(x199._2)),
    "x200_corpus_overlap_matrix" -> (x200._1, Some(x200._2)),
    "x201_signature_merge_overlap" -> (x201._1, Some(x201._2)),
    "x202_dedup_threshold_sweep" -> (x202._1, Some(x202._2)),
    "x203_ngram_diversity" -> (x203._1, Some(x203._2)),
    "x204_packing_efficiency" -> (x204._1, Some(x204._2)),
    "x205_truncation_recall" -> (x205._1(z), Some(x205._2)),
    "x206_persistent_index_probe" -> (x206._1(z), Some(x206._2)),
    "x207_containment_from_store" -> (x207._1, Some(x207._2)),
    "x208_persistent_sig_index" -> (x208._1, Some(x208._2)),
    "x209_persistent_minhash_index" -> (x209._1, Some(x209._2)),
    "x210_persistent_pq_serve" -> (x210._1(z), Some(x210._2)),
    "x211_sliced_index_probe" -> (x211._1(z), Some(x211._2)),
    "x212_persistent_ivfpq_serve" -> (x212._1(z), Some(x212._2)),
    "x213_pq_append_serve" -> (x213._1(z), Some(x213._2)),
    "x214_ivfpq_append_serve" -> (x214._1(z), Some(x214._2)),
    "x215_pq_compact_serve" -> (x215._1(z), Some(x215._2)),
    "x216_ivfpq_refine_serve" -> (x216._1(z), Some(x216._2)),
    "x217_ivfpq_sliced_refine" -> (x217._1(z), Some(x217._2)),
  )
}
