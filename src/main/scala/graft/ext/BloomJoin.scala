package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Bloom-prefiltered semi join: exact `big ⋉ small` where the big
  * side is prefiltered by a Bloom filter of the small side's keys
  * BEFORE anything shuffles.
  *
  * The motivating shape at 100 TB: "keep only the events/lines whose
  * key appears in this month's 10⁷-row allowlist". A plain semi join
  * shuffles the ENTIRE big side on the key; a broadcast semi join
  * needs the allowlist to fit comfortably in every executor. The
  * Bloom path ships a fixed 2^17-bit bitmap (16 KiB — size
  * independent of the allowlist) to every task, drops the vast
  * majority of non-matching rows at scan speed inside the scan
  * stage, and only the survivors (true matches + the bounded
  * false-positive residue) enter the exact semi join that makes the
  * result provably identical to `big ⋉ small`. This is the manual
  * form of the runtime-filter/bloom-pushdown optimization in modern
  * engines, made explicit and engine-checkable.
  *
  * Hashing is Kirsch–Mitzenmacher double hashing over the codegen'd
  * native xxhash64: pos_i = (h1 + i·h2) mod m with h1/h2 two
  * independently-seeded xxhash64 draws — TWO cheap integer hashes per
  * probed row for any h, not h string digests, which is the
  * scan-speed difference at 100 TB (this filter lives and dies
  * inside one query, so no cross-engine digest stability is needed —
  * a hash choice can only move the false-positive rate, never the
  * result).
  * The bitset is built DISTRIBUTIVELY as per-word bit_or aggregates —
  * the driver materializes only the finished m/64-long word array
  * (16 KiB at defaults, bounded metadata like a sketch, never the
  * key stream). False positives cost only wasted shuffle rows, never
  * correctness; false negatives cannot happen, so no matching row is
  * ever lost.
  */
object BloomJoin {

  val DefaultBits = 1 << 17 // m = 131072 bits → 2048-word bitmap
  val DefaultHashes = 5

  /** The i-th bit position of `value` (string column): double hashing
    * (h1 + i·h2) mod m over two seeded xxhash64 draws. pmod of the
    * possibly-negative 64-bit sum keeps the position in [0, m). */
  private def posCol(value: Column, i: Int, m: Int): Column = {
    val h1 = xxhash64(value)
    val h2 = xxhash64(value, lit("km2"))
    pmod(h1 + lit(i.toLong) * h2, lit(m.toLong)).cast("int")
  }

  /** Exact semi join `big ⋉ small` with Bloom prefiltering on
    * `big`. Keys compare as their string rendering for hashing (the
    * exact join itself compares the native values). NULL keys never
    * match (equality semantics), identical to a plain semi join. */
  def bloomSemiJoin(big: DataFrame, small: DataFrame,
                    bigKey: String, smallKey: String,
                    m: Int = DefaultBits, h: Int = DefaultHashes)
      : DataFrame = {
    // double hashing imposes no structural limit on h (the old md5
    // slicing capped it at 5 disjoint digest slices); 16 covers any
    // sane false-positive target
    require(m >= 64 && m % 64 == 0 && h >= 1 && h <= 16,
      "need m a positive multiple of 64, 1 <= h <= 16")
    // no distinct: duplicate keys OR the same bits — a dedup shuffle
    // of the allowlist would be pure waste
    val keys = small.select(col(smallKey).cast("string").as("_v"))
      .filter(col("_v").isNotNull)
    // distributive bitset: positions → (word, mask) → per-word bit_or;
    // the shuffle carries ≤ m/64 words, not the key stream
    val one = lit(1L).cast("long")
    val words = keys
      .select(explode(array((0 until h).map(i => posCol(col("_v"), i, m)): _*))
        .as("_pos"))
      .select((col("_pos") / 64).cast("int").as("_w"),
        call_function("shiftleft", one, pmod(col("_pos"), lit(64))).as("_m"))
      .groupBy("_w").agg(bit_or(col("_m")).as("_bits"))
      .collect()
    val bitmap = new Array[Long](m / 64)
    words.foreach(r => bitmap(r.getInt(0)) = r.getLong(1))
    val bitsLit = typedLit(bitmap.toSeq)
    // two integer hashes per probed row; h masked reads against the
    // constant word array
    val kv = col(bigKey).cast("string")
    val probe = (0 until h).map { i =>
      val p = posCol(kv, i, m)
      (element_at(bitsLit, (p / 64).cast("int") + 1)
        .bitwiseAND(call_function("shiftleft", one, pmod(p, lit(64))))
        ) =!= 0L
    }.reduce(_ && _)
    // the exact semi join clears Bloom false positives — output is
    // provably big ⋉ small
    // no distinct on the rhs either: semi-join semantics ignore
    // right-side duplicates, so deduping is another wasted shuffle
    val rhs = small.select(col(smallKey).as("_bsj_k"))
    big.filter(col(bigKey).isNotNull && probe)
      .join(rhs, col(bigKey) === col("_bsj_k"), "left_semi")
  }
}
