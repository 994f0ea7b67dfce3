package graft.scd2

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.schema.Layout

/** SCD2 upsert — the reference *declares* this operator but the
  * implementation is missing (`generate_deal_details_bronze.py:11,195`
  * imports a `perform_scd2` that exists nowhere; SURVEY §2.9/§2.c).
  * This is the repaired, normative implementation.
  *
  * Semantics (SURVEY §2.c):
  *  - row identity = (ed_code, pcd) + the tape row's keys
  *    (`PRIMARY_COLS[dataType]`);
  *  - change detection via `checksum` = md5(ed_code‖pcd‖PKs) — the
  *    keys-only quirk is preserved for parity, so a changed non-key
  *    attribute with unchanged keys does NOT produce a new version;
  *  - unchanged matched rows keep the old version; changed matched
  *    rows expire the old (valid_to=now, iscurrent=0) and append the
  *    new; unmatched-old rows persist; unmatched-new rows insert;
  *  - history rows (iscurrent==0) pass through untouched.
  *
  * Without Delta MERGE this composes from one full-outer equi-join on
  * the PK plus unionByName — shuffle on the PK only, partition-scoped
  * (callers feed it a single `part`), so at 100 TB the merge cost is
  * bounded by the resubmitted partition, never the whole table.
  */
object Scd2 {

  /** CDC-style diff of two snapshots of the same table: one row per
    * changed key, labeled `inserted` (key only in new), `deleted`
    * (key only in old), or `changed` (present in both, any non-key
    * column differs). Unchanged keys are absent from the output.
    * Change detection hashes the full non-key payload — unlike the
    * reference's keys-only checksum quirk, a diff must see payloads.
    * Fields are \u0001-separated and nulls \u0000-tagged in the hash
    * input, with the sentinel characters escaped inside values
    * (\u0002 as the escape: \u0002 -> \u0002\u0002, \u0000 -> \u0002"0",
    * \u0001 -> \u0002"1") - the encoding is injective, so ("ab","c")
    * never collides with ("a","bc"), a field containing the separator
    * cannot shift boundaries, and a literal "\u0000" string never
    * collides with NULL. One full-outer shuffle join on the key;
    * payload hashing is map-side. */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, pks: Seq[String])
      : DataFrame = {
    def esc(c: org.apache.spark.sql.Column) =
      regexp_replace(regexp_replace(regexp_replace(c.cast("string"),
        "\u0002", "\u0002\u0002"), "\u0000", "\u00020"), "\u0001", "\u00021")
    def digest(df: DataFrame): org.apache.spark.sql.Column = {
      val payload = df.columns.toSeq.filterNot(pks.contains).sorted
      md5(concat_ws("\u0001",
        payload.map(c => coalesce(esc(col(c)), lit("\u0000"))): _*))
    }
    val o = oldDf.select(pks.map(col) :+ digest(oldDf).as("_od") :+
      lit(true).as("_o"): _*)
    val n = newDf.select(pks.map(col) :+ digest(newDf).as("_nd") :+
      lit(true).as("_n"): _*)
    o.join(n, pks, "full_outer")
      .withColumn("change", when(col("_o").isNull, lit("inserted"))
        .when(col("_n").isNull, lit("deleted"))
        .when(col("_od") =!= col("_nd"), lit("changed")))
      .filter(col("change").isNotNull)
      .select(pks.map(col) :+ col("change"): _*)
  }

  /** Precondition: each input snapshot carries at most one CURRENT row
    * per PK (the reference's tapes guarantee this; a duplicate-PK
    * snapshot would cross-match in the full-outer join and yield
    * multiple current versions — found by GraftProperties). */
  def merge(oldDf: DataFrame, newDf: DataFrame, dataType: String): DataFrame =
    mergeOnKeys(oldDf, newDf,
      (Seq("ed_code", "pcd") ++ Layout.tape(dataType).keys)
        .distinct.filter(oldDf.columns.contains))

  /** Same merge with caller-chosen identity columns. */
  def mergeOnKeys(oldDf: DataFrame, newDf: DataFrame, pks: Seq[String]): DataFrame = {
    val hist = oldDf.filter(col("iscurrent") =!= 1)
    val oldCur = oldDf.filter(col("iscurrent") === 1)

    // Explicit presence flags, NOT checksum non-nullity: cleaning can
    // null a PK cell, which null-propagates through the md5 concat and
    // leaves a legitimate CURRENT row with checksum NULL — keying
    // presence off checksum would silently drop it from the merge.
    val o = oldCur.withColumn("_o", lit(true)).alias("o")
    val n = newDf.withColumn("_n", lit(true)).alias("n")
    val joinCond = pks.map(k => col(s"o.$k") <=> col(s"n.$k")).reduce(_ && _)
    val joined = o.join(n, joinCond, "full_outer")
      .withColumn("_matched", col("o._o").isNotNull && col("n._n").isNotNull)
      // null-safe inequality: null checksum vs null checksum = unchanged
      .withColumn("_changed",
        col("_matched") && !(col("o.checksum") <=> col("n.checksum")))

    val oCols = oldCur.columns.toSeq.map(c => col(s"o.$c").as(c))
    val nCols = newDf.columns.toSeq.map(c => col(s"n.$c").as(c))

    // old side survives unless it was matched by a changed new version
    val keptOld = joined.filter(col("o._o").isNotNull && !col("_changed"))
      .select(oCols: _*)
    val expiredOld = joined.filter(col("_changed"))
      .select(oCols: _*)
      .withColumn("valid_to", current_timestamp())
      .withColumn("iscurrent", lit(0))
    // new side inserts when unmatched or changed
    val inserted = joined.filter(col("n._n").isNotNull &&
        (!col("_matched") || col("_changed")))
      .select(nCols: _*)

    hist.unionByName(keptOld, allowMissingColumns = true)
      .unionByName(expiredOld, allowMissingColumns = true)
      .unionByName(inserted, allowMissingColumns = true)
  }
}
