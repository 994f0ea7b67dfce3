package graft.io

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import graft.schema.Layout

/** Distributed EDW CSV ingest (SURVEY.md §2 #5/#6; reference
  * `bronze_funcs.py:62-143`).
  *
  * The reference downloads each tape to the driver, parses it with
  * Python's csv module row-by-row, and ships a list of dicts to the
  * JVM — the whole file materializes on the driver, its biggest
  * scalability defect. Here the file is read distributed
  * (`sc.textFile`), only the first two physical lines (header + units
  * row) are dropped driver-side-free via mapPartitionsWithIndex on
  * split 0, and every cleaning rule is a codegen'd Column expression.
  *
  * Cleaning semantics preserved exactly (`bronze_funcs.py:96-104`):
  *  - BOM (U+FEFF) and NUL bytes stripped anywhere in the line;
  *  - ASCII transliteration via the native one-pass
  *    [[graft.functions.Transliterate]] (all NFD-decomposable Latin,
  *    Greek/Cyrillic romanization — unidecode stand-in, SURVEY §7.5);
  *  - cell → null when trim=="" , raw cell startsWith "ND", or cell
  *    == "No Collateral"; otherwise lower(trim(cell));
  *  - header cell 0 force-renamed to AL1/BL1 (`INITIAL_COL`);
  *  - amortisation truncated to the first 121 columns (rows wider
  *    than the PHYSICAL header are dropped; rows wider only than the
  *    truncated header are truncated, as the reference's zip() does);
  *  - lineage columns filename / pcd (basename tokens 1-3 joined with
  *    "-") / ed_code (token 0);
  *  - rows with more fields than the physical header are dropped (the
  *    reference's per-line try/except skip) — detected quote-aware
  *    via a phantom trailing parse column, since PERMISSIVE mode
  *    would silently truncate them;
  *  - a quoted cell containing an embedded newline cannot be
  *    represented in line-based parsing: [[read]] detects the
  *    quote-imbalanced fragment and fails with a pointer to
  *    [[readMultiLine]], which handles it.
  */
object CleanCsv {

  /** unidecode stand-in: one-pass native transliteration (all NFD-
    * decomposable Latin + Greek/Cyrillic romanization + BOM/NUL strip)
    * — [[graft.functions.Transliterate]]. */
  private def cleanChars(c: Column): Column =
    graft.functions.Transliterate.transliterate(c)

  /** Per-cell cleaning rule (`bronze_funcs.py:96-104`). */
  def cleanCell(c: Column): Column =
    when(trim(c) === "" || c.startsWith("ND") || c === "No Collateral",
      lit(null).cast(StringType))
      .otherwise(lower(trim(c)))

  /** First physical line of the file, BOM/NUL-stripped (driver-side,
    * reads O(1) bytes per file). */
  private def headerLine(spark: SparkSession, path: String): String = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    val in = fs.open(p)
    val reader = new java.io.BufferedReader(new java.io.InputStreamReader(in, "UTF-8"))
    val line0 = try reader.readLine() finally reader.close()
    line0.replace("\uFEFF", "").replace("\u0000", "")
  }

  /** Header of one file, truncated to the tape's column cap with cell 0
    * force-renamed (`INITIAL_COL`), and the physical column count of
    * the line: over-length detection is relative to that count, not the
    * truncated header (amortisation data rows legitimately carry the
    * full pre-truncation arity). */
  private def header(spark: SparkSession, path: String,
                     dataType: String): (Seq[String], Int) = {
    val t = Layout.tape(dataType)
    val raw = headerLine(spark, path)
      .split(",", -1).map(_.trim.stripPrefix("\"").stripSuffix("\"")).toSeq
    val capped = raw.take(t.maxCols)
    val names = t.initialCol.fold(capped)(_ +: capped.drop(1))
    require(names.distinct.size == names.size,
      s"duplicate header columns in $path (reference silently collapsed these — we error, SURVEY §7.5.5)")
    (names, raw.size)
  }

  /** Positional parse schema `_c0.._c{n-1}` + `_extra` phantom: a row
    * with more fields than the physical header fills `_extra` and is
    * dropped; positional names sidestep raw-header duplicate names
    * beyond the truncation cap. */
  private def positionalSchema(nraw: Int): StructType =
    StructType((0 until nraw).map(i => StructField(s"_c$i", StringType)) :+
      StructField("_extra", StringType))

  /** Project the parsed positional columns onto the (possibly
    * truncated) header names. */
  private def projectHeader(parsed: DataFrame, header: Seq[String],
                            clean: Column => Column): DataFrame =
    parsed.select(header.zipWithIndex.map { case (h, i) =>
      clean(col(s"_c$i")).as(h)
    }: _*)

  /** (ed_code, pcd) of a tape file from its name: basename token 0, and
    * tokens 1-3 joined with "-" (`D1_2023_07_31_Loan_Data.csv` →
    * (`D1`, `2023-07-31`)). */
  def lineage(path: String): (String, String) = {
    val tokens = path.split("/").last.split("_")
    (tokens(0), tokens.slice(1, 4).mkString("-"))
  }

  private def withLineage(df: DataFrame, path: String): DataFrame = {
    val (edCode, pcd) = lineage(path)
    df.withColumn("filename", lit(path))
      .withColumn("pcd", lit(pcd))
      .withColumn("ed_code", lit(edCode))
  }

  /** Read one tape file into a cleaned all-string bronze DataFrame with
    * lineage + SCD2 bookkeeping columns. Distributed: the file may span
    * many splits; only split 0 drops the header/units lines. */
  def read(spark: SparkSession, path: String, dataType: String): DataFrame = {
    val (names, nraw) = header(spark, path, dataType)

    // distributed line source; split 0 starts at byte 0 of the file, so
    // dropping its first two lines removes exactly header + units row
    // (`bronze_funcs.py:88-92`). minPartitions MUST be 1: the default
    // (2) halves small files so split 0 can contain only the header
    // line (wide-header tapes!), leaking the units row into bronze.
    // With 1, splits follow the 32MB block size, so split 0 always
    // holds both lines while large tapes still parallelize.
    val lines = spark.sparkContext.textFile(path, 1)
      .mapPartitionsWithIndex((i, it) => if (i == 0) it.drop(2) else it)
    import spark.implicits._
    // line-based parsing cannot represent a quoted cell containing an
    // embedded newline (the reference's csv.reader can): such a
    // fragment has an odd number of quote chars — fail loudly inline
    // (no extra scan) instead of silently corrupting
    val quoteBalanced =
      pmod(length($"_line") - length(regexp_replace($"_line", "\"", "")), lit(2)) === 0
    val raw = spark.createDataset(lines).toDF("_line")
      .filter(length(trim($"_line")) > 0)
      .withColumn("_line", when(quoteBalanced, $"_line").otherwise(raise_error(
        concat(lit(s"quote-imbalanced CSV line in $path (embedded newline in a " +
          "quoted cell?) — ingest this tape with CleanCsv.readMultiLine: "),
          $"_line"))))

    val parsed = raw.select(
      from_csv(cleanChars($"_line"),
        positionalSchema(nraw),
        Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> "_corrupt")
      ).as("r"))
      .select(col("r.*"))
      .filter(col("_extra").isNull)

    // cleanChars already ran on the whole line pre-parse
    val cleaned = withLineage(projectHeader(parsed, names, cleanCell), path)
    withBookkeeping(cleaned, dataType)
  }

  /** Multi-line-capable tape ingest: `spark.read.csv(multiLine=true)`
    * handles quoted cells with embedded newlines (the reference's
    * `csv.reader` semantics, `bronze_funcs.py:76-114`) at the cost of
    * one partition per file — use for the (rare) tapes [[read]]
    * rejects. Header + units rows are dropped positionally (multiLine
    * keeps file order within the single partition); over-length rows
    * are dropped via the same `_extra` phantom column; cell cleaning
    * is identical. */
  def readMultiLine(spark: SparkSession, path: String, dataType: String): DataFrame = {
    val (names, nraw) = header(spark, path, dataType)
    val parsed = spark.read
      .option("header", "false")
      .option("multiLine", "true")
      .option("mode", "PERMISSIVE")
      .schema(positionalSchema(nraw))
      .csv(path)
      // multiLine pins the file to one split, so row order is file
      // order: ids 0 and 1 are exactly the header and units rows
      .withColumn("_rid", monotonically_increasing_id())
      .filter(col("_rid") > 1)
      .filter(col("_extra").isNull)

    val cleaned = withLineage(
      projectHeader(parsed, names, c => cleanCell(cleanChars(c))), path)
    withBookkeeping(cleaned, dataType)
  }

  /** SCD2 bookkeeping derivation (`bronze_funcs.py:117-141`): checksum
    * is md5 over ed_code, pcd and the tape row's keys ONLY — the
    * reference's keys-only quirk is preserved (SURVEY §2.c.2). */
  def withBookkeeping(df: DataFrame, dataType: String): DataFrame = {
    val pkCols = Seq(col("ed_code"), col("pcd")) ++
      Layout.tape(dataType).keys.filter(df.columns.contains).map(col)
    df.withColumn("valid_from", current_timestamp())
      .withColumn("valid_to", lit(null).cast("timestamp"))
      .withColumn("iscurrent", lit(1).cast("int"))
      .withColumn("checksum", md5(concat(pkCols: _*).cast("binary")))
      .withColumn("part",
        regexp_replace(concat(col("ed_code"), lit("_"), col("pcd")), "-", ""))
  }
}
