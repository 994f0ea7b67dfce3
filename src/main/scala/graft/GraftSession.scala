package graft

import org.apache.spark.sql.SparkSession

/** Central SparkSession factory (SURVEY.md §2 #23).
  *
  * Mirrors the reference's session confs (`les_main.py:40-47`) minus
  * Delta/GCS, plus what our env needs:
  *  - `parquet.nanosAsLong`: the `events` table carries
  *    TIMESTAMP(NANOS) which vanilla Spark rejects; we read it as a
  *    long and [[tables.t]] converts to a proper TimestampType.
  *  - AQE on: runtime coalescing + skew-join handling — the local
  *    stand-in for what a 1000-executor cluster relies on.
  *  - shuffle.partitions sized to the machine, not the 200 default.
  *
  * The native `graft_*` functions and [[plans.RangeJoinRule]] come from
  * [[GraftExtensions]], the one registration path; sessions derived
  * with `newSession()` carry them too.
  */
object GraftSession {
  def build(master: String = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]",
            shufflePartitions: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt,
            appName: String = "graft"): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .appName(appName)
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      // parity with the PySpark reference (Spark 3, ANSI off): failed
      // casts yield null instead of throwing — the validation layer is
      // what flags bad values, not the cast
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // explicit scale intents (defaults drift across Spark versions):
      // AQE splits skewed shuffle partitions at runtime; the optimizer
      // may inject a bloom filter from a selective join side to prune
      // the probe-side scan — both are load-bearing at 100 TB
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.filterPushdown", "true")
      // IN-list pushdown cutoff (default 10): at or under it parquet
      // gets an eq or-chain (row-group + dictionary pruning), past it
      // a [min, max] range. The ANN serving path pushes bounded
      // candidate-id sets into the sorted payload scan
      // (Similarity.pqTopKRefinedFromCodes) — keep precise pruning for
      // realistic k·refine·panel sizes
      .config("spark.sql.parquet.pushdown.inFilterThreshold", "1024")
      // local-scale split sizing: the synthetic tables are single
      // sub-128MB parquet files, which the default maxPartitionBytes
      // turns into ONE scan partition — serializing every downstream
      // stage on a 32-core box. 1 MB splits restore scan parallelism
      // here; on a real cluster with properly sized files the 128 MB
      // default is right (override via SPARK_GRAFT_MAX_PARTITION_BYTES).
      .config("spark.sql.files.maxPartitionBytes",
        sys.env.getOrElse("SPARK_GRAFT_MAX_PARTITION_BYTES", (1024 * 1024).toString))
      .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
      .config("spark.sql.parquet.datetimeRebaseModeInRead", "CORRECTED")
      .config("spark.sql.parquet.datetimeRebaseModeInWrite", "CORRECTED")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.autoBroadcastJoinThreshold", (64 * 1024 * 1024).toString)
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
