package graft.silver

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.schema.Registries._
import graft.schema.Layout

/** Silver-layer transforms (SURVEY.md §2 #15-#18).
  *
  * `castToDatatype` preserves the reference's cast semantics
  * (`silver_funcs.py:15-34`) including its quirks:
  *  - Boolean: `when(col=="y", true).otherwise(false)` — null and "n"
  *    both become false (SURVEY §7.4 "Boolean cast quirk");
  *  - Date: default `to_date` parse;
  *  - Double: `round(cast(double), 2)` — 2-dp rounding is part of the
  *    business semantics, not a display choice;
  *  - Integer: plain cast (null on unparseable, ANSI off).
  *
  * Implementation differs deliberately: one `select` with all cast
  * expressions instead of the reference's ~129 stacked `withColumn`
  * projections, which cost quadratic analyzer work (SURVEY §4.3).
  */
object Silver {

  def castExpr(c: Column, t: DType): Column = t match {
    case DString => c
    case DBool => when(c === "y", lit(true)).otherwise(lit(false))
    case DDate => to_date(c)
    case DDouble => round(c.cast("double"), 2)
    case DInt => c.cast("int")
  }

  /** Apply a column→type registry in a single projection; columns not
    * in the registry pass through untouched, registry entries missing
    * from the frame are skipped (`if f"AL{i}" in df.columns` tolerance). */
  def castToDatatype(df: DataFrame, registry: Seq[(String, DType)]): DataFrame = {
    val types = registry.toMap
    df.select(df.columns.map { c =>
      types.get(c).map(t => castExpr(col(c), t).as(c)).getOrElse(col(c))
    }.toIndexedSeq: _*)
  }

  /** Vertical topic split (#17): per-topic projection of primaries +
    * topic columns, tolerant of missing columns; the primaries and
    * topic ranges come from the tape's [[Layout.Tape]] row. */
  def topicTables(df: DataFrame, dataType: String): Map[String, DataFrame] = {
    val t = Layout.tape(dataType)
    require(t.topics.nonEmpty, s"no topic split for $dataType")
    val cols = df.columns.toSeq
    val primaries = t.primaries(cols)
    t.topicCols(cols).collect { case (name, tcols) if tcols.nonEmpty =>
      // drop rows where every topic column is null (#16), project (#17),
      // dedupe whole rows (#18)
      name -> df.na.drop("all", tcols)
        .select((primaries ++ tcols).map(col): _*)
        .dropDuplicates()
    }.toMap
  }
}
