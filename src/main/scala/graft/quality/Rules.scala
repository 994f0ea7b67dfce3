package graft.quality

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Declarative per-column validation vocabulary + compiler
  * (SURVEY.md §2 #13/#14; reference: Cerberus schemas in
  * `validation_rules.py:26-1123` executed row-wise via
  * `silver_funcs.py:37-78`).
  *
  * The reference runs an interpreted Python validator inside
  * `rdd.mapPartitions`, which breaks Catalyst lineage and forces a
  * JVM→Python round trip per pass. Here every rule compiles to a
  * native `Column` predicate, so validation is one codegen'd
  * projection — no RDD hop, full pushdown/pruning retained, and the
  * same plan scales from 6k rows to 100 TB.
  *
  * Cerberus semantics replicated per field (validated on the *string*
  * bronze values, before silver casting — `validation_rules.py:4-23`):
  *  - `nullable` (default false): null fails unless nullable.
  *  - `type: string`: any non-null string passes.
  *  - `type: number` + `coerce: TO_NUMBER` (`float(s)`): passes iff
  *    the string parses as a double (Spark `cast(double)`, same
  *    accepted grammar modulo exotic spellings — values are already
  *    lower+trimmed at ingest).
  *  - `type: datetime` + `coerce: TO_DATE`: 3-granularity parser
  *    chosen by hyphen count — `YYYY` / `YYYY-MM` / `YYYY-MM-DD`
  *    (`validation_rules.py:10-23`); >2 hyphens coerces to null and
  *    fails like a null.
  *  - `allowed`: membership in the enumeration.
  *  - `min`/`max`: bounds on the coerced datetime.
  *  - missing column: skipped (Cerberus `required` defaults false).
  *
  * Deviation (documented): `qc_errors` is a JSON object
  * `{col: message}` rather than Cerberus' stringified Python dict;
  * the flag semantics are identical.
  */
object Rules {

  sealed trait FieldType
  case object TString extends FieldType
  case object TNumber extends FieldType
  case object TDatetime extends FieldType

  /** One column's validation schema entry. Dates are `yyyy-MM-dd`. */
  final case class ColumnRule(
      typ: FieldType,
      nullable: Boolean = false,
      coerce: Boolean = false,
      allowed: Option[Seq[String]] = None,
      minDate: Option[String] = None,
      maxDate: Option[String] = None,
      label: String = "")

  /** The reference's 3-granularity date parser as a Column:
    * null when unparseable (including >2 hyphens). */
  def multiFormatDate(c: Column): Column = {
    // translate, not regexp_replace: this runs per value on every
    // bronze row — a regex engine call here is pure overhead
    val hyphens = length(c) - length(translate(c, "-", ""))
    when(hyphens === 2, to_date(c, "y-M-d"))
      .when(hyphens === 1, to_date(c, "y-M"))
      .when(hyphens === 0, to_date(c, "y"))
      .otherwise(lit(null).cast("date"))
  }

  /** Failure message for a single rule evaluation, null when the value
    * passes. Mirrors Cerberus' error phrasing. */
  def errorFor(colName: String, r: ColumnRule): Column = {
    val c = col(colName)
    val nullErr =
      if (r.nullable) lit(null).cast("string")
      else when(c.isNull, lit("null value not allowed"))
    val nonNullErr: Column = r.typ match {
      case TString =>
        r.allowed match {
          case Some(vals) =>
            when(!c.isin(vals: _*), concat(lit("unallowed value "), c))
          case None => lit(null).cast("string")
        }
      case TNumber =>
        if (!r.coerce) lit("must be of number type")
        else when(c.cast("double").isNull, lit("field cannot be coerced to number"))
      case TDatetime =>
        if (!r.coerce) lit("must be of datetime type")
        else {
          // bind the parsed date ONCE through a single-element
          // transform lambda: referencing `d` directly in the three
          // CaseWhen branches inlines the whole parse tree (hyphen
          // count + to_date) three times per row, and lazily-evaluated
          // branches sit outside codegen subexpression elimination
          // (measured 2x on the p05 scan). SimplifyExtractValueOps
          // would inline a struct-field binding away; a HOF lambda
          // variable survives optimization, and its interpreted body
          // is three cheap date comparisons over the already-parsed
          // value.
          val d = multiFormatDate(c)
          element_at(transform(array(d), dd =>
            when(dd.isNull, lit("field cannot be coerced to datetime"))
              .when(r.minDate.map(m => dd < lit(m).cast("date"))
                .getOrElse(lit(false)), lit("min value violated"))
              .when(r.maxDate.map(m => dd > lit(m).cast("date"))
                .getOrElse(lit(false)), lit("max value violated"))), 1)
        }
    }
    when(c.isNull, nullErr).otherwise(nonNullErr)
  }

  /** The input with two columns added: `flag` (true when every
    * present rule passes) and `qc_errors` (the failed rules as a JSON
    * object, null on passing rows) — the annotation of the reference's
    * `profile_data` (`silver_funcs.py:37-78`), in one Catalyst pass.
    * Callers that fan out over both halves should cache this frame and
    * filter it on `flag`, not union [[profile]]'s two halves back
    * together, which plans and runs the rule tree once per half.
    *
    * Both columns derive from ONE materialized error-map column in a
    * staged projection: flag = map is empty, qc_errors = its JSON.
    * CollapseProject declines to inline a non-cheap expression
    * referenced twice, so the ~166-rule tree appears ONCE in the
    * annotated plan instead of once per derived column — halving both
    * the driver-side analysis work and the generated code size on the
    * silver validation path. */
  def annotate(df: DataFrame, schema: Map[String, ColumnRule]): DataFrame =
    df.withColumn("_qc_map", errorMap(schema, df.columns.toSeq))
      .withColumn("flag", size(col("_qc_map")) === 0)
      .withColumn("qc_errors",
        when(col("flag"), lit(null).cast("string"))
          .otherwise(to_json(col("_qc_map"))))
      .drop("_qc_map")

  /** Good/bad split (reference `profile_data`, `silver_funcs.py:37-78`):
    * the two `flag` filters of [[annotate]]; both halves keep `flag`
    * and `qc_errors`. */
  def profile(df: DataFrame, schema: Map[String, ColumnRule])
      : (DataFrame, DataFrame) = {
    val annotated = annotate(df, schema)
    (annotated.filter(col("flag")), annotated.filter(!col("flag")))
  }

  /** The error map of one row: rule name → message for every failed
    * rule whose column is in `presentCols` (Cerberus treats missing
    * keys as valid when not `required`). */
  private def errorMap(schema: Map[String, ColumnRule],
                       presentCols: Seq[String]): Column = {
    val errs = schema.toSeq.sortBy(_._1)
      .filter { case (name, _) => presentCols.contains(name) }
      .map { case (name, r) => name -> errorFor(name, r) }
    map_filter(
      map(errs.flatMap { case (n, e) => Seq(lit(n), e) }: _*),
      (_, v) => v.isNotNull)
  }
}
