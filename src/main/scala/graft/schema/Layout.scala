package graft.schema

import graft.quality.Rules.ColumnRule
import graft.schema.Registries.DType

/** The EDW tape types and every per-tape fact the stages need, one row
  * per type (reference: the `data_type` switches of `les_main.py:54-202`,
  * `bronze_funcs.py:10-19, 83-86`, `generate_asset_silver.py:22-45`,
  * `generate_bond_info_silver.py:22-36`,
  * `generate_deal_details_silver.py:24-30`). The CLI stages, the
  * whole-lake runner, bronze ingest, the SCD2 merge, the silver split
  * and the gold reads all look their row up here instead of matching
  * on the type name, so a new tape type is one row in [[tapes]].
  */
object Layout {

  /** One tape type. `dataType` names its lake directories and ledger,
    * `stage` its CLI stages (`bronze_{stage}`, `silver_{stage}`) and
    * `fileKey` its raw files (the `--file-key` default). An `xml` tape
    * is one document per deal: bronze is an SCD2 upsert with no ledger,
    * silver one cast table. Bronze skips files whose name contains
    * `exclude`, caps the header at `maxCols`, renames its first cell to
    * `initialCol` (`INITIAL_COL`) and checksums `keys` (`PRIMARY_COLS`,
    * also the SCD2 merge identity). Silver validates with `schema`,
    * casts with `registry` (empty: no silver stage) and splits `topics`,
    * each a `{prefix}` index range, carrying ed_code, part and
    * `{prefix}1..nPrimaries` as primaries. */
  final case class Tape(dataType: String, stage: String, fileKey: String,
                        xml: Boolean = false,
                        initialCol: Option[String] = None,
                        maxCols: Int = Int.MaxValue,
                        keys: Seq[String] = Seq.empty,
                        exclude: Option[String] = None,
                        schema: Map[String, ColumnRule] = Map.empty,
                        registry: Seq[(String, DType)] = Seq.empty,
                        prefix: String = "",
                        nPrimaries: Int = 0,
                        topics: Seq[(String, Range)] = Seq.empty) {
    def hasSilver: Boolean = registry.nonEmpty

    /** Topic-table primaries: ed_code, part and the present
      * `{prefix}1..nPrimaries`. */
    def primaries(cols: Seq[String]): Seq[String] =
      Seq("ed_code", "part") ++ present(1 to nPrimaries, cols)

    /** Each topic table with its present columns. */
    def topicCols(cols: Seq[String]): Seq[(String, Seq[String])] =
      topics.map { case (name, r) => name -> present(r, cols) }

    private def present(r: Range, cols: Seq[String]): Seq[String] =
      r.map(i => s"$prefix$i").filter(cols.contains)
  }

  /** In CLI stage order. */
  val tapes: Seq[Tape] = Seq(
    Tape("assets", "asset", "Loan_Data", initialCol = Some("AL1"),
      keys = Seq("AL1", "AL2"), exclude = Some("Labeled"),
      schema = ValidationSchemas.assetSchema,
      registry = Registries.assetColumns, prefix = "AL", nPrimaries = 5,
      topics = Seq( // generate_asset_silver.py:30-44
        "lease_info" -> (6 until 50),
        "lease_features" -> (50 until 74),
        "interest_rate" -> (74 until 83),
        "financial_info" -> (83 until 98),
        "performance_info" -> (98 until 133),
        "collateral_info" -> (133 until 154))),
    Tape("bond_info", "bond_info", "Bond_Info", initialCol = Some("BL1"),
      keys = Seq("BL1", "BL2"), schema = ValidationSchemas.bondInfoSchema,
      registry = Registries.bondColumns, prefix = "BL", nPrimaries = 2,
      topics = Seq( // generate_bond_info_silver.py:30-35
        "bond_info" -> (3 until 19),
        "transaction_info" -> (19 until 25),
        "tranche_info" -> (25 until 51))),
    // no PRIMARY_COLS entry in the reference (its checksum build would
    // KeyError): the checksum covers ed_code and pcd only
    Tape("amortisation", "amortisation", "Amortisation", maxCols = 121),
    Tape("deal_details", "deal_details", "Deal_Details", xml = true,
      keys = Seq("ed_code", "PoolCutOffDate"),
      registry = Registries.dealDetailsColumns),
  )

  def tape(dataType: String): Tape =
    tapes.find(_.dataType == dataType).getOrElse(sys.error(
      s"unknown tape type $dataType; expected one of ${tapes.map(_.dataType).mkString(", ")}"))

  /** SCD2 bookkeeping columns added in bronze (`bronze_funcs.py:129-141`). */
  val scd2Cols: Seq[String] = Seq("valid_from", "valid_to", "iscurrent", "checksum")
}
