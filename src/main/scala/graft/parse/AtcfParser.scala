package graft.parse

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{Atcf, Validators}
import graft.schema.Schemas

/** ATCF a-deck/b-deck/tcvitals parsing as declarative Spark plans
  * (SURVEY.md §2.1 S1–S5).
  *
  * Shape: `spark.read.text` (gzip transparent) → comma split → ragged-row
  * filter/pad (rows <18 fields dropped, short rows padded with nulls via
  * OOB-null `get`) → positional projection → typed decode. All columnar,
  * codegen'd, partition-parallel — a 100 TB landing dir parses exactly
  * like one file.
  *
  * Reference semantics: tcdb/etl/atcf.py:19-171 (parse), :227-250
  * (ragged normalizer), scripts/download_parse_tcvitals.py (tcvitals).
  */
object AtcfParser {

  /** Read raw deck lines, tagging each row with its source file name. */
  def readDeckLines(spark: SparkSession, path: String): DataFrame =
    spark.read.textFile(path).toDF("value")
      .withColumn("file", regexp_extract(input_file_name(), "([^/]+)$", 1))

  /** Minimum comma-separated fields for a usable deck row
    * (tcdb/etl/atcf.py:245) — shared by the parse filter and its
    * [[rejectedLines]] complement so the two always partition the input. */
  val MinFields = 18
  private def fieldCount: Column = size(split(col("value"), ","))

  /** Split + ragged-normalize + positionally project and decode `cols`;
    * keeps `file`. One filter and two projections, shared by both decks.
    *
    * The split lands behind its own projection ALIAS before the 37
    * positional `get`s reference it: CollapseProject keeps a non-cheap
    * alias with >1 use in its own project, so codegen splits each line
    * once instead of once per output column (measured 4.3 s -> ~1 s on
    * 225k lines at sf0.1). The typed decode is folded into the second
    * projection, so the analyzer sees one `Project` per step instead of
    * one per column. */
  private def parseDeck(lines: DataFrame, cols: Seq[String],
      numericCols: Seq[String]): DataFrame = {
    val numeric = numericCols.toSet
    val decoded = cols.zipWithIndex.map { case (name, i) =>
      // 0-based, null when OOB
      decode(name, get(col("__parts"), lit(i)), numeric).as(name)
    }
    lines
      .filter(fieldCount >= MinFields)
      .select(col("file"), split(col("value"), ",").as("__parts"))
      .select((col("file") +: decoded): _*)
  }

  /** Typed decode of one raw positional field. */
  private def decode(name: String, raw: Column, numeric: Set[String]): Column =
    name match {
      case "datetime" => Atcf.parseAtcfDatetime(raw)
      case "lat" => Atcf.atcfLat(raw)
      case "lon" => Atcf.atcfLon(raw)
      case "snum" | "tau" => trim(raw).cast("int")
      case n if n == "rad" || numeric(n) => Atcf.numOrNull(raw)
      case _ => Atcf.strOrNull(raw)
    }

  /** S1 — a-deck (forecast aids): 17 positional columns. */
  def parseADeck(lines: DataFrame): DataFrame =
    parseDeck(lines, Schemas.aDeckColumns, Schemas.aDeckNumeric)

  /** S3 side-output — the rows the ragged-row filter DROPS (<18 fields,
    * tcdb/etl/atcf.py:245-246 logs and skips them). A quality-conscious
    * ingest keeps the rejects observable instead of silently vanishing:
    * route this to a quarantine sink and alert on its volume. */
  def rejectedLines(lines: DataFrame): DataFrame =
    lines.filter(fieldCount < MinFields)
      .select(col("file"), col("value"), fieldCount.as("n_fields"))

  /** S2/S3 — b-deck (best track): 36 positional columns, ragged rows. */
  def parseBDeck(lines: DataFrame): DataFrame =
    parseDeck(lines, Schemas.bDeckColumns, Schemas.bDeckNumeric)

  /** S5 — tcvitals: whitespace-delimited, multi-sentinel NA. */
  def parseTcvitals(lines: DataFrame): DataFrame = {
    val parts = split(regexp_replace(trim(col("value")), " +", ","), ",")
    // the NA decode reads its positional alias, so the split is not
    // repeated per NA comparison
    val projected = Schemas.tcvitalsColumns.zipWithIndex.map { case (name, i) =>
      get(parts, lit(i)).as(name)
    }
    val decoded = Schemas.tcvitalsColumns.map(c =>
      when(col(c).isin(Schemas.tcvitalsNa: _*), lit(null)).otherwise(col(c)).as(c))
    lines.select(projected: _*).select(decoded: _*)
  }

  /** P9 — date-membership probe (tcdb/etl/atcf.py:253-286): does any row
    * in the deck carry this init time? EXISTS via limit(1). */
  def containsDate(lines: DataFrame, dateTime: java.sql.Timestamp): Boolean = {
    val parts = split(col("value"), ",")
    lines
      .filter(Atcf.parseAtcfDatetime(get(parts, lit(2))) === lit(dateTime))
      .limit(1).count() > 0
  }

  // ------------------------------------------------------------- summaries

  /** File-name metadata: `b{basin}{nn}{season}.dat` → (basin, nhc_number,
    * season) — tcdb/models/database.py:40-43. */
  private[parse] def fileMeta(df: DataFrame): DataFrame = df.withColumns(Map(
    "file_basin" -> upper(substring(col("file"), 2, 2)),
    "file_nhc_number" -> substring(col("file"), 4, 2).cast("int"),
    "file_season" ->
      regexp_extract(col("file"), "^.(..)(..)([0-9]{4})", 3).cast("int")))

  /** Arg-min/arg-max by key with an EXPLICIT total order under key
    * DUPLICATES and null values: the ordered struct is (key, null-rank,
    * coalesced value), so tie-break on equal keys is "null value first,
    * then smallest value" — on BOTH engines (the DuckDB oracles replay
    * the identical struct). Plain `min(struct(k, v))` relied on Spark's
    * null-first struct ordering, which DuckDB's aggregates (null-
    * IGNORING) and row_number replays (arbitrary on ties) don't share;
    * unique keys masked the difference until the sf1 replica sweep
    * introduced duplicate (datetime, rad) keys. */
  private[parse] def pickByKey(k: Column, v: Column, sentinel: Column,
      largest: Boolean): Column = {
    val s = struct(k.as("k"),
      when(v.isNull, 0).otherwise(1).as("vn"),
      coalesce(v, sentinel).as("v"))
    val m = if (largest) max(s) else min(s)
    when(m.getField("vn") === 0, lit(null)).otherwise(m.getField("v"))
  }

  /** pandas' `Series.mode()[0]` of `stormname` as an aggregate; the
    * tie-break contract is in [[stormSummaries]]. */
  private[parse] val nameMode: Column = mode(col("stormname"), deterministic = true)

  /** Per-file storm summary — the set-based `toStormDict`
    * (tcdb/etl/atcf.py:289-337). One aggregation pass per file, so one
    * shuffle; "last row" becomes max-by event time (b-decks are
    * chronologically ordered).
    *
    * The name falls back to the mode of `stormname` when the last row
    * has none. The tie-break follows pandas' `mode()`: the highest
    * count wins, and among equal counts the lexicographically smallest
    * name (binary string order, so `ALPHA` < `Alpha`); nulls are not
    * counted, and a file with no name has a null mode.
    * [[nameMode]] computes exactly that inside the per-file aggregate;
    * StormSummariesModeProps pins it to the count-then-join form in test
    * code.
    */
  def stormSummaries(bdeck: DataFrame): DataFrame = {
    val rowKey = struct(col("datetime"), coalesce(col("rad"), lit(0.0)))
    def firstStr(c: String) = pickByKey(rowKey, col(c), lit(""), largest = false)
    def lastStr(c: String) = pickByKey(rowKey, col(c), lit(""), largest = true)
    val grouped = fileMeta(bdeck)
      .groupBy("file", "file_basin", "file_nhc_number", "file_season")
      .agg(
        max("vmax").as("vmax_max"),
        firstStr("basin").as("basin_first"),
        pickByKey(rowKey, col("snum"), lit(0), largest = true).as("snum_last"),
        lastStr("subregion").as("subregion_last"),
        lastStr("stormname").as("name_last"),
        nameMode.as("name_mode"),
        pickByKey(col("datetime"), col("lat"), lit(0.0), largest = false)
          .as("lat_first"),
        pickByKey(col("datetime"), col("lon"), lit(0.0), largest = false)
          .as("lon_first"),
        min("datetime").as("start_date"),
        max("datetime").as("end_date"))

    val region = col("basin_first")
    val nhcNumber = col("snum_last")
    val season = col("file_season")
    val org = when(lower(region).isin("al", "ep", "cp"), "NHC")
      .otherwise("JTWC")
    val stormType = Atcf.stormType(col("vmax_max"), region)
    val rawName = coalesce(col("name_last"), col("name_mode"))
    val name = when(nhcNumber >= 70,
        Atcf.investName(org, nhcNumber, col("subregion_last")))
      .otherwise(concat(stormType, lit("-"), Atcf.titleCase(rawName)))
    grouped.select(col("file"), region.as("region"),
      nhcNumber.as("nhc_number"),
      Atcf.nhcId(region, nhcNumber, season).as("nhc_id"),
      season.as("season"), col("start_date"), col("end_date"), name.as("name"),
      Validators.validateLatitude(col("lat_first")).as("start_lat"),
      Validators.validateLongitude(col("lon_first")).as("start_lon"))
  }

  /** Radial quadrant pivot for one threshold (tcdb/etl/atcf.py:418-427):
    * rXX_qq = the quadrant value of the row whose RAD == rad, as int. */
  private def radial(rad: Int, quad: String): Column =
    max(when(col("rad") === rad,
      Validators.validateDistance(col(quad)))).cast("int").as(s"r${rad}_$quad")

  /** Per-datetime observation rows with the full r34/r50/r64 pivot —
    * set-based `observationDictFromDataFrame` (tcdb/etl/atcf.py:340-385).
    */
  def observations(bdeck: DataFrame): DataFrame = {
    val first = (c: String) =>
      pickByKey(coalesce(col("rad"), lit(0.0)), col(c), lit(0.0),
        largest = false).as(c)
    bdeck.groupBy(col("file"), col("datetime").as("datetime_utc"))
      .agg(
        first("lat"), first("lon"), first("vmax"), first("mslp"),
        first("pouter"), first("roci"), first("rmw"),
        radial(34, "ne"), radial(34, "se"), radial(34, "sw"), radial(34, "nw"),
        radial(50, "ne"), radial(50, "se"), radial(50, "sw"), radial(50, "nw"),
        radial(64, "ne"), radial(64, "se"), radial(64, "sw"), radial(64, "nw"))
      .select(col("file"), col("datetime_utc"),
        Validators.validateLatitude(col("lat")).as("latitude"),
        Validators.validateLongitude(col("lon")).as("longitude"),
        Validators.validateVelocity(col("vmax")).as("intensity_kts"),
        Validators.validatePressure(col("mslp")).as("mslp_mb"),
        col("r34_ne"), col("r34_se"), col("r34_sw"), col("r34_nw"),
        col("r50_ne"), col("r50_se"), col("r50_sw"), col("r50_nw"),
        col("r64_ne"), col("r64_se"), col("r64_sw"), col("r64_nw"),
        Validators.validatePressure(col("pouter")).as("pouter_mb"),
        Validators.validateDistance(col("roci")).as("router_nmi"),
        Validators.validateDistance(col("rmw")).as("rmw_nmi"))
  }

  /** Forecast steps from an a-deck: one row per (init, model, hour) with
    * the radial pivot — set-based per-TAU upsert loop
    * (tcdb/etl/atcf_forecasts.py:119-131, atcf.py:388-415). */
  def forecastSteps(adeck: DataFrame): DataFrame = {
    val first = (c: String) =>
      pickByKey(coalesce(col("rad"), lit(0.0)), col(c), lit(0.0),
        largest = false).as(c)
    fileMeta(adeck)
      .groupBy(col("file"), col("file_basin").as("region"),
        col("file_nhc_number").as("nhc_number"),
        col("file_season").as("season"),
        col("datetime").as("datetime_utc"), col("tech").as("model"),
        col("tau").as("hour"))
      .agg(first("lat"), first("lon"), first("vmax"), first("mslp"))
      .select(col("file"), col("region"), col("nhc_number"), col("season"),
        col("datetime_utc"), col("model"),
        Validators.validateForecastStep(col("hour")).cast("int").as("hour"),
        Validators.validateLatitude(col("lat")).as("latitude"),
        Validators.validateLongitude(col("lon")).as("longitude"),
        Validators.validateVelocity(col("vmax")).as("intensity_kts"),
        Validators.validatePressure(col("mslp")).as("mslp_mb"))
  }
}
