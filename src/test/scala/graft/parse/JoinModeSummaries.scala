package graft.parse

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{Atcf, Validators}

/** The count-then-join form of [[AtcfParser.stormSummaries]]: the name
  * mode as a second two-shuffle aggregate (count per (file, name), then
  * min of (-count, name) per file) joined back to the per-file
  * aggregate. The specification reference StormSummariesModeProps
  * compares the one-aggregate form to. */
object JoinModeSummaries {

  /** pandas mode() tie-break = lexicographic MIN name (values sorted asc):
    * min over (-count, name) picks max count, then min name on ties. */
  def nameMode(bdeck: DataFrame): DataFrame =
    bdeck.filter(col("stormname").isNotNull)
      .groupBy("file", "stormname").agg(count(lit(1)).as("c"))
      .groupBy("file")
      .agg(min(struct((-col("c")).as("nc"), col("stormname").as("v")))
        .getField("v").as("name_mode"))

  def stormSummaries(bdeck: DataFrame): DataFrame = {
    import AtcfParser.pickByKey
    val rowKey = struct(col("datetime"), coalesce(col("rad"), lit(0.0)))
    def firstStr(c: String) = pickByKey(rowKey, col(c), lit(""), largest = false)
    def lastStr(c: String) = pickByKey(rowKey, col(c), lit(""), largest = true)
    val grouped = AtcfParser.fileMeta(bdeck)
      .groupBy("file", "file_basin", "file_nhc_number", "file_season")
      .agg(
        max("vmax").as("vmax_max"),
        firstStr("basin").as("basin_first"),
        pickByKey(rowKey, col("snum"), lit(0), largest = true).as("snum_last"),
        lastStr("subregion").as("subregion_last"),
        lastStr("stormname").as("name_last"),
        pickByKey(col("datetime"), col("lat"), lit(0.0), largest = false)
          .as("lat_first"),
        pickByKey(col("datetime"), col("lon"), lit(0.0), largest = false)
          .as("lon_first"),
        min("datetime").as("start_date"),
        max("datetime").as("end_date"))

    val org = when(lower(col("basin_first")).isin("al", "ep", "cp"), "NHC")
      .otherwise("JTWC")
    val stormType = Atcf.stormType(col("vmax_max"), col("basin_first"))
    val rawName = coalesce(col("name_last"), col("name_mode"))

    grouped.join(nameMode(bdeck), Seq("file"), "left_outer")
      .withColumn("nhc_number", col("snum_last"))
      .withColumn("region", col("basin_first"))
      .withColumn("season", col("file_season"))
      .withColumn("name",
        when(col("nhc_number") >= 70,
          Atcf.investName(org, col("nhc_number"), col("subregion_last")))
        .otherwise(concat(stormType, lit("-"), Atcf.titleCase(rawName))))
      .withColumn("nhc_id",
        Atcf.nhcId(col("region"), col("nhc_number"), col("season")))
      .withColumn("start_lat", Validators.validateLatitude(col("lat_first")))
      .withColumn("start_lon", Validators.validateLongitude(col("lon_first")))
      .select("file", "region", "nhc_number", "nhc_id", "season",
        "start_date", "end_date", "name", "start_lat", "start_lon")
  }
}
