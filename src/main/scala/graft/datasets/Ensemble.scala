package graft.datasets

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Geo

/** Ensemble-forecast-track operations over long-format track points
  * (model, init, annual_id, ens, ens_name, hour, lat, lon, wind, mslp) —
  * the Spark rewrite of the reference's xarray module
  * (tcdb/etl/syntracks.py). Long format end to end; the dense 2-D
  * ensemble×step grid is only a pivoted VIEW at the edge (SURVEY.md §7.3).
  */
object Ensemble {

  /** W5 — dense time-spine alignment (syntracks.py:107-127): for each
    * (model, init) generate the full 6-hourly valid grid × every ensemble
    * member, left-join observed points; missing steps stay null. */
  def denseGrid(tracks: DataFrame, numEns: Int, maxStep: Int,
      resHours: Int = 6): DataFrame = {
    // long-typed spine keys: track points carry long hour/ens, and an
    // int spine would force a cast on the join keys of every point row
    val spine = tracks.select("model", "init").distinct()
      .withColumn("hour",
        explode(sequence(lit(0L), lit(maxStep.toLong), lit(resHours.toLong))))
      .withColumn("ens", explode(sequence(lit(1L), lit(numEns.toLong))))
      .withColumn("valid",
        col("init") + col("hour") * expr("interval 1 hour"))
    spine.join(tracks, Seq("model", "init", "ens", "hour"), "left_outer")
  }

  /** A7/consensus — most_common with Counter semantics
    * (syntracks.py:194-200): max count wins, ties resolved by first
    * occurrence (min ens) for determinism. */
  def mostCommon(tracks: DataFrame, field: String): DataFrame =
    tracks.filter(col(field).isNotNull)
      .groupBy("model", "init", field)
      .agg(count(lit(1)).as("c"), min("ens").as("first_ens"))
      .groupBy("model", "init")
      .agg(min(struct((-col("c")).as("nc"), col("first_ens"),
        col(field).as("v"))).getField("v").as(field))

  /** A9/W4 — ensemble mean member (syntracks.py:152-191): average the
    * non-deterministic members (1..numEns-2) per step, round to 3
    * decimals, and append as member numEns+1 named ENS_MEAN. */
  def withEnsMean(tracks: DataFrame, numEns: Int): DataFrame = {
    val mean = tracks
      .filter(col("ens").between(1, numEns - 2))
      .groupBy("model", "init", "annual_id", "hour")
      .agg(
        round(avg("lat"), 3).as("lat"), round(avg("lon"), 3).as("lon"),
        round(avg("wind"), 3).as("wind"), round(avg("mslp"), 3).as("mslp"))
      .withColumn("ens", lit(numEns + 1))
      .withColumn("ens_name", lit("ENS_MEAN"))
    tracks.unionByName(mean.select(tracks.columns.map(col).toIndexedSeq: _*))
  }

  /** Median variant of the synthetic member (syntracks.py:162-163). */
  def withEnsMedian(tracks: DataFrame, numEns: Int): DataFrame = {
    val med = tracks
      .filter(col("ens").between(1, numEns - 2))
      .groupBy("model", "init", "annual_id", "hour")
      .agg(
        round(median(col("lat")), 3).as("lat"),
        round(median(col("lon")), 3).as("lon"),
        round(median(col("wind")), 3).as("wind"),
        round(median(col("mslp")), 3).as("mslp"))
      .withColumn("ens", lit(numEns + 1))
      .withColumn("ens_name", lit("ENS_MEDIAN"))
    tracks.unionByName(med.select(tracks.columns.map(col).toIndexedSeq: _*))
  }

  /** J7 — track claiming (syntracks.py:281-375): assign unclaimed tracks
    * (annual_id = 0, identified by (ens, track_no) — a tracker may emit
    * several tracks per ensemble member) to invests when the track's
    * FIRST step is close enough in time (< timeThresholdDays from the
    * invest's valid time) and space (<= distThresholdNm great-circle),
    * preferring the track with the most steps per (invest, ens). A track
    * claimed by several invests goes to the lowest annual id
    * (deterministic stand-in for the reference's iteration order).
    *
    * `invests`: (inv_annual_id, inv_name, inv_valid, inv_lat, inv_lon).
    * Returns tracks with claimed annual ids / names applied.
    */
  def claimTracks(tracks: DataFrame, invests: DataFrame,
      distThresholdNm: Double = 310.0,
      timeThresholdDays: Double = 1.5): DataFrame = {
    val firstSteps = tracks.filter(col("lat").isNotNull)
      .groupBy("model", "init", "ens", "track_no")
      .agg(
        min(struct(col("hour"), col("lat").as("lat0"), col("lon").as("lon0")))
          .getField("lat0").as("lat0"),
        min(struct(col("hour"), col("lat").as("x"), col("lon").as("lon0")))
          .getField("lon0").as("lon0"),
        min(col("hour")).as("hour0"),
        count(lit(1)).as("n_steps"),
        // a track's annual_id is constant across its points by contract;
        // min (not first) keeps the aggregate deterministic if a caller
        // ever passes mixed labels (and matches the differential oracle)
        min(col("annual_id")).as("annual_id"))

    val unassigned = firstSteps.filter(col("annual_id") === 0)
      .withColumn("valid0", col("init") + col("hour0") * expr("interval 1 hour"))

    // Candidate generation is a broadcast HASH join on a latitude band,
    // not a nested loop over every invest: a track within distThresholdNm
    // of an invest differs by at most distThresholdNm/60 degrees of
    // latitude, so with bands one degree wider than that, exploding each
    // invest into its band +-1 makes the band-equi-join a strict superset
    // of the distance matches — the exact great-circle and time gates
    // below are unchanged (the reference's time gate is one-sided:
    // syntracks.py:350, earlier-starting tracks always pass). Per-track
    // work is then O(invests in 3 bands), not O(all invests), while the
    // invest side stays broadcast (bounded by concurrently-active
    // systems, dozens per season at any scale).
    val bandDeg = math.floor(distThresholdNm / 60.0) + 1.0
    val investBands = invests.withColumn("lat_band", explode(array(
      floor(col("inv_lat") / bandDeg) - 1,
      floor(col("inv_lat") / bandDeg),
      floor(col("inv_lat") / bandDeg) + 1)))
    val candidates = unassigned
      .withColumn("lat_band", floor(col("lat0") / bandDeg))
      .join(broadcast(investBands), Seq("lat_band"))
      .filter((unix_timestamp(col("valid0")) - unix_timestamp(col("inv_valid")))
        < (timeThresholdDays * 86400).toLong)
      .withColumn("dist", Geo.greatCircle(col("lat0"), col("lon0"),
        col("inv_lat"), col("inv_lon"), "nm"))
      .filter(col("dist") <= distThresholdNm)

    // longest track wins per (invest, ens), ties → lowest track_no …
    val perInvest = Window.partitionBy("model", "init", "inv_annual_id", "ens")
      .orderBy(col("n_steps").desc, col("track_no").asc)
    // … then one invest per track (lowest annual id)
    val perTrack = Window.partitionBy("model", "init", "ens", "track_no")
      .orderBy(col("inv_annual_id").asc)
    val claims = candidates
      .withColumn("rn", row_number().over(perInvest)).filter(col("rn") === 1)
      .withColumn("rt", row_number().over(perTrack)).filter(col("rt") === 1)
      .select(col("model"), col("init"), col("ens"), col("track_no"),
        col("inv_annual_id"), col("inv_name"))

    // claims is bounded by (#invests x #members) — broadcast it so the
    // full track-point table never shuffles for the stamp-back join
    val joined = tracks.join(broadcast(claims),
      Seq("model", "init", "ens", "track_no"), "left_outer")
      .withColumn("__claimed",
        col("annual_id") === 0 && col("inv_annual_id").isNotNull)
      .withColumn("annual_id",
        when(col("__claimed"), col("inv_annual_id")).otherwise(col("annual_id")))
    // the reference stamps the invest's name on the claimed track
    // (syntracks.py:373-374) — applied when the column exists
    val named = if (tracks.columns.contains("storm_name"))
      joined.withColumn("storm_name",
        when(col("__claimed"), col("inv_name")).otherwise(col("storm_name")))
    else joined
    named.drop("inv_annual_id", "inv_name", "__claimed")
  }

  /** Linear gap interpolation over an ordered series — fill a null
    * value column from its nearest non-null neighbors on each side
    * (edges with no neighbor stay null): the standard repair step
    * between [[denseGrid]] alignment (missing steps surface as nulls)
    * and any consumer that needs a dense numeric grid.
    *
    * Scale shape: two window passes over ONE partitioning (the track
    * key) — the running last-non-null BEFORE each row in ascending
    * order, and the same running frame in DESCENDING order for the
    * first-non-null AFTER. Both are unbounded-preceding running frames,
    * which Spark evaluates incrementally (O(n) per partition). The
    * naive encoding of the forward neighbor — `first(...ignoreNulls)
    * OVER (ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)` — goes
    * through `UnboundedFollowingWindowFunctionFrame`, which RECOMPUTES
    * the aggregate from scratch for every row: O(n²) per partition, the
    * wave-4 mega-track pathology (measured in the round-18 probe;
    * retained as [[interpolateFollowingFrame]] for the differential).
    * All value columns share the two sorts (one Window node per
    * direction). The lerp is pure IEEE double arithmetic in a fixed
    * operation order, so an external engine replays it exactly. */
  def interpolate(tracks: DataFrame, keys: Seq[String], ordCol: String,
      valueCols: Seq[String]): DataFrame = {
    val wAsc = Window.partitionBy(keys.map(col): _*).orderBy(col(ordCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wDesc = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(ordCol).desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    def mark(v: String) = when(col(v).isNotNull,
      struct(col(ordCol).as("o"), col(v).as("x")))
    // both neighbor passes for ALL columns first (one Window node per
    // direction = one sort each), then the per-column lerp
    val nbrs = valueCols.flatMap(v => Seq(
      last(mark(v), ignoreNulls = true).over(wAsc).as(s"__pv_$v"),
      last(mark(v), ignoreNulls = true).over(wDesc).as(s"__nv_$v")))
    def lerp(v: String): Column = {
      val pv = col(s"__pv_$v")
      val nv = col(s"__nv_$v")
      // the nv.o > pv.o guard keeps a malformed series (duplicate
      // ordinates around a gap) at null instead of silently producing
      // NaN/Infinity from a zero-width interval
      when(col(v).isNotNull, col(v)).otherwise(
        when(nv.getField("o") > pv.getField("o"),
          pv.getField("x") + (nv.getField("x") - pv.getField("x")) *
            ((col(ordCol) - pv.getField("o")) /
              (nv.getField("o") - pv.getField("o")))))
    }
    tracks.select(col("*") +: nbrs: _*)
      .select(tracks.columns.toIndexedSeq.map(c =>
        if (valueCols.contains(c)) lerp(c).as(c) else col(c)): _*)
  }

  /** The naive forward-neighbor encoding — an `unboundedFollowing`
    * frame per value column. Spark recomputes that frame per ROW
    * (O(n²) per partition): the round-18 wave-4 probe baseline, kept
    * only so the probe and EnsembleSpec can pin [[interpolate]]
    * bit-identical to it. Do not use on real tracks. */
  private[graft] def interpolateFollowingFrame(tracks: DataFrame,
      keys: Seq[String], ordCol: String,
      valueCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(ordCol))
    def lerp(v: String): Column = {
      val mark = when(col(v).isNotNull,
        struct(col(ordCol).as("o"), col(v).as("x")))
      val pv = last(mark, ignoreNulls = true)
        .over(w.rowsBetween(Window.unboundedPreceding, -1))
      val nv = first(mark, ignoreNulls = true)
        .over(w.rowsBetween(1, Window.unboundedFollowing))
      when(col(v).isNotNull, col(v)).otherwise(
        when(nv.getField("o") > pv.getField("o"),
          pv.getField("x") + (nv.getField("x") - pv.getField("x")) *
            ((col(ordCol) - pv.getField("o")) /
              (nv.getField("o") - pv.getField("o")))))
    }
    tracks.select(tracks.columns.toIndexedSeq.map(c =>
      if (valueCols.contains(c)) lerp(c).as(c) else col(c)): _*)
  }

  /** Wide-grid intake — the executable contract for out-of-band ensemble
    * sources (the reference reads MATLAB .mat grids, syntracks.py:203-269;
    * here the converter lands the same dense grid as Parquet arrays, one
    * row per (model, init, ens) with step-parallel arrays). Normalizes
    * back to long format: one row per step. Padded grid steps must carry
    * a null HOUR (that is the contract's missing-step marker — a null lat
    * alone is a real observed gap and is kept); ragged arrays are
    * null-padded by arrays_zip, so converters must emit equal lengths. */
  def fromWide(wide: DataFrame): DataFrame =
    wide
      .withColumn("pt", explode(arrays_zip(
        col("hours").as("hour"), col("lats").as("lat"),
        col("lons").as("lon"), col("winds").as("wind"),
        col("mslps").as("mslp"))))
      .select(col("model"), col("init"), col("ens"), col("ens_name"),
        col("annual_id"),
        col("pt.hour").as("hour"), col("pt.lat").as("lat"),
        col("pt.lon").as("lon"), col("pt.wind").as("wind"),
        col("pt.mslp").as("mslp"))
      .filter(col("hour").isNotNull)

  /** Wide view at the edge: one row per (model, init, ens) with per-step
    * arrays ordered by hour — the xarray-grid shape for export. */
  def toWide(tracks: DataFrame): DataFrame =
    tracks
      .groupBy("model", "init", "ens", "ens_name", "annual_id")
      .agg(
        array_sort(collect_list(struct(col("hour"), col("lat"), col("lon"),
          col("wind"), col("mslp")))).as("pts"))
      .select(col("model"), col("init"), col("ens"), col("ens_name"),
        col("annual_id"),
        transform(col("pts"), p => p.getField("hour")).as("hours"),
        transform(col("pts"), p => p.getField("lat")).as("lats"),
        transform(col("pts"), p => p.getField("lon")).as("lons"),
        transform(col("pts"), p => p.getField("wind")).as("winds"),
        transform(col("pts"), p => p.getField("mslp")).as("mslps"))
}
