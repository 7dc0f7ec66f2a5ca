package perfbench.live

import java.nio.file.{Files, Path}
import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}

import graft.analytics.ReferenceQueries
import graft.pipeline.{Maintenance, Pipelines, Store}
import graft.schema.Schemas
import perfbench.{Run, Stats}

/** The `live_season` workload: a seeded replay of a season through the real
  * pipeline on the reference cadence.
  *
  * Set-up (untimed) is a backfill at 20Z: it lands the season's b-deck
  * archive and the a-deck files of the 18Z cycle and runs on them every
  * operation the replay times — b-deck and a-deck ingest, the reference
  * queries, maintenance and compaction — so each has run once in this JVM.
  * The timed replay then ticks
  * hourly: every tick lands the current b-deck files and runs
  * `Pipelines.runBdeck`; every 6th tick also lands a-deck files, runs
  * `Pipelines.runAdeck` and the reference queries; every 00Z tick runs
  * maintenance and compaction. Every query result and, at the end, every
  * store table is compared with the plain-Scala [[Model]] recomputed from
  * the landed lines. */
object LiveSeason {
  /** Nominal seconds of one timed tick on a 4-core host; sets how many
    * ticks fit in `--seconds` (at least four: 21Z–23Z re-land ticks and the
    * 00Z tick that runs every other operation too). */
  val TickSeconds = 5.5
  val Tables: Seq[(String, org.apache.spark.sql.types.StructType)] = Seq(
    "storms" -> Schemas.storms, "observations" -> Schemas.observations,
    "forecasts" -> Schemas.forecasts, "tracks" -> Schemas.tracks,
    "steps" -> Schemas.steps)

  def replayHours(seconds: Int): Int = math.max(4, (seconds / TickSeconds).round.toInt)

  /** What one replay leaves behind besides the ledger samples. */
  final case class Replay(newLines: Long, newBytes: Long, timedNewLines: Long,
      timedNewBytes: Long, rejectedLines: Long, queryRows: Long, storeBytes: Long,
      storeFiles: Int)

  def ts(hour: Long): Timestamp = new Timestamp(hour * 3600000L)

  /** Renders a collected row the way [[Model]] renders its rows. */
  def render(r: Row): String = (0 until r.length).map { i =>
    r.get(i) match {
      case null => "null"
      case t: Timestamp => (t.getTime / 3600000L).toString
      case t: java.time.LocalDateTime =>
        (t.toEpochSecond(java.time.ZoneOffset.UTC) / 3600L).toString
      case v => v.toString
    }
  }.mkString("|")

  def compareSeq(got: Seq[String], want: Seq[String]): Option[String] =
    if (got == want) None
    else Some(s"got ${got.size} rows, want ${want.size}; first differences: " +
      got.zipAll(want, "<none>", "<none>").filter(p => p._1 != p._2).take(2)
        .map { case (g, w) => s"got [$g] want [$w]" }.mkString("; "))

  def compareSet(table: String, got: Seq[String], want: Set[String]): Option[String] = {
    val g = got.toSet
    if (g == want && got.size == want.size) None
    else Some(s"$table: ${got.size} rows (${g.size} distinct), want ${want.size}; " +
      s"missing e.g. ${(want -- g).take(2).mkString(", ")}; extra e.g. ${(g -- want).take(2).mkString(", ")}")
  }

  /** One replay from an empty directory. `warm` runs set-up operations,
    * `timed` the measured ones; `onTimed` fires just before the first timed
    * operation. */
  def replay(spark: SparkSession, season: Season, root: Path, warm: Run,
      timed: Run, onTimed: () => Unit, setupOnly: Boolean = false): Replay = {
    perfbench.Files.deleteTree(root)
    val landB = root.resolve("landing_b"); val landA = root.resolve("landing_a")
    Files.createDirectories(landB); Files.createDirectories(landA)
    val store = new Store(spark, root.resolve("store").toString)
    val model = new Model(Season.Allowed.toSet)
    val seen = mutable.Set[(String, String)]()
    var newLines = 0L; var newBytes = 0L; var timedNew = 0L; var timedNewBytes = 0L
    var rejected = 0L
    var queryRows = 0L

    def land(dir: Path, files: Seq[Season.DeckFile], counting: Boolean): Unit = {
      perfbench.Files.clearDir(dir)
      for (f <- files) {
        Files.write(dir.resolve(f.name), f.bytes)
        for (l <- f.lines if seen.add((f.name, l))) {
          newLines += 1; newBytes += l.length + 1
          if (counting) { timedNew += 1; timedNewBytes += l.length + 1 }
          if (l.split(",", -1).length < 18) rejected += 1
        }
      }
    }

    def queries(run: Run, h: Long): Unit = {
      val k = (h / 6).toInt
      val b = Season.Basins
      val (r1, r2) = (b(k % b.size), b((k + 1) % b.size))
      val m = Season.Allowed(k % Season.Allowed.size)
      def q(name: String, df: => org.apache.spark.sql.DataFrame, want: => Seq[String]): Unit =
        run.op[Array[Row]]("query", name, "analytics",
          rows => compareSeq(rows.toSeq.map(render), want)) {
          val rows = df.collect()
          if (run eq timed) queryRows += rows.length
          rows
        }
      q("basinModelCounts", ReferenceQueries.basinModelCounts(spark, store, r1), model.basinModelCounts(r1))
      q("basinModelCounts", ReferenceQueries.basinModelCounts(spark, store, r2), model.basinModelCounts(r2))
      q("basinTrackCountsByModel", ReferenceQueries.basinTrackCountsByModel(spark, store, r1),
        model.basinTrackCountsByModel(r1))
      q("modelCountsByBasin", ReferenceQueries.modelCountsByBasin(spark, store, m), model.modelCountsByBasin(m))
      q("stormTrackCountsByModel", ReferenceQueries.stormTrackCountsByModel(spark, store, r1),
        model.stormTrackCountsByModel(r1))
      val withInit = model.tracks.filter(_._3 == h).map(_._4).toSeq.sorted
      val storm = if (withInit.nonEmpty) withInit(k % withInit.size) else model.storms.keys.min
      q("trackExtraction", ReferenceQueries.trackExtraction(spark, store, storm, Some(ts(h))),
        model.trackExtraction(storm, h))
    }

    /** One hourly tick at `h`; `adeckCycle` lands the a-deck files of that
      * synoptic cycle and runs the a-deck ingest and the queries. */
    def tick(run: Run, h: Long, archive: Boolean, counting: Boolean,
        adeckCycle: Option[Long], daily: Boolean): Unit = {
      val bFiles = season.bdeckFiles(h, archive)
      land(landB, bFiles, counting)
      run.op[Unit](if (h % 6 == 0) "bdeck.fix" else "bdeck.reland", "runBdeck", "pipeline") {
        Pipelines.runBdeck(spark, landB.toString, store, ts(h))
      }
      model.bdeck(h, bFiles)
      adeckCycle.foreach { c =>
        val aFiles = season.adeckFiles(c)
        land(landA, aFiles, counting)
        run.op[Unit]("adeck", "runAdeck", "pipeline") {
          Pipelines.runAdeck(spark, landA.toString, store, ts(h), Season.Allowed)
        }
        model.adeck(h, aFiles)
        queries(run, c)
      }
      if (daily) {
        run.op[Unit]("maintenance", "maintenance", "pipeline.maintenance") {
          Maintenance.archiveStale(store, ts(h))
          Maintenance.expireInvests(store, ts(h))
        }
        model.archiveStale(h); model.expireInvests(h)
        run.op[Unit]("compact", "compact", "pipeline.store") {
          Tables.foreach { case (t, schema) => if (store.exists(t)) store.compact(t, schema) }
        }
      }
    }

    val b = Season.BackfillHour
    tick(warm, b, archive = true, counting = false, adeckCycle = Some(b / 6 * 6), daily = true)
    if (setupOnly) return Replay(newLines, newBytes, 0, 0, rejected, 0, 0, 0)
    onTimed()
    season.ticks.foreach(h => tick(timed, h, archive = false, counting = true,
      adeckCycle = Some(h).filter(_ % 6 == 0), daily = h % 24 == 0))

    // final store against the model (untimed)
    def read(t: String, schema: org.apache.spark.sql.types.StructType, cols: Seq[String]) =
      store.read(t, schema).select(cols.map(org.apache.spark.sql.functions.col): _*)
        .collect().toSeq.map(render)
    val rad = for (r <- Seq(34, 50, 64); q <- Seq("ne", "se", "sw", "nw")) yield s"r${r}_$q"
    timed.check("store.storms")(compareSet("storms", read("storms", Schemas.storms,
      Seq("nhc_id", "region", "nhc_number", "season", "start_date", "end_date", "status",
        "name", "start_lat", "start_lon", "annual_id")), model.stormRows))
    timed.check("store.observations")(compareSet("observations",
      read("observations", Schemas.observations, Seq("nhc_id", "start_date", "datetime_utc",
        "latitude", "longitude", "intensity_kts", "mslp_mb") ++ rad ++
        Seq("pouter_mb", "router_nmi", "rmw_nmi")), model.obsRows))
    timed.check("store.forecasts")(compareSet("forecasts", read("forecasts", Schemas.forecasts,
      Seq("region", "data_source", "model", "datetime_utc")), model.forecastRows))
    timed.check("store.tracks")(compareSet("tracks", read("tracks", Schemas.tracks,
      Seq("region", "model", "datetime_utc", "nhc_id", "ensemble_number")), model.trackRows))
    timed.check("store.steps")(compareSet("steps", read("steps", Schemas.steps,
      Seq("region", "model", "datetime_utc", "nhc_id", "ensemble_number", "hour",
        "latitude", "longitude", "intensity_kts", "mslp_mb")), model.stepRows))

    val storeRoot = root.resolve("store")
    val parquet = perfbench.Files.walk(storeRoot).filter(_.getFileName.toString.endsWith(".parquet"))
    Replay(newLines, newBytes, timedNew, timedNewBytes, rejected, queryRows,
      parquet.map(Files.size).sum, Tables.map(t => store.dataFileCount(t._1)).sum)
  }

  /** Samples of every b-deck tick, re-land and fix ticks together. */
  def bdeckTicks(l: perfbench.Ledger): Seq[Double] =
    l.seconds("bdeck.reland") ++ l.seconds("bdeck.fix")

  /** End-to-end and printed figures of one untraced replay. */
  def figures(run: Run, r: Replay): Seq[(String, Double, String)] = {
    val l = run.ledger
    val b = bdeckTicks(l)
    val tickTime = b.sum + l.seconds("adeck").sum
    val q = l.seconds("query")
    val (tail, pct) = Stats.tail(b)
    Seq(
      ("bdeck_tick_p50_s", Stats.median(b), "s"),
      ("bdeck_tick_tail_s", tail, "s"),
      ("bdeck_tick_tail_pct", pct, "%"),
      ("bdeck_tick_samples", b.size.toDouble, "count"),
      ("adeck_tick_p50_s", Stats.median(l.seconds("adeck")), "s"),
      ("ref_query_p50_s", Stats.median(q), "s"),
      ("ref_query_tail_s", Stats.tail(q)._1, "s"),
      ("ingest_lines_per_s", r.timedNewLines / tickTime, "1/s"),
      ("store_bytes_per_input_byte", r.storeBytes.toDouble / r.newBytes, "ratio"))
  }
}
