package perfbench.live

import java.util.SplittableRandom

/** Seeded generator of one simulated tropical-cyclone season, rendered as
  * ATCF b-deck and a-deck files on the reference cadence.
  *
  * Time is counted in whole hours since the epoch. Best-track fixes exist
  * only at synoptic hours (00/06/12/18Z), so the hourly b-deck feed re-lands
  * byte-identical files on five ticks out of six. Every number below is
  * fixed per workload; the seed moves positions, intensities, names, genesis
  * hours and forecast values, never the counts, so two seeds cost the same.
  *
  * Shape per basin:
  *  - `HistoryNamed` named storms and `HistoryDuds` dud invests that ended
  *    before the backfill hour (half the named ones began as invests);
  *  - one named storm active across the backfill hour;
  *  - one invest active at the backfill hour that is named inside the
  *    replay (same start fix, so the same start date and distance 0);
  *  - one system forming inside the replay: a dud invest in even basins, a
  *    storm named at genesis in odd basins.
  *
  * Genesis hours are distinct per basin, so every invest→named claim has a
  * single candidate and no resolver tie-break is exercised.
  */
object Season {
  val Basins: IndexedSeq[String] = IndexedSeq("AL", "EP", "WP", "SH")
  val Year = 2024
  /** Backfill hour: 2024-08-20 20Z, so a four-tick replay ends on 00Z, the
    * daily maintenance hour. The history starts 20 days earlier. */
  val BackfillHour: Long = java.time.LocalDateTime.of(Year, 8, 20, 20, 0)
    .toEpochSecond(java.time.ZoneOffset.UTC) / 3600L
  val HistoryDays = 20
  val HistoryNamed = 4
  val HistoryDuds = 2

  /** Forecast models: the first six are allowlisted. */
  val Allowed: IndexedSeq[String] =
    IndexedSeq("OFCL", "HWRF", "AVNO", "EMXI", "CMC", "NVGM")
  val Models: IndexedSeq[String] = Allowed ++ IndexedSeq("XTRP", "CLP5", "BAMM")
  val Taus: IndexedSeq[Int] = 0 to 120 by 12
  /** Forecast cycles re-landed by an a-deck tick, in hours before it; 54 is
    * outside the 48 h recency window on purpose. */
  val CycleLags: Seq[Int] = Seq(0, 6, 12, 54)
  /** A file stays on the feed while its newest fix is younger than this. */
  val FeedHours = 24

  private val Names = IndexedSeq("ALDER", "BIRCH", "CEDAR", "DAHLIA", "ELM",
    "FERN", "GINKGO", "HAZEL", "IRIS", "JUNIPER", "KALE", "LAUREL", "MAPLE",
    "NETTLE", "OLIVE", "POPPY", "QUINCE", "ROWAN", "SORREL", "TANSY")

  /** The agency whose b-decks name the invest (`NHC-91L`, `JTWC-92W`). */
  def dataSource(basin: String): String =
    if (Set("AL", "EP", "CP")(basin)) "NHC" else "JTWC"

  /** Deterministic uniform draw keyed by the seed and a path of longs. */
  final class Draw(seed: Long) {
    def rng(keys: Long*): SplittableRandom =
      new SplittableRandom(keys.foldLeft(seed * 0x9E3779B97F4A7C15L)((h, k) =>
        java.lang.Long.rotateLeft(h ^ (k * 0xC2B2AE3D27D4EB4FL), 29) * 5L + 0x52DCE729L))
    def u(keys: Long*): Double = rng(keys: _*).nextDouble()
    def int(lo: Int, hi: Int, keys: Long*): Int = lo + rng(keys: _*).nextInt(hi - lo + 1)
  }

  /** One model's forecast step from one cycle of one system. */
  final case class Step(model: String, cycle: Long, tau: Int, latT: Int,
      lonT: Int, vmax: Int, mslp: Int)

  final case class Fix(hour: Long, latT: Int, lonT: Int, vmax: Int,
      mslp: Int, radii: Map[Int, IndexedSeq[Int]], pouter: Int, roci: Int,
      rmw: Int)

  /** One system. `named` is the fix index at which it becomes a named
    * storm: 0 for a storm named at genesis, `fixes.size` for a dud invest. */
  final case class Sys(id: Int, basin: String, investNum: Option[Int],
      namedNum: Option[Int], name: String, fixes: IndexedSeq[Fix],
      named: Int) {
    def namingHour: Option[Long] = if (named < fixes.size) Some(fixes(named).hour) else None
  }

  /** A deck file as it stands at one hour. */
  final case class DeckFile(name: String, lines: IndexedSeq[String]) {
    def bytes: Array[Byte] = lines.mkString("", "\n", "\n").getBytes("UTF-8")
  }

  def mslpFor(vmax: Int): Int = math.max(880, 1012 - ((vmax - 20) * 0.9).toInt)

  def generate(seed: Long, replayHours: Int): Season = {
    val d = new Draw(seed)
    var nextId = 0
    val systems = Basins.zipWithIndex.flatMap { case (basin, bi) =>
      // distinct synoptic genesis slots per basin
      val used = scala.collection.mutable.Set[Long]()
      def slot(lo: Long, hi: Long, k: Long): Long = {
        var s = (lo + (d.int(0, ((hi - lo) / 6).toInt, bi, k, 1) * 6L)) / 6 * 6
        while (used(s)) s += 6
        used += s; s
      }
      val h0 = BackfillHour - HistoryDays * 24L
      // (genesis, nFixes, namedIdx or -1 for dud) per system
      val plans = scala.collection.mutable.ArrayBuffer[(Long, Int, Int)]()
      for (k <- 0 until HistoryNamed) {
        val n = d.int(10, 24, bi, k, 2)
        val g = slot(h0, BackfillHour - 6L * n - 30, k)
        val namedAt = if (k % 2 == 0) d.int(2, 5, bi, k, 3) else 0
        plans += ((g, n, namedAt))
      }
      for (k <- 0 until HistoryDuds) {
        val n = d.int(3, 8, bi, k, 4)
        plans += ((slot(h0, BackfillHour - 6L * n - 30, 100 + k), n, -1))
      }
      // named storm active across the backfill hour, lasting into the replay
      val actN = (replayHours / 6) + d.int(4, 8, bi, 5)
      plans += ((slot(BackfillHour - 48, BackfillHour - 24, 200), actN, 0))
      // synoptic hours inside the replay: where fixes, namings and
      // geneses can happen
      val syn = (BackfillHour + 1 to BackfillHour + replayHours).filter(_ % 6 == 0)
      // invest at the backfill hour, named at a synoptic hour of the replay
      val gI = slot(BackfillHour - 30, BackfillHour - 6, 300)
      val namedAtI = ((syn(d.int(0, syn.size - 1, bi, 6)) - gI) / 6).toInt
      plans += ((gI, namedAtI + d.int(4, 10, bi, 7), namedAtI))
      // forming inside the replay
      val gF = slot(syn.head, syn.last, 400)
      plans += ((gF, d.int(4, 12, bi, 8), if (bi % 2 == 0) -1 else 0))

      val ordered = plans.sortBy(_._1)
      var investN = 90
      // named numbers follow naming order, invest numbers genesis order
      val namingOrder = ordered.zipWithIndex.filter(_._1._3 >= 0)
        .sortBy { case ((g, _, at), _) => g + 6L * at }.map(_._2)
      val namedNumOf = namingOrder.zipWithIndex.map { case (i, r) => i -> (r + 1) }.toMap
      ordered.zipWithIndex.map { case ((g, n, at), i) =>
        val id = nextId; nextId += 1
        val isInvest = at != 0
        val inum = if (isInvest) { val v = investN; investN += 1; Some(v) } else None
        val nnum = namedNumOf.get(i)
        val fixes = track(d, basin, id, g, n, at)
        Sys(id, basin, inum, nnum, Names((bi * 5 + namedNumOf.getOrElse(i, 0) * 3 + Math.floorMod(seed, 7L).toInt) % Names.size),
          fixes, if (at < 0) fixes.size else at)
      }
    }
    new Season(seed, replayHours, systems)
  }

  private def track(d: Draw, basin: String, id: Int, g: Long, n: Int,
      namedAt: Int): IndexedSeq[Fix] = {
    val south = basin == "SH"
    var lat = d.int(100, 220, id, 10) * (if (south) -1 else 1)
    var lon = basin match {
      case "AL" => -d.int(400, 800, id, 11)
      case "EP" => -d.int(1000, 1300, id, 11)
      case "WP" => d.int(1300, 1600, id, 11)
      case _ => d.int(600, 1500, id, 11)
    }
    val peak = if (namedAt < 0) d.int(22, 32, id, 12) else d.int(55, 140, id, 12)
    val peakAt = math.max(1, (n * (0.4 + 0.3 * d.u(id, 13))).toInt)
    (0 until n).map { i =>
      val frac = if (i <= peakAt) i.toDouble / peakAt else 1.0 - 0.6 * (i - peakAt) / math.max(1, n - peakAt)
      val vmax = math.max(20, (25 + (peak - 25) * frac).round.toInt)
      lat += d.int(3, 12, id, i, 14) * (if (south) -1 else 1)
      lon += d.int(-15, 6, id, i, 15)
      val radii = Seq(34, 50, 64).filter(r => r == 34 || vmax >= r).map { r =>
        val scale = (if (r == 34) 3 else if (r == 50) 2 else 1)
        r -> (0 until 4).map(q => d.int(10, 60, id, i, r, q) * scale).toIndexedSeq
      }.toMap
      Fix(g + 6L * i, lat, lon, vmax, mslpFor(vmax), radii,
        1006 + d.int(0, 6, id, i, 16), d.int(80, 300, id, i, 17),
        d.int(10, 60, id, i, 18))
    }
  }

  def atcfTime(hour: Long): String = {
    val t = java.time.LocalDateTime.ofEpochSecond(hour * 3600L, 0, java.time.ZoneOffset.UTC)
    f"${t.getYear}%04d${t.getMonthValue}%02d${t.getDayOfMonth}%02d${t.getHour}%02d"
  }
  def latStr(t: Int): String = s"${math.abs(t)}${if (t < 0) "S" else "N"}"
  def lonStr(t: Int): String = s"${math.abs(t)}${if (t < 0) "W" else "E"}"
  def subregion(basin: String): String = basin match {
    case "AL" => "L"; case "EP" => "E"; case "WP" => "W"; case _ => "S"
  }
  def stormType(vmax: Int, basin: String): String = basin match {
    case "AL" | "EP" => if (vmax < 34) "TD" else if (vmax < 63) "TS" else "HU"
    case "WP" => if (vmax < 34) "TD" else if (vmax < 63) "TS" else if (vmax < 130) "TY" else "STY"
    case "SH" => if (vmax < 63) "TC" else "STC"
    case _ => "CY"
  }
  def titleCase(s: String): String =
    s.toLowerCase.split("(?<=[^a-z])").map(t => t.take(1).toUpperCase + t.drop(1)).mkString
}

/** One generated season plus the feeds it lands. */
final class Season(val seed: Long, val replayHours: Int,
    val systems: IndexedSeq[Season.Sys]) {
  import Season._
  private val d = new Draw(seed)

  /** Hours the replay ticks on, after the backfill hour. */
  def ticks: IndexedSeq[Long] = (1 to replayHours).map(BackfillHour + _)

  def bFileName(basin: String, num: Int): String =
    s"b${basin.toLowerCase}${"%02d".format(num)}$Year.dat"
  def aFileName(basin: String, num: Int): String =
    s"a${basin.toLowerCase}${"%02d".format(num)}$Year.dat"

  /** b-deck rows for one fix of one file: a 34 kt row plus 50/64 kt rows
    * when the storm is strong enough. About 5% of the 50/64 kt rows of named
    * files are ragged (18–30 fields, still parsed), and about 4% of fixes are
    * followed by a short line (<18 fields) the parser must reject. */
  def bLines(s: Sys, num: Int, invest: Boolean, i: Int): IndexedSeq[String] = {
    val f = s.fixes(i)
    val name = if (invest) "INVEST" else s.name
    val ty = stormType(f.vmax, s.basin)
    val rows = f.radii.keys.toIndexedSeq.sorted.map { rad =>
      val q = f.radii(rad)
      val fields = IndexedSeq(s.basin, "%02d".format(num), atcfTime(f.hour), "  ",
        "BEST", "  0", latStr(f.latT), lonStr(f.lonT), f.vmax.toString,
        f.mslp.toString, ty, rad.toString, "NEQ", q(0).toString, q(1).toString,
        q(2).toString, q(3).toString, f.pouter.toString, f.roci.toString,
        f.rmw.toString, (f.vmax + 15).toString, "  ", subregion(s.basin), "  0",
        "   ", "  0", "  0", name, "D", " 12", "NEQ", " 60", " 60", " 30",
        " 30", "   ", "   ")
      val ragged = !invest && rad != 34 && d.u(s.id, i, rad, 20) < 0.10
      val kept = if (ragged) 18 + d.int(0, 12, s.id, i, rad, 21) else fields.size
      fields.take(kept).mkString(", ")
    }
    val junk = if (d.u(s.id, i, 22) < 0.04)
      IndexedSeq(rows.head.split(", ").take(d.int(5, 12, s.id, i, 23)).mkString(", "))
    else IndexedSeq.empty
    rows ++ junk
  }

  /** b-deck files visible at `hour`: each file holds the fixes issued up to
    * then. `archive` keeps files whose newest fix left the feed (backfill). */
  def bdeckFiles(hour: Long, archive: Boolean): IndexedSeq[DeckFile] =
    systems.flatMap { s =>
      val seen = s.fixes.indices.filter(s.fixes(_).hour <= hour)
      def file(num: Int, invest: Boolean, idx: IndexedSeq[Int]) =
        if (idx.isEmpty || (!archive && hour - s.fixes(idx.last).hour >= FeedHours)) None
        else Some(DeckFile(bFileName(s.basin, num),
          idx.flatMap(i => bLines(s, num, invest, i))))
      s.investNum.flatMap(n => file(n, true, seen.filter(_ < s.named))).toSeq ++
        s.namedNum.flatMap(n =>
          if (s.namingHour.exists(_ <= hour)) file(n, false, seen) else None).toSeq
    }

  def forecast(s: Sys, fixIdx: Int, model: String): IndexedSeq[Step] = {
    val f = s.fixes(fixIdx)
    val m = Models.indexOf(model)
    val south = s.basin == "SH"
    Taus.map { tau =>
      val k = tau / 12
      val latT = f.latT + (if (south) -1 else 1) * k * d.int(6, 14, s.id, fixIdx, m, 30) +
        d.int(-5, 5, s.id, fixIdx, m, tau, 31)
      val lonT = f.lonT + k * d.int(-12, 4, s.id, fixIdx, m, 32)
      val vmax = math.min(180, math.max(15, f.vmax + k * d.int(-6, 8, s.id, fixIdx, m, 33)))
      Step(model, f.hour, tau, latT, lonT, vmax, mslpFor(vmax))
    }
  }

  def aLines(s: Sys, num: Int, fixIdx: Int): IndexedSeq[String] =
    Models.flatMap { model =>
      forecast(s, fixIdx, model).flatMap { st =>
        Seq(34, 50).filter(r => r == 34 || st.vmax >= 50).map { rad =>
          Seq(s.basin, "%02d".format(num), atcfTime(st.cycle), "  ", model,
            "%3d".format(st.tau), latStr(st.latT), lonStr(st.lonT),
            st.vmax.toString, st.mslp.toString, "XX", rad.toString, "NEQ",
            "  0", "  0", "  0", "  0", "").mkString(", ")
        }
      }
    }

  /** a-deck files landed at a 6-hourly tick: every system still on the
    * feed gets its file re-landed with the cycles `CycleLags` before now
    * (the invest number before naming, the storm number after). */
  def adeckFiles(hour: Long): IndexedSeq[DeckFile] =
    systems.flatMap { s =>
      val cycles = CycleLags.map(hour - _).flatMap(c =>
        s.fixes.indices.find(s.fixes(_).hour == c))
      val live = s.fixes.exists(f => f.hour <= hour && hour - f.hour < FeedHours)
      if (!live) Nil
      else {
        val (pre, post) = cycles.partition(_ < s.named)
        def file(num: Option[Int], idx: Seq[Int]) =
          num.filter(_ => idx.nonEmpty).map(n =>
            DeckFile(aFileName(s.basin, n), idx.sorted.toIndexedSeq.flatMap(i => aLines(s, n, i))))
        file(s.investNum, pre).toSeq ++ file(s.namedNum, post).toSeq
      }
    }
}
