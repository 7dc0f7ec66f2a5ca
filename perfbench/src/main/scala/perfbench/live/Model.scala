package perfbench.live

import scala.collection.mutable

/** Plain-Scala reference model of the store the pipeline must produce.
  *
  * It re-derives everything from the generated deck TEXT (split on commas,
  * drop lines under 18 fields, pad ragged ones), then applies the
  * reference's rules tick by tick: storm summaries, the two-phase
  * named/invest resolution with invest→named claims, annual ids, the
  * observation upsert, the a-deck allowlist and 48 h recency window, and
  * the daily maintenance. Only the cases the generator produces are
  * modelled; an input outside them (a claim with two candidates, a reused
  * invest number) raises instead of guessing.
  *
  * Rows are rendered as `|`-joined strings, timestamps as whole epoch
  * hours, so they compare directly with rows read back from the store.
  */
final class Model(allowed: Set[String], recencyHours: Int = 48) {
  import Model._

  val storms = mutable.Map[String, Storm]()
  val obs = mutable.Map[(String, Long, Long), String]()
  val forecasts = mutable.Set[(String, String, String, Long)]()
  val tracks = mutable.Set[(String, String, Long, String)]()
  val steps = mutable.Map[(String, String, Long, String, Int), StepVals]()

  def bdeck(now: Long, files: Seq[Season.DeckFile]): Unit = {
    val parsed = files.map(f => f.name -> rows(f.lines, BFields))
    val sums = parsed.map { case (name, rs) => summary(name, rs, now) }
    resolve(now, sums)
    // observations of files whose (nhc_id, start_date) resolved to a storm
    for (((name, rs), s) <- parsed.zip(sums)
         if storms.get(s.nhcId).exists(_.start == s.start);
         (dt, group) <- rs.groupBy(r => hourOf(r(2)))) {
      obs((s.nhcId, s.start, dt)) = obsValues(group)
    }
  }

  def adeck(now: Long, files: Seq[Season.DeckFile]): Unit =
    for (f <- files) {
      val region = f.name.substring(1, 3).toUpperCase
      val nhcId = region + f.name.substring(3, 5) + f.name.substring(5, 9)
      if (storms.contains(nhcId)) {
        val keep = rows(f.lines, AFields).filter(r =>
          allowed(r(4)) && now - hourOf(r(2)) <= recencyHours)
        for (((cycle, model, tau), g) <- keep.groupBy(r => (hourOf(r(2)), r(4), r(5).trim.toInt))) {
          val r = firstByRad(g)
          forecasts += ((region, Season.dataSource(region), model, cycle))
          tracks += ((region, model, cycle, nhcId))
          steps((region, model, cycle, nhcId, tau)) = StepVals(
            lat(r(6)), lon(r(7)), velocity(num(r(8))), pressure(num(r(9))))
        }
      }
    }

  /** Maintenance.archiveStale: Active storms whose newest observation is
    * older than `hours` flip to Archive. */
  def archiveStale(now: Long, hours: Int = 24): Unit = {
    val lastObs = obs.keys.groupBy(_._1).map { case (id, ks) => id -> ks.map(_._3).max }
    for ((id, s) <- storms.toSeq
         if s.status == "Active" && lastObs.getOrElse(id, s.end) < now - hours)
      storms(id) = s.copy(status = "Archive")
  }

  /** Maintenance.expireInvests with its cascade to observations, tracks
    * and steps. */
  def expireInvests(now: Long, days: Int = 30): Unit = {
    val expired = storms.values.filter(s => s.nhcNumber >= 90 && s.end < now - days * 24L)
      .map(_.nhcId).toSet
    storms --= expired
    obs.filterInPlace((k, _) => !expired(k._1))
    tracks.filterInPlace(t => !expired(t._4))
    steps.filterInPlace((k, _) => !expired(k._4))
  }

  private def resolve(now: Long, sums: Seq[Summary]): Unit = {
    val stamped = sums.map(s => s -> (if (now - s.end <= 16) "Active" else "Archive"))
    // phase 1: named storms against the existing store
    val existing = storms.clone()
    for ((s, status) <- stamped if s.nhcNumber < 90) {
      existing.get(s.nhcId) match {
        case Some(e) =>
          if (e.end <= s.end) storms(s.nhcId) = s.toStorm(status, e.annual)
        case None =>
          val cands = existing.values.filter(c => c.nhcNumber >= 70 &&
            c.region == s.region && c.start == s.start).toSeq
          require(cands.size <= 1, s"claim for ${s.nhcId} has ${cands.size} candidates")
          cands.headOption match {
            case Some(c) =>
              storms -= c.nhcId
              storms(s.nhcId) = s.toStorm(status, c.annual)
            case None => storms(s.nhcId) = s.toStorm(status, None)
          }
      }
    }
    // phase 2: live invests against the post-named store
    val postNamed = storms.clone()
    for ((s, status) <- stamped if s.nhcNumber >= 90 && now - s.end < 24) {
      val named = postNamed.values.count(c => c.nhcNumber <= 50 &&
        c.region == s.region && c.start == s.start)
      if (named == 0) postNamed.get(s.nhcId) match {
        case Some(e) =>
          require(math.abs(e.start - s.start) <= 24, s"invest number ${s.nhcId} reused")
          storms(s.nhcId) = s.toStorm(status, e.annual)
        case None => storms(s.nhcId) = s.toStorm(status, None)
      }
    }
    // annual ids: max + 1 per (season, region), new rows by (number, id)
    for (((season, region), group) <- storms.values.toSeq.groupBy(s => (s.season, s.region))) {
      val base = group.flatMap(_.annual).maxOption.getOrElse(0)
      group.filter(_.annual.isEmpty).sortBy(s => (s.nhcNumber, s.nhcId)).zipWithIndex
        .foreach { case (s, i) => storms(s.nhcId) = s.copy(annual = Some(base + i + 1)) }
    }
  }

  // ------------------------------------------------------------ renderings

  def stormRows: Set[String] = storms.values.map(_.render).toSet
  def obsRows: Set[String] = obs.map { case ((id, st, dt), v) => s"$id|$st|$dt|$v" }.toSet
  def forecastRows: Set[String] = forecasts.map { case (r, d, m, c) => s"$r|$d|$m|$c" }.toSet
  def trackRows: Set[String] = tracks.map { case (r, m, c, id) => s"$r|$m|$c|$id|1" }.toSet
  def stepRows: Set[String] = steps.map { case ((r, m, c, id, h), v) =>
    s"$r|$m|$c|$id|1|$h|${v.render}" }.toSet

  private def countBy[K](xs: Iterable[K]): Seq[(K, Int)] =
    xs.groupBy(identity).map { case (k, v) => k -> v.size }.toSeq

  /** ReferenceQueries.basinModelCounts */
  def basinModelCounts(region: String): Seq[String] =
    countBy(tracks.toSeq.filter(_._1 == region).map(_._2))
      .sortBy { case (m, n) => (-n, m) }.map { case (m, n) => s"$m|$n" }

  /** ReferenceQueries.basinTrackCountsByModel */
  def basinTrackCountsByModel(region: String): Seq[String] =
    countBy(forecasts.toSeq.filter(_._1 == region).map(_._3))
      .sortBy { case (m, n) => (-n, m) }.map { case (m, n) => s"$m|$n" }

  /** ReferenceQueries.modelCountsByBasin */
  def modelCountsByBasin(model: String): Seq[String] =
    countBy(forecasts.toSeq.filter(_._3 == model).map(_._1))
      .sortBy { case (r, n) => (-n, r) }.map { case (r, n) => s"$r|$n" }

  /** ReferenceQueries.stormTrackCountsByModel */
  def stormTrackCountsByModel(region: String): Seq[String] =
    countBy(tracks.toSeq.filter(_._1 == region).flatMap(t =>
      storms.get(t._4).map(s => (s.name, t._2, s.nhcNumber))))
      .sortBy { case ((_, m, nn), n) => (nn, -n, m) }
      .map { case ((name, m, _), n) => s"$name|$m|$n" }

  /** ReferenceQueries.trackExtraction for one storm and init. */
  def trackExtraction(nhcId: String, init: Long): Seq[String] =
    storms.get(nhcId).toSeq.flatMap { s =>
      steps.toSeq.filter { case (k, _) => k._4 == nhcId && k._3 == init }
        .sortBy { case (k, _) => (k._2, k._5) }
        .map { case ((_, m, c, id, h), v) =>
          s"$id|${s.name}|${s.annual.getOrElse("null")}|1|$m|$c|$h|${v.render}" }
    }
}

object Model {
  val BFields = 36
  val AFields = 17

  final case class Storm(nhcId: String, region: String, nhcNumber: Int,
      season: Int, start: Long, end: Long, status: String, name: String,
      startLat: Option[Double], startLon: Option[Double], annual: Option[Int]) {
    def render: String = Seq(nhcId, region, nhcNumber, season, start, end,
      status, name, opt(startLat), opt(startLon), annual.getOrElse("null")).mkString("|")
  }

  final case class Summary(file: String, region: String, nhcNumber: Int,
      nhcId: String, season: Int, start: Long, end: Long, name: String,
      startLat: Option[Double], startLon: Option[Double]) {
    def toStorm(status: String, annual: Option[Int]): Storm =
      Storm(nhcId, region, nhcNumber, season, start, end, status, name,
        startLat, startLon, annual)
  }

  final case class StepVals(lat: Option[Double], lon: Option[Double],
      vmax: Option[Double], mslp: Option[Double]) {
    def render: String = Seq(lat, lon, vmax, mslp).map(opt).mkString("|")
  }

  def opt(v: Option[Any]): String = v.map(_.toString).getOrElse("null")

  /** Lines with at least 18 comma-separated fields, trimmed, padded with
    * nulls to `width` — the parser's ragged-row rule. */
  def rows(lines: Seq[String], width: Int): Seq[IndexedSeq[String]] =
    lines.map(_.split(",", -1)).filter(_.length >= 18).map { p =>
      IndexedSeq.tabulate(width)(i =>
        if (i < p.length && p(i).trim.nonEmpty) p(i).trim else null)
    }

  def hourOf(atcf: String): Long =
    java.time.LocalDateTime.parse(atcf.trim,
      java.time.format.DateTimeFormatter.ofPattern("yyyyMMddHH"))
      .toEpochSecond(java.time.ZoneOffset.UTC) / 3600L

  def num(s: String): Option[Double] = Option(s).map(_.toDouble)
  def lat(s: String): Option[Double] = Option(s).map { t =>
    val mag = t.dropRight(1).toDouble / 10.0
    if (t.endsWith("N")) mag else -mag + 0.0
  }.filter(v => v >= -90 && v <= 90)
  def lon(s: String): Option[Double] = Option(s).map { t =>
    val mag = t.dropRight(1).toDouble / 10.0
    if (t.endsWith("W")) -mag + 0.0 else mag
  }.filter(v => v >= -180 && v <= 180)
  def velocity(v: Option[Double]): Option[Double] = v.filter(x => x >= 0 && x <= 250)
  def pressure(v: Option[Double]): Option[Double] =
    Some(v.filter(x => (x >= 850 && x <= 1050) || x == 0).getOrElse(1000.0))
  def distance(v: Option[Double]): Option[Double] = v.filter(_ >= 0)

  private def rad(r: IndexedSeq[String]): Double = num(r(11)).getOrElse(0.0)
  private def firstByRad(g: Seq[IndexedSeq[String]]) = g.minBy(rad)

  private def summary(file: String, rs: Seq[IndexedSeq[String]], now: Long): Summary = {
    val key = (r: IndexedSeq[String]) => (hourOf(r(2)), rad(r))
    val first = rs.minBy(key)
    val last = rs.maxBy(key)
    val region = first(0)
    val nn = last(1).toInt
    val season = file.substring(5, 9).toInt
    val vmaxMax = rs.flatMap(r => num(r(8))).max
    val nameMode = rs.flatMap(r => Option(r(27))).groupBy(identity)
      .map { case (n, v) => (-v.size, n) }.minOption.map(_._2)
    val raw = Option(last(27)).orElse(nameMode).get
    val name =
      if (nn >= 70) f"${Season.dataSource(region)}-$nn%02d${Option(last(22)).getOrElse("")}"
      else Season.stormType(vmaxMax.toInt, region) + "-" + Season.titleCase(raw)
    val firstFix = rs.minBy(r => hourOf(r(2)))
    Summary(file, region, nn, f"${region.toUpperCase}$nn%02d$season", season,
      hourOf(first(2)), rs.map(r => hourOf(r(2))).max, name,
      lat(firstFix(6)), lon(firstFix(7)))
  }

  private def obsValues(g: Seq[IndexedSeq[String]]): String = {
    val f = firstByRad(g)
    def radial(r: Int, q: Int): String = g.filter(x => rad(x) == r)
      .flatMap(x => distance(num(x(q)))).maxOption.map(_.toInt.toString).getOrElse("null")
    (Seq(opt(lat(f(6))), opt(lon(f(7))), opt(velocity(num(f(8)))),
      opt(pressure(num(f(9))))) ++
      (for (r <- Seq(34, 50, 64); q <- 13 to 16) yield radial(r, q)) ++
      Seq(opt(pressure(num(f(17)))), opt(distance(num(f(18)))),
        opt(distance(num(f(19)))))).mkString("|")
  }
}
