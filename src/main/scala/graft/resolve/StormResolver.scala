package graft.resolve

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions._

import graft.functions.expressions.GreatCircleDistance
import graft.schema.Schemas

/** Batch entity resolution for storms: the reference's sequential
  * per-file state machine (tcdb/etl/process_storms.py:63-243) as one
  * keyed fold.
  *
  * The existing storms and the batch's status-stamped summaries are
  * tagged, unioned and grouped by `upper(region)`; each group then runs
  * plain Scala in the reference's order:
  *   1. named summaries (`nhc_number < 90`) against the store as it was
  *      before the batch: the by-id update with the end_date guard and a
  *      change-detected `run_id`, else the claim of a prior invest in the
  *      same region with the same start_date;
  *   1. live invests against the store after step 1, so same-batch
  *      invest→named transitions are visible: the drop of already
  *      transitioned invests, else the match by `nhc_id` within 24 h;
  *   1. annual ids, max+1 per (season, region), new storms ordered by
  *      (nhc_number, nhc_id).
  *
  * Why `upper(region)` is a safe key: every rule that compares two rows
  * compares `region` (claims, transitions, annual ids) or `nhc_id`
  * (updates, invest matches, the replace-by-key merge), and `Atcf.nhcId`
  * builds `nhc_id` from `upper(region)`, so rows with equal ids share a
  * group. The fold throws on a row whose `nhc_id` does not start with
  * `upper(region)`.
  *
  * A group is a few dozen rows (one per storm), so the whole resolution
  * is one shuffle and no checkpoint. Rows sharing an incoming `nhc_id`
  * are probed as one; StormResolverFoldSpec pins the fold, ties
  * included, to the set-based form in test code.
  */
object StormResolver {

  /** One storms-table row inside the fold. `incoming` tags a batch
    * summary; `key` is `upper(region)`, computed by Spark like
    * `Atcf.nhcId` does. */
  final case class StormRow(annual_id: java.lang.Integer, region: String,
      nhc_number: Int, nhc_id: String, season: Int, start_date: Timestamp,
      end_date: Timestamp, status: String, name: String,
      start_lat: java.lang.Double, start_lon: java.lang.Double,
      run_id: String, incoming: Boolean, key: String)

  /** Derived once: deriving a product encoder reflects over the case
    * class on the driver, which showed in every b-deck tick. */
  private lazy val rowEncoder = Encoders.product[StormRow]

  private val columns = Schemas.storms.fieldNames.toSeq.filterNot(_ == "last_update")

  private def tagged(df: DataFrame, incoming: Boolean): DataFrame =
    df.select(columns.map(c => col(c).cast(Schemas.storms(c).dataType)) ++
      Seq(lit(incoming).as("incoming"), upper(col("region")).as("key")): _*)

  /** Resolve a batch of per-file storm summaries against the store.
    *
    * `summaries`: output of AtcfParser.stormSummaries (one row per file).
    * `existing`: current storms table (Schemas.storms shape).
    * Returns the updated storms table without `last_update` (the caller
    * stamps it), `nhc_id` first.
    */
  def resolve(existing: DataFrame, summaries: DataFrame, now: Timestamp,
      runId: String): DataFrame = {
    val age = unix_timestamp(lit(now)) - unix_timestamp(col("end_date"))
    val incoming = summaries
      // stale invests (no obs for 24 h) are ignored (process_storms.py:79-81)
      .filter(col("nhc_number") < 90 || (col("nhc_number") >= 90 && age < 24 * 3600))
      // status stamp: Active if observed within 16 h (process_storms.py:205-208)
      .withColumns(Map(
        "status" -> when(age <= 16 * 3600, "Active").otherwise("Archive"),
        "annual_id" -> lit(null),
        "run_id" -> lit(null)))
    tagged(existing, incoming = false).unionByName(tagged(incoming, incoming = true))
      .as(rowEncoder)
      .groupByKey((r: StormRow) => r.key)(Encoders.STRING)
      .flatMapGroups((_: String, rows: Iterator[StormRow]) =>
        resolveGroup(rows.toVector, runId))(rowEncoder)
      // nhc_id first: the column order callers have always received
      .select(("nhc_id" +: columns.filterNot(_ == "nhc_id")).map(col): _*)
  }

  /** The fold over one `upper(region)` group. */
  private def resolveGroup(rows: Vector[StormRow],
      runId: String): Iterator[StormRow] = {
    rows.foreach { r =>
      if (r.key == null || r.nhc_id == null || !r.nhc_id.startsWith(r.key))
        throw new IllegalStateException(s"storm ${r.nhc_id} (region " +
          s"${r.region}): nhc_id must start with upper(region) to resolve " +
          "within its region group")
    }
    val (incoming, store) = rows.partition(_.incoming)
    // any fixed order will do: ties between rows sharing an nhc_id then
    // resolve the same way on every run
    val (named, invests) = incoming.sortBy(_.toString).partition(_.nhc_number < 90)
    val afterNamed = resolveNamed(store, named, runId)
    assignAnnualIds(resolveInvests(afterNamed, invests, runId)).iterator
  }

  /** Step 1: named storms (process_storms.py:128-168). */
  private def resolveNamed(store: Vector[StormRow], named: Vector[StormRow],
      runId: String): Vector[StormRow] = {
    val byId = store.groupBy(_.nhc_id)
    val (matched, unmatched) = named.partition(i => byId.contains(i.nhc_id))
    val updated = matched.flatMap(i => byId(i.nhc_id).map(update(_, i, runId)))
    // an unmatched named storm claims a prior invest in the same region
    // with the same start_date (:145-164): the invest's row takes the
    // named identity and keeps its annual_id
    val investCands = store.filter(_.nhc_number >= 70)
    val claims = unmatched.groupBy(_.nhc_id).values.toVector.flatMap { probes =>
      closest(for (p <- probes; c <- investCands if sameStart(p, c)) yield (p, c))
        .map { case (p, c) => (p.copy(annual_id = c.annual_id, run_id = runId), c.nhc_id) }
    }
    val claimedIds = claims.map(_._1.nhc_id).toSet
    val fresh = unmatched.filterNot(p => claimedIds(p.nhc_id))
      .map(_.copy(run_id = runId))
    merge(store, updated ++ claims.map(_._1) ++ fresh, claims.map(_._2).toSet)
  }

  /** Step 2: invests (process_storms.py:63-125), against the store after
    * step 1. */
  private def resolveInvests(store: Vector[StormRow], invests: Vector[StormRow],
      runId: String): Vector[StormRow] = {
    // drop invests that already transitioned: a named storm (<= 50) in the
    // same region with the same start_date (:85-97)
    val namedCands = store.filter(_.nhc_number <= 50)
    val live = invests.groupBy(_.nhc_id).values.toVector.filter(probes =>
      closest(for (p <- probes; c <- namedCands if sameStart(p, c)) yield (p, c)).isEmpty)
    // match an existing storm by nhc_id with |Δstart| <= 24 h; the
    // earliest existing row wins (:104-117)
    val byId = store.groupBy(_.nhc_id)
    val incoming = live.flatMap { probes =>
      val pairs = for {
        p <- probes
        e <- byId.getOrElse(p.nhc_id, Vector.empty)
        if p.start_date != null && e.start_date != null &&
          math.abs(seconds(p.start_date) - seconds(e.start_date)) <= 24 * 3600
      } yield (p, e)
      pairs.minByOption(pe => DateTimeUtils.fromJavaTimestamp(pe._2.start_date)) match {
        case Some((p, e)) => Vector(p.copy(annual_id = e.annual_id, run_id = runId))
        case None => probes.map(_.copy(run_id = runId))
      }
    }
    merge(store, incoming, Set.empty)
  }

  /** Replace store rows by natural key (nhc_id); `replaced` are the ids an
    * incoming row took over (the invest→named identity change). */
  private def merge(store: Vector[StormRow], incoming: Vector[StormRow],
      replaced: Set[String]): Vector[StormRow] = {
    val overwritten = incoming.map(_.nhc_id).toSet
    store.filterNot(e => replaced(e.nhc_id) || overwritten(e.nhc_id)) ++ incoming
  }

  /** Max+1 annual-id assignment per (season, region), new storms ordered
    * by nhc_number then nhc_id (process_storms.py:220-235). */
  private def assignAnnualIds(rows: Vector[StormRow]): Vector[StormRow] =
    rows.groupBy(r => (r.season, r.region)).values.toVector.flatMap { part =>
      val base = part.flatMap(r => Option(r.annual_id)).map(_.intValue)
        .maxOption.getOrElse(0)
      val (fresh, kept) = part.partition(_.annual_id == null)
      kept ++ fresh.sortBy(r => (r.nhc_number, r.nhc_id)).zipWithIndex
        .map { case (r, k) => r.copy(annual_id = Int.box(base + k + 1)) }
    }

  /** Field-wise update with change detection (tcdb/models/base.py:50-80):
    * take the incoming values unless the existing end_date is newer (the
    * old-file guard, process_storms.py:136-139); stamp run_id only when
    * something actually changed. */
  private def update(e: StormRow, i: StormRow, runId: String): StormRow =
    if (e.end_date != null && i.end_date != null && e.end_date.after(i.end_date)) e
    else i.copy(annual_id = e.annual_id,
      run_id = if (sameFields(e, i)) e.run_id else runId)

  private def sameFields(a: StormRow, b: StormRow): Boolean =
    a.region == b.region && a.nhc_number == b.nhc_number &&
      a.nhc_id == b.nhc_id && a.season == b.season &&
      a.start_date == b.start_date && a.end_date == b.end_date &&
      a.status == b.status && a.name == b.name &&
      sameDouble(a.start_lat, b.start_lat) && sameDouble(a.start_lon, b.start_lon)

  /** Spark's null-safe double equality: NaN equals NaN, -0.0 equals 0.0. */
  private def sameDouble(a: java.lang.Double, b: java.lang.Double): Boolean =
    if (a == null || b == null) a == null && b == null
    else a.doubleValue == b.doubleValue || (a.isNaN && b.isNaN)

  private def sameStart(p: StormRow, c: StormRow): Boolean =
    p.region == c.region && p.start_date != null && p.start_date == c.start_date

  /** `unix_timestamp` of a timestamp: whole seconds since the epoch. */
  private def seconds(t: Timestamp): Long =
    DateTimeUtils.fromJavaTimestamp(t) / 1000000L

  /** getClosestStorm (process_storms.py:24-60) over the (probe, candidate)
    * pairs of one incoming nhc_id: one pair matches unconditionally; of
    * several, the nearest (null distances first, then candidate nhc_id)
    * wins only within 100 nm. */
  private def closest(pairs: Vector[(StormRow, StormRow)]): Option[(StormRow, StormRow)] = {
    import scala.math.Ordering.Double.TotalOrdering
    pairs.map { case (p, c) => (p, c, distance(p, c)) }
      .minByOption { case (_, c, d) => (d.getOrElse(Double.NegativeInfinity), c.nhc_id) }
      .collect { case (p, c, d) if pairs.size == 1 || d.exists(_ <= 100.0) => (p, c) }
  }

  private def distance(p: StormRow, c: StormRow): Option[Double] =
    for (plat <- Option(p.start_lat); plon <- Option(p.start_lon);
         clat <- Option(c.start_lat); clon <- Option(c.start_lon))
    yield GreatCircleDistance.distance(plat, plon, clat, clon)
}
