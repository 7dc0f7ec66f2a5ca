package graft.resolve

import java.sql.Timestamp

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Properties, Test}

import graft.TestSpark
import graft.functions.Geo
import graft.functions.expressions.GreatCircleDistance
import graft.schema.Schemas

/** Differential spec: the keyed fold ([[StormResolver]]) against the
  * set-based reference ([[SetBasedStormResolver]]), row for row on every
  * output column, over generated stores and batches.
  *
  * Each generated case packs 16 independent scenarios into one call,
  * one region code each (resolution never crosses regions), plus
  * lower-case region variants that share a fold group with their
  * upper-case code but not a claim, transition or annual-id sequence.
  * A scenario draws from small pools of start dates and positions, so
  * claims with several candidates inside and outside 100 nm, equal-
  * distance candidate ties, end_date regressions, invest numbers reused
  * more than 24 h apart, same-batch invest→named transitions, stale
  * invests and null end_date/lat/lon all come up in every case.
  *
  * Incoming rows share an nhc_id only in the shapes where the
  * reference's window ranks are deterministic: exact copies, two
  * updates of one existing storm, a stale copy of a live invest, and an
  * invest re-observed twice where only one start lies within 24 h of
  * the stored one. (Two distinct new rows with one nhc_id would take
  * their annual ids in an order the reference leaves to the shuffle.)
  */
object StormResolverFoldProps extends Properties("storm resolver fold") {
  lazy val spark = TestSpark.spark

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8)

  private val now = Timestamp.valueOf("2022-09-28 18:00:00")
  private def hoursBefore(h: Int) = new Timestamp(now.getTime - h * 3600000L)
  private def plusHours(t: Timestamp, h: Int) =
    new Timestamp(t.getTime + h * 3600000L)

  private val summarySchema = StructType(Seq(
    StructField("file", StringType), StructField("region", StringType),
    StructField("nhc_number", IntegerType), StructField("nhc_id", StringType),
    StructField("season", IntegerType), StructField("start_date", TimestampType),
    StructField("end_date", TimestampType), StructField("name", StringType),
    StructField("start_lat", DoubleType), StructField("start_lon", DoubleType)))

  /** One storm, in either table's shape. */
  private case class S(region: String, num: Int, season: Int, start: Timestamp,
      end: Timestamp, name: String, lat: java.lang.Double,
      lon: java.lang.Double, annual: java.lang.Integer = null,
      status: String = "Active") {
    def id: String = f"${region.toUpperCase}$num%02d$season"
    def storeRow: Row = Row(annual, region, num, id, season, start, end,
      status, name, lat, lon, "old", null)
    def summaryRow(file: String): Row = Row(file, region, num, id, season,
      start, end, name, lat, lon)
  }

  private final class Scenario(rnd: Random, code: String) {
    private def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.size))
    private def chance(p: Double) = rnd.nextDouble() < p

    private val starts = Seq(6, 12, 18, 30, 48, 120).map(hoursBefore)
    // a repeated spot gives equal-distance candidates; 100 nm is ~1.7 deg
    private val spots = Seq((20.0, -60.0), (20.0, -60.0), (20.5, -60.5),
      (21.0, -61.5), (22.5, -60.0), (30.0, -50.0))
    private def spot(): (java.lang.Double, java.lang.Double) =
      rnd.nextInt(12) match {
        case 0 => (null, null)
        case 1 => (null, Double.box(pick(spots)._2))
        case _ => val s = pick(spots); (Double.box(s._1), Double.box(s._2))
      }
    /** The status the resolver stamps on an incoming row. */
    private def stamp(end: Timestamp): String =
      if (end != null && now.getTime - end.getTime <= 16 * 3600000L) "Active"
      else "Archive"
    private def end(start: Timestamp): Timestamp =
      if (chance(0.1)) null else plusHours(start, 6 * rnd.nextInt(7))

    private val named = rnd.shuffle((1 to 12).toList)
    private val invests = rnd.shuffle((90 to 99).toList ++ Seq(72, 85))
    private val annuals = rnd.shuffle((1 to 12).toList)
    private var nNamed, nInvest, nAnnual = 0
    private def nextNamed() = { nNamed += 1; named(nNamed - 1) }
    private def nextInvest() = { nInvest += 1; invests(nInvest - 1) }

    private def fresh(num: Int, region: String = code): S = {
      val start = pick(starts); val (lat, lon) = spot()
      S(region, num, if (chance(0.1)) 2021 else 2022, start, end(start),
        s"N$num-${rnd.nextInt(3)}", lat, lon)
    }

    val existing: Seq[S] = {
      val rows = Seq.fill(rnd.nextInt(3))(fresh(nextNamed())) ++
        Seq.fill(rnd.nextInt(4))(fresh(nextInvest())) ++
        (if (chance(0.2)) Seq(fresh(nextNamed(), code.toLowerCase)) else Nil)
      rows.map { s =>
        nAnnual += 1
        s.copy(annual = if (chance(0.05)) null else Int.box(annuals(nAnnual - 1)),
          status = if (chance(0.8)) stamp(s.end) else pick(Seq("Active", "Archive")))
      }
    }

    val incoming: Seq[S] = {
      // re-observations of stored storms: named ones update by id (end
      // dates move both ways, or one field at a time, or nothing changes),
      // invests drift 0-72 h in start
      val reobserved = existing.filter(_ => chance(0.6)).map { e =>
        val (lat, lon) = if (chance(0.5)) (e.lat, e.lon) else spot()
        if (e.num < 90) rnd.nextInt(6) match {
          case 0 => e
          case 1 => e.copy(lat = lat)
          case 2 => e.copy(lon = lon)
          case 3 => e.copy(name = s"${e.name}-u")
          case _ => e.copy(end = end(e.start),
            name = if (chance(0.5)) e.name else s"${e.name}-u", lat = lat, lon = lon)
        } else {
          val start = plusHours(e.start, pick(Seq(0, 6, -6, 30, 72)))
          e.copy(start = start, end = end(start), lat = lat, lon = lon)
        }
      }
      // new named storms, half of them on a stored invest's start
      val investStarts = existing.filter(_.num >= 70).map(_.start)
      val newNamed = Seq.fill(rnd.nextInt(3))(fresh(nextNamed())).map(s =>
        if (investStarts.nonEmpty && chance(0.5)) s.copy(start = pick(investStarts))
        else s)
      // new invests, half of them on a named storm's start (transitions,
      // including invest→named within this batch)
      val namedStarts = (existing ++ newNamed).filter(_.num <= 50).map(_.start)
      val newInvests = Seq.fill(rnd.nextInt(3))(fresh(nextInvest())).map { s =>
        val start = if (namedStarts.nonEmpty && chance(0.5)) pick(namedStarts) else s.start
        s.copy(start = start, end = end(start))
      }
      val lower = if (chance(0.2)) Seq(fresh(nextNamed(), code.toLowerCase)) else Nil
      val rows = reobserved ++ newNamed ++ newInvests ++ lower

      // shared incoming nhc_ids, in the deterministic shapes only
      val copies = rows.filter(_ => chance(0.15))
      val secondUpdates = reobserved
        .filter(r => r.num < 90 && r.annual != null && chance(0.3))
        .map(r => r.copy(end = end(r.start), name = s"${r.name}-v"))
      val staleCopies = rows.filter(r => r.num >= 90 && chance(0.3))
        .map(_.copy(end = if (chance(0.5)) null else hoursBefore(30)))
      val farCopies = existing.filter(e => e.num >= 90 && chance(0.3)).flatMap { e =>
        val near = plusHours(e.start, pick(Seq(0, 6)))
        val far = plusHours(e.start, 72)
        Seq(e.copy(start = near, end = end(near)), e.copy(start = far, end = end(far)))
      }.filterNot(r => rows.exists(_.id == r.id))
      rows ++ copies ++ secondUpdates ++ staleCopies ++ farCopies
    }
  }

  private def frames(seed: Long): (DataFrame, DataFrame) = {
    val rnd = new Random(seed)
    val scenarios = (0 until 16).map(i =>
      new Scenario(rnd, s"${('A' + i).toChar}${('A' + rnd.nextInt(26)).toChar}"))
    val existing = scenarios.flatMap(_.existing).map(_.storeRow)
    val incoming = scenarios.flatMap(_.incoming).zipWithIndex
      .map { case (s, k) => s.summaryRow(s"file$k.dat") }
    (spark.createDataFrame(spark.sparkContext.parallelize(existing, 2), Schemas.storms),
      spark.createDataFrame(spark.sparkContext.parallelize(incoming, 2), summarySchema))
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  property("fold equals the set-based reference on every column") =
    Prop.forAll(Gen.choose(0L, Long.MaxValue)) { seed =>
      val (existing, summaries) = frames(seed)
      val fold = StormResolver.resolve(existing, summaries, now, "r1")
      val reference = SetBasedStormResolver.resolve(existing, summaries, now, "r1")
      assert(fold.columns.toSeq == reference.columns.toSeq)
      val (got, want) = (rows(fold), rows(reference))
      Prop(got == want) :| s"seed $seed\nfold:\n${got.mkString("\n")}\n" +
        s"reference:\n${want.mkString("\n")}"
    }

  property("a row whose nhc_id does not start with upper(region) is rejected") =
    Prop.secure {
      val broken = S("AL", 9, 2022, hoursBefore(6), hoursBefore(1), "N9", 20.0, -60.0)
      val summaries = spark.createDataFrame(spark.sparkContext.parallelize(
        Seq(Row.fromSeq(broken.summaryRow("f.dat").toSeq.updated(3, "EP092022")))),
        summarySchema)
      val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], Schemas.storms)
      val err = scala.util.Try(
        StormResolver.resolve(empty, summaries, now, "r1").collect()).failed.get
      Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
        .exists(_.getMessage.contains("nhc_id must start with upper(region)"))
    }

  property("scalar haversine is bit-identical to the Column form") = {
    val coord = Gen.oneOf(Gen.choose(-90.0, 90.0),
      Gen.oneOf(0.0, -0.0, 90.0, -90.0, 180.0, -180.0, 1e-12))
    Prop.forAll(Gen.listOfN(200, Gen.listOfN(4, coord))) { pts =>
      import spark.implicits._
      val df = pts.map(p => (p(0), p(1) * 2, p(2), p(3) * 2))
        .toDF("lat1", "lon1", "lat2", "lon2")
      val column = df.select(Geo.greatCircle(col("lat1"), col("lon1"),
        col("lat2"), col("lon2"), "nm")).as[Double].collect().toSeq
      val scalar = pts.map(p =>
        GreatCircleDistance.distance(p(0), p(1) * 2, p(2), p(3) * 2))
      column.map(java.lang.Double.doubleToRawLongBits) ==
        scalar.map(java.lang.Double.doubleToRawLongBits)
    }
  }
}
