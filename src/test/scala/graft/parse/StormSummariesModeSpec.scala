package graft.parse

import java.time.LocalDateTime

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Properties, Test}

import graft.TestSpark

/** Differential spec: [[AtcfParser.stormSummaries]], which takes the
  * name mode inside its one per-file aggregate, against the
  * count-then-join form ([[JoinModeSummaries]]), on both expression-
  * evaluation paths.
  *
  * Each generated case is a handful of b-deck files whose names come
  * from a small pool of case-only variants (`ALPHA`/`Alpha`/`alpha`,
  * ...), so count ties between distinct raw names, ties decided by
  * binary order (`BETA` < `alpha`), null names, all-null files and
  * single-row files come up in every case. Most files end on a row with
  * no name, so the summary's name falls back to the mode.
  */
object StormSummariesModeProps extends Properties("storm summaries name mode") {
  lazy val spark = TestSpark.spark

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(10)

  private val schema = StructType(Seq(
    StructField("file", StringType), StructField("basin", StringType),
    StructField("snum", IntegerType), StructField("datetime", TimestampNTZType),
    StructField("rad", DoubleType), StructField("vmax", DoubleType),
    StructField("subregion", StringType), StructField("stormname", StringType),
    StructField("lat", DoubleType), StructField("lon", DoubleType)))

  private val names = Seq("ALPHA", "Alpha", "alpha", "BETA", "Beta", "ONE-E", "One-E")
  private val basins = Seq("AL", "EP", "WP", "SH", "IO")
  private val start = LocalDateTime.of(2022, 9, 20, 0, 0)

  private def file(rnd: Random, k: Int): Seq[Row] = {
    val basin = basins(rnd.nextInt(basins.size))
    val num = if (rnd.nextInt(6) == 0) 90 + k else k + 1
    val f = f"b${basin.toLowerCase}$num%02d2022.dat"
    val pool = names.take(2 + rnd.nextInt(names.size - 1))
    val (n, nameOf) = rnd.nextInt(5) match {
      case 0 => (1, () => if (rnd.nextBoolean()) null else pool(rnd.nextInt(pool.size)))
      case 1 => (1 + rnd.nextInt(6), () => null: String)
      case _ => (2 + rnd.nextInt(8),
        () => if (rnd.nextInt(4) == 0) null else pool(rnd.nextInt(pool.size)))
    }
    val rows = (0 until n).map { i =>
      // a repeated step gives (datetime, rad) key ties
      val step = if (i > 0 && rnd.nextInt(5) == 0) i - 1 else i
      val rad = Seq[java.lang.Double](34.0, 50.0, 64.0, null)(rnd.nextInt(4))
      Row(f, basin, num, start.plusHours(6L * step), rad,
        Double.box(20.0 + rnd.nextInt(140)), "L", nameOf(),
        Double.box(10.0 + i), Double.box(-60.0 - i))
    }
    // the last row usually carries no name, so the mode decides
    if (n > 1 && rnd.nextInt(4) != 0)
      rows.init :+ Row.fromSeq(rows.last.toSeq.updated(7, null))
    else rows
  }

  private def bdeck(seed: Long): DataFrame = {
    val rnd = new Random(seed)
    val rows = (0 until 2 + rnd.nextInt(9)).flatMap(k => file(rnd, k))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  /** `got` and `want` agree on both evaluation paths. */
  private def agreeOnEachPath(seed: Long)(got: => DataFrame, want: => DataFrame): Prop = {
    val diffs = Seq.newBuilder[String]
    TestSpark.onEachEvaluationPath { path =>
      val (g, w) = (rows(got), rows(want))
      if (g != w) diffs += s"$path:\ngot:\n${g.mkString("\n")}\nwant:\n${w.mkString("\n")}"
    }
    val d = diffs.result()
    Prop(d.isEmpty) :| s"seed $seed\n${d.mkString("\n")}"
  }

  property("per-file name mode equals the count-then-join form") =
    Prop.forAll(Gen.choose(0L, Long.MaxValue)) { seed =>
      val b = bdeck(seed)
      agreeOnEachPath(seed)(
        b.groupBy("file").agg(AtcfParser.nameMode.as("name_mode")),
        b.select("file").distinct()
          .join(JoinModeSummaries.nameMode(b), Seq("file"), "left_outer"))
    }

  property("storm summaries equal the count-then-join form on every column") =
    Prop.forAll(Gen.choose(0L, Long.MaxValue)) { seed =>
      val b = bdeck(seed)
      val got = AtcfParser.stormSummaries(b)
      val want = JoinModeSummaries.stormSummaries(b)
      Prop(got.schema == want.schema) :| s"${got.schema} vs ${want.schema}" &&
        agreeOnEachPath(seed)(got, want)
    }
}
