package perfbench

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

/** The `gate_suites` workload: two suites of registry gates, interleaved.
  *
  * The closure suite holds gates dominated by eager checkpoint barriers and
  * the closure sweeps; the scan suite holds executor-bound gates with no
  * closure kernel and no store writes — the control. Both run in every pass,
  * in one order the seed permutes per pass, so the control shares the JVM
  * and the host window with the gates it controls for. Each gate runs as
  * `graft.Bench` runs it: the gate function builds the frame, the noop sink
  * materializes every row.
  *
  * Output check: the action also observes an order-insensitive digest of
  * the rows (row count plus the sum of a 64-bit hash of every row, doubles
  * rounded to 9 places), compared after the action with digests taken from
  * oracle-checked `graft.Verify` output. The observation rides on the same
  * noop action, so every warm and timed invocation is checked without an
  * extra pass; its cost (one hash per output row) is inside the timing. */
object GateSuite {
  val Closure: Seq[String] = Seq("q_entity_resolution", "q_curation_pipeline",
    "q_dedup_groups", "q_dedup_minhash_lsh", "q_graph_components")
  /** Gates of the native kernels JaroWinkler, PqEncode, LangIdGuess and
    * ByteEntropy, plus the two gates the engine's plan rules rewrite. */
  val Scan: Seq[String] = Seq("q_join_jw", "q_ann_pq", "q_text_langid",
    "q_text_entropy", "q_window_range_frame_sql", "q_topk_per_group")
  /** Gates whose plans go through the engine's own optimizer rules. */
  val PlanRuleGates: Set[String] = Set("q_window_range_frame_sql", "q_topk_per_group")

  val All: Seq[String] = Closure ++ Scan
  /** Nominal seconds of one timed pass over both suites on a 4-core host;
    * sets how many passes fit in `--seconds`. */
  val PassSeconds = 10.0

  def passes(seconds: Int): Int = math.max(1, (seconds / PassSeconds).round.toInt)

  def order(gates: Seq[String], seed: Long, pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(gates)

  final case class Digest(rows: Long, hash: BigDecimal) {
    def render: String = s"$rows\t$hash"
  }

  private def digestExprs(df: DataFrame): (Column, Column) = {
    val cols = df.schema.fields.toSeq.sortBy(_.name).map { f =>
      f.dataType match {
        case DoubleType | FloatType => round(col(s"`${f.name}`"), 9)
        case _ => col(s"`${f.name}`")
      }
    }
    (count(lit(1)).as("rows"),
      sum(xxhash64(cols: _*).cast("decimal(38,0)")).as("hash"))
  }

  /** Digest of a frame by a plain aggregate (used to record expectations). */
  def digest(df: DataFrame): Digest = {
    val (c, h) = digestExprs(df)
    val r = df.agg(c, h).collect()(0)
    Digest(r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }

  def loadExpected(path: java.nio.file.Path): Map[String, Digest] =
    scala.io.Source.fromFile(path.toFile, "UTF-8").getLines()
      .filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
        val Array(g, rows, hash) = l.split("\t")
        g -> Digest(rows.toLong, BigDecimal(hash))
      }.toMap

  /** Seconds of each timed pass spent in `gates` (samples of kind
    * `gate.<name>`, one per pass). */
  def suiteSeconds(l: Ledger, gates: Seq[String], passes: Int): Seq[Double] =
    (0 until passes).map(p => gates.flatMap(g => l.seconds(s"gate.$g").lift(p)).sum)

  def gateSamples(l: Ledger): Seq[Double] = All.flatMap(g => l.seconds(s"gate.$g"))

  /** One pass over `gates`: each gate is one operation of kind
    * `<kind>.<gate>`. */
  def pass(spark: SparkSession, run: Run, kind: String, gates: Seq[String],
      dataDir: String, expected: Map[String, Digest]): Unit =
    for (g <- gates) {
      val fn = graft.SparkEntry.queries(g)
      run.op[Observation](s"$kind.$g", g, "ops", obs => {
        val m = obs.get
        val got = Digest(m("rows").asInstanceOf[Long],
          Option(m("hash")).map(v => BigDecimal(v.asInstanceOf[java.math.BigDecimal])).getOrElse(BigDecimal(0)))
        expected.get(g) match {
          case None => Some("no recorded digest")
          case Some(want) if want != got => Some(s"digest ${got.render} != recorded ${want.render}")
          case _ => None
        }
      }) {
        val df = run.child("build", "ops")(fn(spark, dataDir))
        val obs = Observation(s"digest_$g")
        val (c, h) = digestExprs(df)
        run.child("action", "ops") {
          df.observe(obs, c, h).write.format("noop").mode("overwrite").save()
        }
        obs
      }
    }
}
