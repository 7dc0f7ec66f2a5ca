package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import perfbench.live.{LiveSeason, Season}

/** Benchmark entry point.
  *
  * {{{
  * Main --workload <live_season|gate_suites> --seed <n>
  *      --seconds <s> --trace <0|1> [--data <sf dir>] [--work <dir>]
  * Main --record-digests <verify output dir> <digest file>
  * Main --class-archive-run [--data <sf dir>] [--work <dir>]
  * }}}
  *
  * Runs one workload in this JVM on `graft.Session.local` with one core per
  * available processor and one driver thread issuing operations in a closed
  * loop. `--trace 0` prints the end-to-end metrics; `--trace 1` first repeats
  * the untraced run, then runs the same seed again with the benchmark's
  * listeners attached and prints the per-layer metrics, including the
  * traced/untraced pass-time ratio. The last stdout line is one JSON object
  * `{"correct", "attempted", "failed", "metrics"}`; the exit code is 1 when
  * any output check failed. */
object Main {
  val Workloads = Seq("live_season", "gate_suites")

  /** (name, unit) of every end-to-end metric, reported by every workload. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "pass_s" -> "s", "op_p50_s" -> "s", "retained_heap_mb" -> "MB")

  val Modules = Seq("resolve", "pipeline.store", "pipeline.maintenance",
    "analytics", "dedup", "graph", "similarity", "ops")

  /** (name, unit) of every per-layer metric, reported by every workload
    * (0 where the workload does not exercise the layer). */
  val PerLayer: Seq[(String, String)] =
    Seq("driver.build_s" -> "s", "driver.analysis_ms" -> "ms",
      "driver.optimization_ms" -> "ms", "driver.planning_ms" -> "ms",
      "scheduler.jobs" -> "count", "scheduler.stages" -> "count",
      "scheduler.tasks" -> "count", "scheduler.job_wall_s" -> "s",
      "scheduler.gap_s" -> "s",
      "executor.cpu_s" -> "s", "executor.gc_s" -> "s",
      "executor.shuffle_write_mb" -> "MB", "executor.shuffle_read_mb" -> "MB",
      "executor.spill_mb" -> "MB", "executor.records_read" -> "count",
      "executor.task_skew" -> "ratio") ++
    Modules.flatMap(m => Seq(s"$m.jobs" -> "count", s"$m.job_wall_s" -> "s", s"$m.cpu_s" -> "s")) ++
    Seq("pipeline.reland_tick_p50_s" -> "s", "pipeline.fix_tick_p50_s" -> "s",
      "pipeline.adeck_tick_p50_s" -> "s", "pipeline.compact_s" -> "s",
      "pipeline.maintenance_s" -> "s", "pipeline.store_files" -> "count",
      "pipeline.write_amp" -> "ratio", "pipeline.store_bytes_per_input_byte" -> "ratio",
      "parse.lines_landed" -> "count", "parse.reject_ratio" -> "ratio",
      "parse.ingest_lines_per_s" -> "1/s",
      "analytics.records_read_per_row" -> "ratio",
      "analytics.ref_query_p50_s" -> "s", "analytics.ref_query_tail_s" -> "s") ++
    Seq("ops.closure_pass_s" -> "s", "ops.scan_pass_s" -> "s") ++
    GateSuite.All.flatMap(g => Seq(s"ops.${g}_s" -> "s", s"ops.${g}_jobs" -> "count")) ++
    Seq("plans.optimization_ms" -> "ms", "trace.overhead_ratio" -> "ratio")

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      data: String, work: Path)

  def parse(args: Array[String]): Args = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(Workloads.contains(w), s"unknown workload '$w' (want ${Workloads.mkString("|")})")
    val t = need("trace")
    require(t == "0" || t == "1", s"--trace must be 0 or 1, not '$t'")
    Args(w, need("seed").toLong, need("seconds").toInt, t == "1",
      kv.getOrElse("data", "perfbench/data/sf0.01"),
      Paths.get(kv.getOrElse("work", "perfbench/out")).toAbsolutePath)
  }

  /** PIDs of java processes outside this process's own ancestry (the guard
    * `graft.Bench` applies): another JVM competes for the same cores. */
  def foreignJvms(): Seq[Long] = {
    import scala.jdk.CollectionConverters._
    val ancestry = Iterator.iterate(Option(ProcessHandle.current()))(_.flatMap(h =>
      Option(h.parent().orElse(null)))).takeWhile(_.isDefined).flatten.map(_.pid()).toSet
    ProcessHandle.allProcesses().iterator().asScala
      .filter(h => h.info().command().map[Boolean](_.contains("java")).orElse(false))
      .map(_.pid()).filterNot(ancestry).toSeq.sorted
  }

  def main(argv: Array[String]): Unit = {
    if (argv.headOption.contains("--record-digests")) return recordDigests(argv)
    if (argv.headOption.contains("--class-archive-run")) return classArchiveRun(argv.drop(1))
    val a = parse(argv)
    val foreign = foreignJvms()
    if (foreign.nonEmpty) {
      System.err.println(s"perfbench: ${foreign.size} foreign JVM(s) running " +
        s"(pids ${foreign.mkString(", ")}); refusing to time a contended run")
      sys.exit(3)
    }
    val cpus = Runtime.getRuntime.availableProcessors().toString
    val spark = graft.Session.local(cpus)
    val result = try runWorkload(spark, a) finally spark.stop()
    val (correct, attempted, failed, metrics, info, failures) = result
    failures.foreach(f => println(s"FAILED $f"))
    info.foreach { case (n, v, u) => println(f"$n%-32s $v%14.6f $u") }
    val json = metrics.map { case (n, v, u) => s""""$n":{"value":${num(v)},"unit":"$u"}""" }
      .mkString("{", ",", "}")
    println(s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":$json}""")
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else BigDecimal(v).bigDecimal.toPlainString

  type Fig = (String, Double, String)

  /** Runs the workload; returns (correct, attempted, failed, reported
    * metrics, printed figures, failure messages). */
  def runWorkload(spark: SparkSession, a: Args)
      : (Boolean, Int, Int, Seq[Fig], Seq[Fig], Seq[String]) = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val warm = new Ledger
    val untraced = new Ledger
    var firstTimedMs = 0L
    val onTimed = () => { firstTimedMs = System.currentTimeMillis() }
    val root = a.work.resolve(s"${a.workload}-${a.seed}")
    val info = mutable.ArrayBuffer[Fig]()

    // untraced phase: the end-to-end numbers
    val (pass, ops, _) = phase(spark, a, root.resolve("untraced"), new Run(warm, None),
      new Run(untraced, None), onTimed, info)
    val heapMb = retainedHeapMb()
    val setup = (firstTimedMs - jvmStart) / 1e3
    val e2e = Seq[Fig](("setup_s", setup, "s"), ("pass_s", pass, "s"),
      ("op_p50_s", Stats.median(ops), "s"), ("retained_heap_mb", heapMb, "MB"))
    info ++= e2e
    info += (("op_tail_s", Stats.tail(ops)._1, "s"))
    for ((kind, xs) <- warm.samples) info += ((s"setup.$kind", xs.sum, "s"))
    info += (("op_tail_pct", Stats.tail(ops)._2, "%"))
    info += (("op_samples", ops.size.toDouble, "count"))

    val ledgers = mutable.ArrayBuffer(warm, untraced)
    val reported: Seq[Fig] =
      if (!a.trace) e2e
      else {
        val traced = new Ledger
        val tracer = new Tracer(spark)
        val (tPass, _, tExtra) = try phase(spark, a, root.resolve("traced"),
          new Run(new Ledger, None), new Run(traced, Some(tracer)), () => (),
          mutable.ArrayBuffer(), warmedUp = true)
        finally tracer.close()
        ledgers += traced
        tracer.write(root.resolve("trace.jsonl"))
        val layers = Layers.compute(tracer, traced, tExtra) +
          ("trace.overhead_ratio" -> tPass / pass)
        PerLayer.map { case (n, u) => (n, layers.getOrElse(n, 0.0), u) }
      }
    // stores and landing dirs go; the trace spans stay
    Seq("untraced", "traced").foreach(d => Files.deleteTree(root.resolve(d)))
    val attempted = ledgers.map(_.attempted).sum
    val failed = ledgers.map(_.failed).sum
    info += (("failed_op_ratio", failed.toDouble / math.max(1, attempted), "ratio"))
    (failed == 0, attempted, failed, reported, info.toSeq, ledgers.flatMap(_.failures).toSeq)
  }

  /** Runs set-up and the timed phase once; returns (pass seconds, per-op
    * samples, workload facts for the layer metrics). `warmedUp` skips the
    * gates' warm pass (live_season always needs its backfill). */
  private def phase(spark: SparkSession, a: Args, root: Path, warm: Run, timed: Run,
      onTimed: () => Unit, info: mutable.ArrayBuffer[Fig], warmedUp: Boolean = false)
      : (Double, Seq[Double], Layers.Facts) = a.workload match {
    case "live_season" =>
      val season = Season.generate(a.seed, LiveSeason.replayHours(a.seconds))
      val r = LiveSeason.replay(spark, season, root, warm, timed, onTimed)
      info ++= LiveSeason.figures(timed, r)
      val l = timed.ledger
      (l.samples.values.flatten.sum, LiveSeason.bdeckTicks(timed.ledger), Layers.Facts(Some(r), 1))
    case _ =>
      val expected = GateSuite.loadExpected(Paths.get("perfbench/expected/gate_digests.tsv"))
      if (!warmedUp)
        GateSuite.pass(spark, warm, "warm", GateSuite.order(GateSuite.All, a.seed, 0), a.data, expected)
      onTimed()
      // a traced run times one pass in each phase: its untraced phase only
      // anchors the overhead ratio
      val n = if (a.trace) 1 else GateSuite.passes(a.seconds)
      for (p <- 1 to n)
        GateSuite.pass(spark, timed, "gate", GateSuite.order(GateSuite.All, a.seed, p), a.data, expected)
      val l = timed.ledger
      info += (("curate_pass_s", Stats.median(GateSuite.suiteSeconds(l, GateSuite.Closure, n)), "s"))
      info += (("scan_pass_s", Stats.median(GateSuite.suiteSeconds(l, GateSuite.Scan, n)), "s"))
      (Stats.median(GateSuite.suiteSeconds(l, GateSuite.All, n)), GateSuite.gateSamples(l),
        Layers.Facts(None, n))
  }

  /** Heap still live after forced collections. Spark's ContextCleaner drops
    * shuffle, broadcast and checkpoint blocks only after a collection has
    * enqueued their owners, so this collects, waits for the cleaner, and
    * repeats, keeping the smallest reading. */
  def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 4).map { _ =>
      System.gc(); Thread.sleep(250)
      mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }.min
  }

  /** The live_season set-up and two gates, untimed, for a JVM that writes
    * a class data sharing archive at exit (see run.py): later runs map the
    * classes this loads (Spark, Catalyst, Parquet, the engine) instead of
    * loading them again. */
  private def classArchiveRun(argv: Array[String]): Unit = {
    val a = parse(Array("--workload", "gate_suites", "--seed", "0", "--seconds", "1",
      "--trace", "0") ++ argv)
    val spark = graft.Session.local(Runtime.getRuntime.availableProcessors().toString)
    val run = new Run(new Ledger, None)
    LiveSeason.replay(spark, Season.generate(0, LiveSeason.replayHours(1)),
      a.work.resolve("class-archive"), run, run, () => (), setupOnly = true)
    GateSuite.pass(spark, run, "warm", Seq("q_dedup_minhash_lsh", "q_join_jw"), a.data,
      GateSuite.loadExpected(Paths.get("perfbench/expected/gate_digests.tsv")))
    spark.stop()
    Files.deleteTree(a.work.resolve("class-archive"))
    run.ledger.failures.foreach(f => System.err.println(s"class archive run: $f"))
  }

  /** Records the digest of each gate's `graft.Verify` output (run the
    * oracle check on that output first). */
  private def recordDigests(argv: Array[String]): Unit = {
    val Array(_, verifyDir, out) = argv.take(3)
    val spark = graft.Session.local(Runtime.getRuntime.availableProcessors().toString)
    val lines = GateSuite.All.sorted.map { g =>
      s"$g\t${GateSuite.digest(spark.read.parquet(s"$verifyDir/$g")).render}"
    }
    java.nio.file.Files.write(Paths.get(out),
      ("# gate\trows\tsum(xxhash64(row))\n" + lines.mkString("", "\n", "\n")).getBytes("UTF-8"))
    spark.stop()
  }
}
