package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Layer tracing from outside the engine: one `SparkListener` and one
  * `QueryExecutionListener`, registered by the benchmark, never by the
  * engine.
  *
  * Every span runs under its own job group, so each job lands on the span
  * that submitted it. Spans nest (an operation, then the gate's build and
  * action inside it); self time is span time minus child spans. Stages are
  * attributed to an engine module by the innermost `graft.*` frame of their
  * call site (skipping the shared `Checkpoints`/`FsUtils` helpers); a stage
  * with no engine frame — the benchmark's own action on a lazily built
  * frame — goes to the module of the span that ran it. Everything is kept
  * in memory and written out at the end. */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  import Tracer._

  val spans = mutable.ArrayBuffer[Span]()
  val jobs = mutable.LinkedHashMap[Int, Job]()
  val stages = mutable.LinkedHashMap[(Int, Int), Stage]()
  val phasesMs = mutable.Map[String, Double]().withDefaultValue(0.0)
  val phasesBySpan = mutable.Map[(Int, String), Double]().withDefaultValue(0.0)
  private val stack = mutable.Stack[Int]()
  @volatile private var current = -1
  private val sc = spark.sparkContext

  sc.addSparkListener(this)
  spark.listenerManager.register(this)

  def close(): Unit = {
    drain()
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  private def drain(): Unit = org.apache.spark.perfbench.Bus.drain(sc)

  def span[T](name: String, module: String)(body: => T): T = {
    val id = spans.size
    val parent = stack.headOption.getOrElse(-1)
    val s = Span(id, parent, name, module, System.currentTimeMillis(), -1L)
    spans += s
    stack.push(id)
    current = id
    sc.setJobGroup(id.toString, name, interruptOnCancel = false)
    try body
    finally {
      s.endMs = System.currentTimeMillis()
      drain()
      stack.pop()
      current = stack.headOption.getOrElse(-1)
      if (current >= 0) sc.setJobGroup(current.toString, spans(current).name, interruptOnCancel = false)
      else sc.clearJobGroup()
    }
  }

  /** Engine module of each SQL execution, from the call site Spark took on
    * the driver thread when the action started. */
  private val execModules = mutable.Map[Long, Option[String]]()

  private def prop(p: java.util.Properties, key: String): Option[String] =
    Option(p).flatMap(x => Option(x.getProperty(key)))

  /** A job or stage's module: its own call site if that holds an engine
    * frame (jobs submitted from the driver thread), else the call site of
    * the SQL execution it belongs to (AQE submits query stages from other
    * threads, whose call sites end in thread-pool frames), else the span's. */
  private def attribute(details: String, props: java.util.Properties): (Int, String) = {
    val group = prop(props, "spark.jobGroup.id").flatMap(_.toIntOption).getOrElse(-1)
    val exec = prop(props, "spark.sql.execution.id").flatMap(_.toLongOption)
      .flatMap(execModules.get).flatten
    (group, engineModule(details).orElse(exec)
      .getOrElse(if (group >= 0) spans(group).module else "harness"))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart => synchronized {
      execModules(s.executionId) = engineModule(s.details)
        .orElse(s.rootExecutionId.flatMap(execModules.get).flatten)
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val (group, module) = attribute(
      e.stageInfos.maxByOption(_.stageId).map(_.details).orNull, e.properties)
    jobs(e.jobId) = Job(e.jobId, group, e.time, -1L, module)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val si = e.stageInfo
    val (group, module) = attribute(si.details, e.properties)
    stages((si.stageId, si.attemptNumber())) = Stage(si.stageId, group, module)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val st = stages.getOrElseUpdate((e.stageId, e.stageAttemptId),
      Stage(e.stageId, -1, "harness"))
    st.tasks += 1
    st.taskDurations += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      st.cpuNs += m.executorCpuTime
      st.gcMs += m.jvmGCTime
      st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      st.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      st.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      st.recordsRead += m.inputMetrics.recordsRead
      st.bytesWritten += m.outputMetrics.bytesWritten
    }
  }

  private def phases(qe: QueryExecution): Unit = {
    val span = current
    synchronized {
      for ((phase, s) <- qe.tracker.phases) {
        phasesMs(phase) += s.durationMs
        phasesBySpan((span, phase)) += s.durationMs
      }
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)

  /** Ids of `root` and every span nested under it. */
  def subtree(root: Int): Set[Int] = {
    val out = mutable.Set(root)
    for (s <- spans if s.parent >= 0 && out(s.parent)) out += s.id // parents precede children
    out.toSet
  }

  /** Span wall time with no job of the span running (driver self time
    * between barriers), in seconds, over the given top-level spans. */
  def gapSeconds(roots: Seq[Int]): Double = roots.map { r =>
    val ids = subtree(r)
    val s = spans(r)
    val busy = Stats.unionLength(jobs.values.filter(j => ids(j.group) && j.endMs >= 0)
      .map(j => (math.max(j.startMs, s.startMs), math.min(j.endMs, s.endMs))).toSeq)
    math.max(0L, s.endMs - s.startMs - busy) / 1e3
  }.sum

  def jobsUnder(root: Int): Seq[Job] = { val ids = subtree(root); jobs.values.filter(j => ids(j.group)).toSeq }

  /** Writes spans, jobs and stages as JSON lines. */
  def write(path: java.nio.file.Path): Unit = {
    val out = mutable.ArrayBuffer[String]()
    spans.foreach(s => out += f"""{"span":${s.id},"parent":${s.parent},"name":"${s.name}","module":"${s.module}","start_ms":${s.startMs},"end_ms":${s.endMs},"self_ms":${selfMs(s.id, spans.toSeq)}}""")
    jobs.values.foreach(j => out += f"""{"job":${j.id},"span":${j.group},"module":"${j.module}","start_ms":${j.startMs},"end_ms":${j.endMs}}""")
    stages.values.foreach(s => out += f"""{"stage":${s.id},"span":${s.group},"module":"${s.module}","tasks":${s.tasks},"cpu_ns":${s.cpuNs},"shuffle_write":${s.shuffleWrite},"shuffle_read":${s.shuffleRead}}""")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, out.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  final case class Span(id: Int, parent: Int, name: String, module: String,
      startMs: Long, var endMs: Long)
  final case class Job(id: Int, group: Int, startMs: Long, var endMs: Long, module: String)
  final case class Stage(id: Int, group: Int, module: String) {
    var tasks = 0; var cpuNs = 0L; var gcMs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
    var recordsRead = 0L; var bytesWritten = 0L
    val taskDurations = mutable.ArrayBuffer[Long]()
  }

  /** Self time of a span: its wall time minus that of its direct children. */
  def selfMs(id: Int, spans: Seq[Span]): Long = {
    val s = spans(id)
    (s.endMs - s.startMs) - spans.filter(_.parent == id).map(c => c.endMs - c.startMs).sum
  }

  /** Helpers whose frames say nothing about which module asked for the job. */
  private val Shared = Set("graft.pipeline.Checkpoints", "graft.pipeline.FsUtils")

  /** Engine module of a call site: the innermost `graft.*` frame outside
    * the shared helpers, named `<package>` below `graft` (`pipeline.store`
    * and `pipeline.maintenance` for those two classes); None when the call
    * site holds no engine frame. */
  def engineModule(details: String): Option[String] =
    Option(details).toSeq.flatMap(_.split("\n")).iterator.map(_.trim)
      .map(_.stripPrefix("at "))
      .filter(_.startsWith("graft."))
      .map { frame =>
        val qualified = frame.takeWhile(_ != '(')
        qualified.substring(0, math.max(0, qualified.lastIndexOf('.'))).takeWhile(_ != '$')
      }
      .find(c => c.nonEmpty && !Shared(c))
      .map {
        case "graft.pipeline.Store" => "pipeline.store"
        case "graft.pipeline.Maintenance" => "pipeline.maintenance"
        case c =>
          val parts = c.split('.')
          if (parts.length > 2) parts(1) else "graft"
      }
}
