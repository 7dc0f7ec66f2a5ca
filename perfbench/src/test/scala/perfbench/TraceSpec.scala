package perfbench

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.Store

class TraceSpec extends AnyFunSuite {
  import Tracer._

  test("self time is span time minus direct child spans") {
    val spans = Seq(Span(0, -1, "op", "ops", 0, 100), Span(1, 0, "build", "ops", 10, 40),
      Span(2, 0, "action", "ops", 45, 95), Span(3, 2, "inner", "ops", 50, 60))
    assert(selfMs(0, spans) == 100 - 30 - 50)
    assert(selfMs(2, spans) == 50 - 10)
    assert(selfMs(3, spans) == 10)
  }

  test("the innermost engine frame outside the shared helpers names the module") {
    val details = Seq(
      "org.apache.spark.sql.Dataset.localCheckpoint(Dataset.scala:1)",
      "graft.pipeline.Checkpoints$.stable(Checkpoints.scala:40)",
      "graft.resolve.StormResolver$.resolve(StormResolver.scala:75)",
      "graft.pipeline.Pipelines$.runBdeck(Pipelines.scala:36)",
      "perfbench.live.LiveSeason$.tick(LiveSeason.scala:130)").mkString("\n")
    assert(engineModule(details).contains("resolve"))
    assert(engineModule("graft.pipeline.Store.writeStaged(Store.scala:131)\n" +
      "graft.pipeline.Maintenance$.archiveStale(Maintenance.scala:29)").contains("pipeline.store"))
    assert(engineModule("graft.pipeline.Maintenance$.$anonfun$expireInvests$1(Maintenance.scala:48)")
      .contains("pipeline.maintenance"))
    assert(engineModule("graft.dedup.Dedup$.propagateMinLabels(Dedup.scala:10)").contains("dedup"))
    assert(engineModule("perfbench.GateSuite$.pass(GateSuite.scala:90)").isEmpty)
  }

  test("a Store.write stage is attributed to pipeline.store") {
    val spark = graft.Session.local("2")
    val dir = Files.createTempDirectory("perfbench-trace")
    val tracer = new Tracer(spark)
    try {
      import spark.implicits._
      val df = Seq(("AL", 2024, 1), ("EP", 2024, 2)).toDF("region", "season", "v")
      tracer.span("write", "harness")(new Store(spark, dir.toString).write("t", df))
    } finally tracer.close()
    val stages = tracer.stages.values.filter(_.group == 0).toSeq
    assert(stages.nonEmpty)
    assert(stages.forall(_.module == "pipeline.store"), stages.map(_.module))
    assert(tracer.jobs.values.filter(_.group == 0).forall(_.module == "pipeline.store"))
    perfbench.Files.deleteTree(dir)
  }
}
