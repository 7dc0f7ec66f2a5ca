package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.QuerySpec

/** A gate that throws is a failure, never a fast time. */
class BenchSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val ok = QuerySpec("q_ok", (s, _) => s.range(100).toDF("id"),
    None, "test")
  private val throwsOnBuild = QuerySpec("q_throws_on_build",
    (_, _) => throw new IllegalStateException("no such table"), None, "test")
  private val throwsOnAction = QuerySpec("q_throws_on_action",
    (s, _) => s.range(10).toDF("id")
      .select(assert_true(col("id") < 5, lit("id out of range")).as("c")),
    None, "test")

  private lazy val runs = Bench.runSuite(spark, "unused",
    Seq(ok, throwsOnBuild, throwsOnAction).map(q => q.name -> q.fn), repeats = 2)

  test("a throwing gate is recorded as failed with its error, not timed") {
    val byName = runs.map(r => r.name -> r).toMap
    assert(byName("q_ok").ok && byName("q_ok").samples.size == 2)
    assert(byName("q_ok").starts.size == 2)
    val build = byName("q_throws_on_build")
    assert(build.error.exists(_.contains("IllegalStateException: no such table")))
    assert(build.samples.isEmpty)
    val action = byName("q_throws_on_action")
    assert(action.error.exists(_.contains("id out of range")), action.error)
    assert(action.samples.isEmpty)
  }

  test("failed gates stay out of the total and are counted as n_failed") {
    val results = runs.filter(_.ok).map(r => r.name -> r.samples.min)
    val line = Bench.summaryLine(results, runs.count(!_.ok), "4", "sf")
    assert(line.contains("\"n\":1,\"n_failed\":2,"), line)
    assert(line.contains(f"\"value\":${results.head._2}%.3f"), line)
    assert(!line.contains("q_throws"), line)
  }
}
