package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.QuerySpec

/** A gate that throws in Verify is a recorded failure: its output dir
  * from an earlier run is deleted, never graded as this run's result. */
class VerifySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val ok = QuerySpec("q_ok", (s, _) => s.range(3).toDF("id"),
    None, "test")
  private val throws = QuerySpec("q_throws",
    (_, _) => throw new IllegalStateException("no such table"), None, "test")

  test("a throwing gate loses its stale output dir and is marked failed " +
      "in _status.json") {
    val out = Files.createTempDirectory("verify_spec").toString
    // a stale result left by an earlier run of the same gate
    spark.range(5).toDF("id").write.parquet(s"$out/q_throws")
    val status = Verify.run(spark, "unused", out,
      Seq(ok, throws).map(q => q.name -> q.fn)).toMap
    assert(status("q_ok") == "ok")
    assert(status("q_throws") ==
      "java.lang.IllegalStateException: no such table")
    assert(!Files.exists(Paths.get(s"$out/q_throws")))
    assert(spark.read.parquet(s"$out/q_ok").count() == 3)
    val json = Files.readString(Paths.get(s"$out/_status.json"))
    assert(json.contains("\"q_ok\": \"ok\""), json)
    assert(json.contains(
      "\"q_throws\": \"java.lang.IllegalStateException: no such table\""), json)
  }
}
