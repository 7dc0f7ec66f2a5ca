package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole forked test JVM. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = Session.configure(
      SparkSession.builder().master("local[4]").appName("graft-test"), "4")
      .getOrCreate()
    graft.plans.TopK.ensureRegistered(s) // end-of-optimization cleanup batch
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The two expression-evaluation paths a native kernel must agree on
    * with its reference form: interpreted (no whole-stage codegen,
    * interpreted projections) and compiled (generated code only, so a
    * kernel whose code fails to compile throws instead of falling back
    * to `eval`). */
  val evaluationPaths: Seq[(String, Map[String, String])] = Seq(
    "interpreted" -> Map("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"),
    "compiled" -> Map("spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY"))

  /** Runs `body` once per evaluation path, passing the path's name, and
    * restores the shared session's conf after each run. */
  def onEachEvaluationPath(body: String => Unit): Unit =
    evaluationPaths.foreach { case (path, conf) =>
      val saved = conf.keys.map(k => k -> spark.conf.getOption(k))
      conf.foreach { case (k, v) => spark.conf.set(k, v) }
      try body(path)
      finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
}
