package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json for the DuckDB compare (tools/check_oracle.py)
  * and `_status.json` mapping each gate to "ok" or its error. */
object Verify {
  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("usage: graft.Verify <sfDir> <outDir> [prefix,prefix...]")
      sys.exit(2)
    }
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg (local iteration only): comma-separated name prefixes
    val only: String => Boolean =
      if (args.length > 2) { val ps = args(2).split(',').toSeq
        name => ps.exists(name.startsWith)
      } else _ => true
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Session.configure(
      SparkSession.builder().master(s"local[$cpus]"), cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    run(spark, sfDir, outDir, SparkEntry.queries.toSeq.filter(q => only(q._1)))
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      jsonObject(SparkEntry.oracleSql))
    spark.stop()
  }

  /** Writes each gate's result to `$outDir/<gate>` and returns each
    * gate's status: "ok", or "<ErrorClass>: <message>" for a gate that
    * threw. A failed gate's directory is deleted, so no parquet from an
    * earlier run can be graded as this run's result; the statuses are
    * also written to `$outDir/_status.json`. */
  def run(spark: SparkSession, sfDir: String, outDir: String,
      queries: Seq[(String, Bench.Gate)]): Seq[(String, String)] = {
    new java.io.File(outDir).mkdirs()
    val status = queries.map { case (name, fn) =>
      val dir = s"$outDir/$name"
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(dir)
        name -> "ok"
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        graft.pipeline.FsUtils.deleteRecursively(new java.io.File(dir))
        name -> s"${e.getClass.getName}: ${e.getMessage}"
      }
    }
    Files.writeString(Paths.get(s"$outDir/_status.json"), jsonObject(status))
    status
  }

  private def jsonObject(kvs: Iterable[(String, String)]): String =
    kvs.map { case (k, v) => s"${Bench.jsonString(k)}: ${Bench.jsonString(v)}" }
      .mkString("{", ",", "}")
}
