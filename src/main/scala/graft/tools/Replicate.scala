package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.{Session, Tables}

/** Deterministic scale-replica builder: copy a testdata directory
  * `factor`× with re-keyed unique ids, preserving every foreign-key
  * relationship (referrer and referent shift by the same per-copy
  * offset, so copy i joins copy i and never another).
  *
  * This is how the next-decade differential sweep gets its data: the
  * driver ships sf0.001/0.01/0.1 only, and a 10× replica of sf0.1
  * (~6M lineitem rows — "sf1") is a sound differential input because
  * BOTH engines read the same parquet. Replication is deliberately
  * chosen over fresh synthesis for the fuzzy-join surface: the
  * DISTINCT string sets are unchanged, so the intentionally-quadratic
  * verify stages scale by group multiplicity only, while volume-driven
  * paths (AQE, shuffle sizing, tie/boundary density) see the full 10×.
  *
  * Key ranges at sf0.1 top out at ~150k, far below the 1e7 per-copy
  * shift — collisions are impossible up to factor ~900.
  */
object Replicate {

  val Shift = 10000000L

  /** Per-table unique/foreign key columns to re-key; tables absent here
    * (tiny dims: region, nation) replicate by reference (unchanged). */
  val keyCols: Map[String, Seq[String]] = Map(
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  /** Build `dst` as a `factor`× replica of `src`. A completed build
    * writes a `_SUCCESS` marker recording (src, factor) as its LAST
    * step; the no-op check keys on that marker, not bare directory
    * existence, so a build that crashed mid-table is rebuilt instead of
    * a partial replica silently feeding the differential sweep — and a
    * marker from a DIFFERENT (src, factor) fails loudly rather than
    * serving the wrong fixture. */
  def build(spark: SparkSession, src: String, dst: String,
      factor: Int): Unit = {
    import java.nio.charset.StandardCharsets.UTF_8
    val marker = new java.io.File(dst, "_SUCCESS")
    val stamp = s"src=$src factor=$factor"
    if (marker.exists()) {
      val prev = new String(
        java.nio.file.Files.readAllBytes(marker.toPath), UTF_8).trim
      require(prev == stamp,
        s"replica at $dst was built as '$prev', requested '$stamp' — " +
          "delete the directory to rebuild")
      return
    }
    new java.io.File(dst).mkdirs()
    Tables.all.foreach { t =>
      val df = Tables.load(spark, src, t)
      val out = keyCols.get(t) match {
        case None => df // tiny dims unchanged
        case Some(keys) =>
          val copies = spark.range(factor).toDF("__i")
          df.crossJoin(copies)
            .withColumns(keys.map(k => k -> (col(k) + col("__i") * Shift)).toMap)
            .drop("__i")
      }
      out.write.mode("overwrite").parquet(s"$dst/$t.parquet")
      ()
    }
    java.nio.file.Files.write(marker.toPath, stamp.getBytes(UTF_8))
    ()
  }

  def main(args: Array[String]): Unit = {
    val factor = args.headOption.map(_.toInt).getOrElse(10)
    val dst = if (args.length > 1) args(1) else s"/tmp/sfx$factor"
    val src = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
    val spark = Session.local()
    build(spark, src, dst, factor)
    println(s"[replicate] $dst = $src x$factor")
    spark.stop()
  }
}
