package graft.pipeline

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class StoreCompactSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val dataSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("v", DoubleType)))

  private def freshStore(name: String): Store =
    new Store(spark,
      s"/tmp/graft_test/compact_${name}_${System.nanoTime()}")

  test("compact collapses a fragmented partitioned table to one file per dir") {
    val store = freshStore("part")
    // 2 regions x 2 seasons, forced through many shuffle tasks so each
    // directory collects multiple files
    val df = (1L to 4000L).toDF("id")
      .repartition(16)
      .select(col("id"), (col("id") * 0.5).as("v"),
        when(col("id") % 2 === 0, "al").otherwise("ep").as("region"),
        (lit(2020) + (col("id") / 2).cast("long") % 2).cast("int")
          .as("season"))
    store.write("t", df)
    val before = store.dataFileCount("t")
    assert(before > 4, s"fixture not fragmented: $before files")

    store.compact("t", dataSchema)
    assert(store.dataFileCount("t") == 4) // one per populated (region, season)

    val back = store.read("t", dataSchema)
    assert(back.count() == 4000)
    assert(back.agg(sum("id")).as[Long].head() == 4000L * 4001 / 2)
    assert(back.select("region", "season").distinct().count() == 4)
  }

  test("write fails loudly when the staged table cannot be swapped in") {
    val store = freshStore("swap")
    // the staging write creates its parent dirs; the swap target's parent
    // ("nested") does not exist, so the move into place must throw
    val err = intercept[java.nio.file.NoSuchFileException] {
      store.write("nested/t", (1L to 10L).toDF("id"))
    }
    assert(err.getMessage.contains("staging_nested"))
  }

  test("compact splits an oversized partition at maxRecordsPerFile") {
    val store = freshStore("split")
    store.write("t", (1L to 1000L).toDF("id")
      .select(col("id"), lit(1.0).as("v"), lit("al").as("region"),
        lit(2020).as("season")))
    store.compact("t", dataSchema, maxRecordsPerFile = 300)
    assert(store.dataFileCount("t") == 4) // ceil(1000/300)
    assert(store.read("t", dataSchema).count() == 1000)
  }

  test("readAsOf orders tags numerically and fails loudly past the " +
      "compaction horizon") {
    val store = freshStore("asof")
    def batch(lo: Long, hi: Long) =
      (lo to hi).toDF("id").select(col("id"), lit(0.0).as("v"))
    FsUtils.publishBatch(batch(1, 10), store.path("t"), "1")
    FsUtils.publishBatch(batch(11, 20), store.path("t"), "2")
    FsUtils.publishBatch(batch(21, 30), store.path("t"), "10")
    // numeric: as of "2" excludes batch "10" (a string compare would
    // include it: "10" < "2" lexicographically)
    assert(store.readAsOf("t", dataSchema, "2").count() == 20)
    assert(store.readAsOf("t", dataSchema, "10").count() == 30)
    assert(store.readAsOf("t", dataSchema, "1").count() == 10)
    // mixed tag schemes are not totally orderable — fail, don't guess
    FsUtils.publishBatch(batch(31, 40), store.path("t"), "2024-01-01")
    intercept[IllegalArgumentException] {
      store.readAsOf("t", dataSchema, "2")
    }
    FsUtils.clearBatch(store.path("t"), "2024-01-01")
    // compaction retires the horizon: as-of must fail, not silently
    // return a partial frame
    store.compactBatched("t", dataSchema, excludeTags = Set.empty)
    intercept[IllegalArgumentException] {
      store.readAsOf("t", dataSchema, "2")
    }
  }

  test("readSince returns exactly the tag-range delta (as-of algebra)") {
    val store = freshStore("cdc")
    def batch(lo: Long, hi: Long) =
      (lo to hi).toDF("id").select(col("id"), lit(0.0).as("v"))
    FsUtils.publishBatch(batch(1, 10), store.path("t"), "1")
    FsUtils.publishBatch(batch(11, 20), store.path("t"), "2")
    FsUtils.publishBatch(batch(21, 30), store.path("t"), "10")
    // readSince(a, b) == readAsOf(b) \ readAsOf(a): the delta a consumer
    // checkpointed at "1" needs — batch "2" only, NOT "10" (numeric order)
    val delta = store.readSince("t", dataSchema, "1", "2")
    assert(delta.count() == 10)
    val diff = store.readAsOf("t", dataSchema, "2")
      .exceptAll(store.readAsOf("t", dataSchema, "1"))
    assert(delta.exceptAll(diff).isEmpty && diff.exceptAll(delta).isEmpty)
    // full catch-up from "2" picks up batch "10" alone
    assert(store.readSince("t", dataSchema, "2", "10").count() == 10)
    // inverted range: fail, don't return empty
    intercept[IllegalArgumentException] {
      store.readSince("t", dataSchema, "10", "2")
    }
  }

  test("tag-ranged reads reject tables with untagged parquet files") {
    val store = freshStore("untag")
    def batch(lo: Long, hi: Long) =
      (lo to hi).toDF("id").select(col("id"), lit(0.0).as("v"))
    FsUtils.publishBatch(batch(1, 10), store.path("t"), "1")
    // a write()-published table drops part-*.parquet — its publish point
    // is unknowable, so as-of/since must fail instead of silently
    // dropping those files from the read
    batch(11, 20).write.mode("append").parquet(store.path("t"))
    intercept[IllegalArgumentException] {
      store.readAsOf("t", dataSchema, "1")
    }
    intercept[IllegalArgumentException] {
      store.readSince("t", dataSchema, "1", "1")
    }
  }

  test("compact plans unpartitioned tables by row count") {
    val store = freshStore("flat")
    store.write("t", (1L to 900L).toDF("id")
      .repartition(12).select(col("id"), lit(0.0).as("v")))
    assert(store.dataFileCount("t") > 1)
    store.compact("t", dataSchema, maxRecordsPerFile = 1000)
    assert(store.dataFileCount("t") == 1)
    assert(store.read("t", dataSchema).agg(sum("id")).as[Long].head()
      == 900L * 901 / 2)
  }
}
