package graft

import org.apache.spark.sql.SparkSession

/** Shared session configuration for entry points and tests.
  *
  * Scale posture: AQE on (runtime re-plan, skew-join splitting), shuffle
  * partitions sized to the local core count (the driver harness overrides
  * via SPARK_GRAFT_CPUS; a real cluster would size to executors), UTC
  * session time zone for oracle parity, nanos-parquet read enabled.
  *
  * Streaming state-store seam: `SPARK_GRAFT_STATE_STORE=rocksdb` (or
  * `configure`'s stateStore arg) switches every streaming query from
  * the default in-JVM-heap HDFSBackedStateStoreProvider to Spark's
  * built-in RocksDB provider (+ changelog checkpointing, so per-batch
  * checkpoint cost is the delta, not a full snapshot). The state-growth
  * model (state ≈ rate × (delay + range), README "Streaming
  * state-growth probe") is
  * provider-independent; the provider decides where that state LIVES —
  * on-heap is fine at gate scale, RocksDB keeps executor heaps flat
  * when a 100 TB stream × a 7-day delay puts gigabytes of keyed state
  * on each executor. Probed at 32×: same state-row counts, same
  * results, heap usage moved off-JVM (README "Streaming state growth").
  */
object Session {
  def configure(b: SparkSession.Builder, cpus: String,
      stateStore: String = sys.env.getOrElse("SPARK_GRAFT_STATE_STORE",
        "heap")): SparkSession.Builder = {
    val base = b.withExtensions(graft.plans.TopK.extensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    stateStore match {
      case "rocksdb" => base
        .config("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state." +
            "RocksDBStateStoreProvider")
        .config("spark.sql.streaming.stateStore.rocksdb" +
          ".changelogCheckpointing.enabled", "true")
      case "heap" => base
      case other => throw new IllegalArgumentException(
        s"SPARK_GRAFT_STATE_STORE=$other (want heap|rocksdb)")
    }
  }

  def local(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")): SparkSession = {
    val spark = configure(SparkSession.builder().master(s"local[$cpus]"), cpus)
      .getOrCreate()
    // builder-time injection lands the rewrite in the operator-
    // optimization batch; the runtime registration additionally runs it
    // in the END-of-optimization user batch, where it removes the
    // WindowGroupLimit Spark infers on top of an injected TopKPerGroup
    graft.plans.TopK.ensureRegistered(spark)
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
