package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.load
import graft.functions.{PortableMath, Text}

/** The composed-built-ins forms of [[TextOps.textEntropy]] and
  * [[TextOps.textLangid]]: the specification references that
  * TextEntropySpec and TextLangIdSpec compare the native kernels
  * ([[graft.functions.expressions.ByteEntropy]],
  * [[graft.functions.expressions.LangIdGuess]]) to. Same inputs, same
  * output columns and rows; only the plan shape differs. */
object HofTextOps {

  /** Per-byte explode + histogram aggregate + DISTINCT-pair broadcast
    * log join + per-doc fold. The bytes come from one regex pass over
    * `hex(b)` rather than `substr(b, i, 1)` per position: a lambda that
    * reads the row's binary copies the whole document per element,
    * quadratic on a 1 MB document. An empty document yields no byte
    * rows, matching the oracle's empty unnest. */
  def textEntropy(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "documents")
      .select(col("doc_id"), col("lang"),
        octet_length(col("text")).as("n"),
        col("text").cast("binary").as("b"))
      .select(col("doc_id"), col("lang"), col("n"),
        explode(transform(regexp_extract_all(hex(col("b")), lit(".."), lit(0)),
          h => conv(h, 16, 10).cast("int"))).as("ch"))
      .groupBy("doc_id", "lang", "n", "ch")
      .agg(count(lit(1)).as("nc"))
      // portable log2(n/nc) in 2^-20 units, evaluated once per DISTINCT
      // (n, nc) pair and broadcast back, then pure integer term arithmetic
      .transform { hist =>
        val pairs = hist.select("n", "nc").distinct()
          .withColumn("lmicro", PortableMath.log2Micro(col("n"), col("nc")))
        hist.join(broadcast(pairs), Seq("n", "nc"))
      }
      .select(col("doc_id"), col("lang"), col("n"),
        PortableMath.longDiv(
          col("nc").cast("long") * col("lmicro") * lit(1000000L),
          col("n").cast("long") * lit(1048576L)).as("tm"))
      .groupBy("doc_id", "lang")
      .agg(max(col("n")).cast("long").as("n_chars"),
        count(lit(1)).as("n_distinct_chars"),
        sum(col("tm")).as("entropy_ubits"))
      .orderBy("doc_id")

  /** All character trigrams of a PRE-BOUND string column, one per start
    * position; empty for strings under 3 chars (Spark's `sequence(1, 0)`
    * counts DOWN). */
  private def charTrigrams(s: Column): Column =
    when(length(s) >= 3,
      transform(sequence(lit(1), length(s) - 2), i => s.substr(i, lit(3))))
      .otherwise(array().cast("array<string>"))

  /** Explode + doc_id ranking windows + broadcast profile join +
    * per-language fold + und-branch union. A missing trigram costs each
    * language its OWN profile length (Cavnar & Trenkle). */
  def textLangid(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val phrases = TextOps.langPhrases
    val elang = when(col("lang") === "es" && col("doc_id") % 2 === 1,
      lit("pt")).otherwise(col("lang"))
    val phrase = phrases.tail.foldLeft(
      when(col("elang") === phrases.head._1, lit(phrases.head._2))) {
      case (acc, (l, p)) => acc.when(col("elang") === l, lit(p))
    }.otherwise(lit(""))
    val scored = load(spark, dir, "documents")
      .withColumn("elang", elang)
      .withColumn("s",
        lower(substring(concat(phrase, lit(" "), col("text")), 1, 96)))
    val ranked = scored
      .select(col("doc_id"), col("elang"),
        explode(charTrigrams(col("s"))).as("t"))
      .groupBy("doc_id", "elang", "t").agg(count(lit(1)).as("c"))
      .withColumn("rd", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("c").desc, col("t").asc)))
      .withColumn("ntg", count(lit(1)).over(Window.partitionBy("doc_id")))
    val prof = Text.langProfilesRanked.flatMap { case (l, ts) =>
      ts.zipWithIndex.map { case (t, i) => (l, t, i + 1) }
    }.toDF("plang", "t", "rp")
    val perLang = ranked.join(broadcast(prof), Seq("t"), "left_outer")
      .groupBy("doc_id", "elang", "plang")
      .agg(sum(abs(col("rd") - col("rp"))).as("md"),
        count(col("rp")).as("nm"), min("ntg").as("ntg"))
    val perDoc = perLang.groupBy("doc_id", "elang")
      .agg(min("ntg").as("ntg"),
        map_from_entries(collect_list(when(col("plang").isNotNull,
          struct(col("plang"), struct(col("md"), col("nm"))))))
          .as("m"))
    val distStructs = Text.langProfilesRanked.map { case (l, ts) =>
      val e = element_at(col("m"), l)
      struct(
        (coalesce(e.getField("md"), lit(0L))
          + (col("ntg") - coalesce(e.getField("nm"), lit(0L))) * ts.size)
          .as("dist"),
        lit(l).as("plang"))
    }
    val guessed = perDoc.select(col("doc_id"), col("elang"),
      array_min(array(distStructs: _*)).getField("plang").as("guess"))
    // documents that produced NO trigram (window shorter than 3 chars,
    // or a NULL text making the whole window null) get 'und'
    val und = scored.filter(coalesce(length(col("s")), lit(0)) < 3)
      .select(col("doc_id"), col("elang"), lit("und").as("guess"))
    guessed.unionByName(und)
      .groupBy(col("elang").as("lang"), col("guess"))
      .agg(count(lit(1)).as("n"))
      .orderBy("lang", "guess")
  }
}
