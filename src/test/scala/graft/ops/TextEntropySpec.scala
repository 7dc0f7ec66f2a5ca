package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The native fused byte-entropy kernel
  * ([[graft.functions.expressions.ByteEntropy]]) must be row-identical
  * to the composed-built-ins form it replaced ([[HofTextOps.textEntropy]]
  * — per-byte explode, histogram aggregate, DISTINCT-pair portable-log
  * broadcast join, per-doc fold), on the interpreted and the compiled
  * evaluation path. */
class TextEntropySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
      r.getLong(3), r.getLong(4))).toSeq

  test("native kernel is row-identical to the HOF form on real sf0.001 " +
      "documents") {
    TestSpark.onEachEvaluationPath { path =>
      val nat = rows(TextOps.textEntropy(spark, "/root/testdata/sf0.001"))
      val hof = rows(HofTextOps.textEntropy(spark, "/root/testdata/sf0.001"))
      assert(nat.nonEmpty, path)
      assert(nat == hof, path)
    }
  }

  test("native kernel matches the HOF form on planted edge documents " +
      "(empty, single byte, uniform, all-256, high bytes, power-of-two " +
      "histogram counts)") {
    import spark.implicits._
    // a document over 1 MB, and one whose bytes are not valid UTF-8
    // (cast from a binary column, so no encoder repairs them)
    val big = {
      val r = new scala.util.Random(7)
      Array.fill((1 << 20) + 4099)((r.nextInt(95) + 32).toChar).mkString
    }
    val invalid = Array(0xff, 0xfe, 0x80, 'a', 0xc3, 0x28, 0xe2, 0x82, 0xed,
      0xa0, 0x80, 0xc0, 0xaf, 'a').map(_.toByte)
    val docs = Seq(
      (1L, "xx", ""),                                  // empty: absent
      (2L, "xx", "a"),                                 // 1 byte, H = 0
      (3L, "xx", "aaaaaaaa"),                          // uniform, H = 0
      (4L, "xx", (0 until 256).map(_.toChar).mkString), // every byte once
      (5L, "xx", "éü世界 café"), // multi-byte UTF-8
      (6L, "xx", "ab" * 512 + "c" * 1024),             // power-of-two ties
      (7L, "xx", "abcdabcdaabb"),
      (8L, "xx", big))
      .toDF("doc_id", "lang", "text")
      .unionByName(Seq((9L, "xx", invalid)).toDF("doc_id", "lang", "bytes")
        .select(col("doc_id"), col("lang"), col("bytes").cast("string").as("text")))
    val dir = java.nio.file.Files
      .createTempDirectory("te_edge").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    TestSpark.onEachEvaluationPath { path =>
      val nat = rows(TextOps.textEntropy(spark, dir))
      val hof = rows(HofTextOps.textEntropy(spark, dir))
      assert(nat == hof, path)
      // the empty document is absent from both (old explode emitted no
      // byte rows; new form filters octet_length >= 1)
      assert(!nat.exists(_._1 == 1L), path)
      assert(nat.exists(_._1 == 2L), path)
      // the large and the invalid document are scored byte for byte
      assert(nat.find(_._1 == 8L).map(_._3).contains(big.length.toLong), path)
      assert(nat.find(_._1 == 9L).map(_._3).contains(invalid.length.toLong), path)
    }
  }
}
