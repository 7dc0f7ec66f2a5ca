package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.functions.Text

/** Rank-distance language ID.
  *
  * The native fused Cavnar–Trenkle kernel
  * ([[graft.functions.expressions.LangIdGuess]]) must be row-identical
  * to the composed-built-ins form it replaced ([[HofTextOps.textLangid]]
  * — explode, doc_id ranking windows, broadcast profile join,
  * per-language fold, und-branch union), on the interpreted and the
  * compiled evaluation path. The profiles must be well
  * formed and separate the es/pt confusable pair they exist for (engine
  * parity is the q_text_langid DuckDB gate's job). */
class TextLangIdSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toSeq

  test("native kernel is row-identical to the HOF form on real sf0.001 " +
      "documents") {
    TestSpark.onEachEvaluationPath { path =>
      val nat = rows(TextOps.textLangid(spark, "/root/testdata/sf0.001"))
      val hof = rows(HofTextOps.textLangid(spark, "/root/testdata/sf0.001"))
      assert(nat.nonEmpty, path)
      assert(nat == hof, path)
    }
  }

  test("native kernel matches the HOF form on planted edge documents " +
      "(empty, short, multi-byte, rank-tie and distance-tie shapes)") {
    import spark.implicits._
    val docs = Seq(
      (1L, "en", ""),                       // und: empty window -> ' ' only
      (2L, "en", "ab"),                     // und after the ' ' prefix? (3 chars)
      (3L, "de", "x"),                      // short
      (4L, "es", "la cantidad del valor"),  // planted es, even id
      (5L, "es", "la cantidad del valor"),  // odd id -> planted pt phrase
      (6L, "fr", "éü世界 café répétition"), // multi-byte code points
      (7L, "zh", "aaa bbb aaa ccc aaa"),    // repeated-count rank ties
      (8L, "en", "zzz yyy xxx www vvv"))    // no profile hit anywhere
      .toDF("doc_id", "lang", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("li_edge").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    TestSpark.onEachEvaluationPath { path =>
      val nat = rows(TextOps.textLangid(spark, dir))
      val hof = rows(HofTextOps.textLangid(spark, dir))
      assert(nat == hof, path)
      assert(nat.map(_._3).sum == 8L, path)  // every document is counted
    }
  }

  test("ranked profiles are 3-char trigrams, distinct within a language") {
    Text.langProfilesRanked.foreach { case (lang, ts) =>
      assert(ts.forall(_.length == 3), s"$lang has a non-trigram entry")
      assert(ts.distinct.size == ts.size,
        s"$lang has duplicate trigrams: ${ts.diff(ts.distinct)}")
      assert(ts.size >= 40, s"$lang profile too short for rank scoring")
    }
  }

  test("a document with no trigrams keeps a row, guessed 'und'") {
    import spark.implicits._
    // lang outside the phrase list -> empty planted prefix; text under 3
    // chars -> the 96-char window yields no trigram at all
    val base = s"/tmp/graft_ss/p${ProcessHandle.current().pid}/langid_und_${System.nanoTime()}"
    import org.apache.spark.sql.functions.{col, lit}
    val src = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val degenerate = src.limit(1).select(src.columns.map {
      case "doc_id" => lit(999999L).as("doc_id")
      case "lang"   => lit("xx").as("lang")
      case "text"   => lit("a").as("text")
      case c        => col(c)
    }: _*)
    src.limit(5).unionByName(degenerate)
      .write.mode("overwrite").parquet(s"$base/documents.parquet")
    val out = TextOps.textLangid(spark, base)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val xx = out.filter(_._1 == "xx")
    assert(xx.toSeq == Seq(("xx", "und", 1L)), out.mkString(", "))
    assert(out.map(_._3).sum == 6, out.mkString(", "))
  }

  test("confusion matrix is diagonal on the planted fixture, incl es vs pt") {
    val out = TextOps.textLangid(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    // every row diagonal — no planted language is misclassified
    assert(out.forall { case (lang, guess, _) => lang == guess },
      out.filterNot(r => r._1 == r._2).mkString(", "))
    // both halves of the confusable pair are present and separated
    val langs = out.map(_._1).toSet
    assert(langs.contains("es") && langs.contains("pt"), langs)
  }
}
