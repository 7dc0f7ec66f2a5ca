package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** No `foldLeft` over `withColumn`/`withColumnRenamed` in main code.
  * Each call in such a fold adds one `Project` that the analyzer
  * re-resolves in full, so a frame built over n columns costs O(n²)
  * driver work on every build; one `select` (or one `withColumns`)
  * builds the same columns in a single projection. */
class ColumnFoldSpec extends AnyFunSuite {

  /** The source text of the fold's lambda: from `foldLeft(` over the
    * seed argument list, then the balanced `(...)` or `{...}` after it. */
  private def foldBodies(src: String): Iterator[(Int, String)] =
    "foldLeft\\s*\\(".r.findAllMatchIn(src).flatMap { m =>
      val seedEnd = closing(src, m.end - 1)
      val open = Iterator.from(seedEnd + 1).takeWhile(_ < src.length)
        .find(i => !src(i).isWhitespace)
      open.filter(i => src(i) == '(' || src(i) == '{').map { i =>
        val line = src.substring(0, m.start).count(_ == '\n') + 1
        (line, src.substring(i, closing(src, i) + 1))
      }
    }

  /** Index of the bracket closing the one at `open` (end of text if none). */
  private def closing(src: String, open: Int): Int = {
    var depth = 0
    var i = open
    while (i < src.length) {
      src(i) match {
        case '(' | '{' | '[' => depth += 1
        case ')' | '}' | ']' =>
          depth -= 1
          if (depth == 0) return i
        case _ =>
      }
      i += 1
    }
    src.length - 1
  }

  private val columnStep = "\\.withColumn(?:s|Renamed|sRenamed)?\\s*\\(".r

  test("the fold detector sees a fold over withColumn and passes a select") {
    val folded =
      """val d = cols.foldLeft(df)((d, c) =>
        |  d.withColumn(c, trim(col(c))))""".stripMargin
    val braced = "cols.foldLeft(df) { case (d, c) => d.withColumnRenamed(c, s\"x_$c\") }"
    val select = "df.select(cols.map(c => trim(col(c)).as(c)): _*)"
    val sum = "xs.foldLeft(0)((a, b) => a + b); df.withColumn(\"a\", lit(1))"
    def hits(s: String) = foldBodies(s).count { case (_, b) => columnStep.findFirstIn(b).isDefined }
    assert(hits(folded) == 1)
    assert(hits(braced) == 1)
    assert(hits(select) == 0)
    assert(hits(sum) == 0)
  }

  test("main code never folds withColumn or withColumnRenamed") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), root.toAbsolutePath)
    val files = Files.walk(root)
    val found =
      try files.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .flatMap { (p: Path) =>
          foldBodies(Files.readString(p)).collect {
            case (line, body) if columnStep.findFirstIn(body).isDefined =>
              s"${root.relativize(p)}:$line"
          }
        }.toList
      finally files.close()
    assert(found.isEmpty, s"foldLeft over withColumn at: ${found.mkString(", ")}")
  }
}
