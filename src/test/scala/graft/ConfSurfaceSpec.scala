package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The `graft.*` system properties main code reads, pinned: adding or
  * removing a knob is a visible edit to this list. */
class ConfSurfaceSpec extends AnyFunSuite {

  private val expected = Set(
    "graft.checkpoint.dir",
    "graft.checkpoint.reliable",
    "graft.jw.warnPairs",
    "graft.lsh.warnPairs",
    "graft.plandump.excludedRules",
    "graft.prefixFrame.chunk",
    "graft.prefixFrame.chunkFactor",
    "graft.prefixFrame.rewrite",
    "graft.skew.autoRoute",
    "graft.skew.memo",
    "graft.skew.warnMinRows",
    "graft.skew.warnShare")

  /** A `"graft.…"` literal passed to `sys.props` or `System.getProperty`. */
  private val propRead =
    """(?:sys\.props(?:\.\w+)?|System\.getProperty)\(\s*"(graft\.[^"]+)"""".r

  test("main code reads exactly the pinned graft.* properties") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), root.toAbsolutePath)
    val files = Files.walk(root)
    val found =
      try files.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .flatMap((p: Path) => propRead.findAllMatchIn(Files.readString(p)).map(_.group(1)))
        .toSet
      finally files.close()
    assert(found == expected,
      s"added: ${found -- expected}, removed: ${expected -- found}")
  }
}
