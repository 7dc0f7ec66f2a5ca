package perfbench

import java.nio.file.{Files => JFiles, Path}

import scala.jdk.CollectionConverters._

/** One phase of a run: a ledger for its operations and, in a traced run, the
  * tracer that opens a span (and a job group) per operation. */
final class Run(val ledger: Ledger, val tracer: Option[Tracer]) {
  def op[T](kind: String, name: String, module: String,
      check: T => Option[String] = (_: T) => None)(body: => T): Option[T] =
    tracer match {
      case Some(t) => t.span(name, module)(ledger.op(kind, check)(body))
      case None => ledger.op(kind, check)(body)
    }

  /** A nested span inside an operation (no ledger entry of its own). */
  def child[T](name: String, module: String)(body: => T): T =
    tracer.map(_.span(name, module)(body)).getOrElse(body)

  def check(kind: String)(verdict: => Option[String]): Boolean = ledger.check(kind)(verdict)
}

object Files {
  def walk(root: Path): Seq[Path] =
    if (!JFiles.exists(root)) Nil
    else {
      val s = JFiles.walk(root)
      try s.iterator().asScala.filter(JFiles.isRegularFile(_)).toList finally s.close()
    }

  def deleteTree(root: Path): Unit =
    if (JFiles.exists(root)) {
      val s = JFiles.walk(root)
      try s.iterator().asScala.toList.reverse.foreach(JFiles.delete) finally s.close()
    }

  def clearDir(dir: Path): Unit = {
    deleteTree(dir); JFiles.createDirectories(dir)
  }
}
