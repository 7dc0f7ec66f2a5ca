package perfbench

import org.scalatest.funsuite.AnyFunSuite

class LedgerSpec extends AnyFunSuite {
  test("a throwing operation counts as failed and leaves no timing") {
    val l = new Ledger
    val r = l.op[Int]("gate.x")(throw new IllegalStateException("boom"))
    assert(r.isEmpty)
    assert(l.attempted == 1 && l.failed == 1)
    assert(l.seconds("gate.x").isEmpty)
    assert(l.failures.head.contains("IllegalStateException") && l.failures.head.contains("boom"))
  }

  test("an operation whose check fails counts as failed and leaves no timing") {
    val l = new Ledger
    assert(l.op[Int]("q", v => if (v == 2) None else Some(s"got $v"))(1).isEmpty)
    assert(l.failed == 1 && l.seconds("q").isEmpty)
    assert(l.failures.head == "q: got 1")
  }

  test("a passing operation records one sample and its result") {
    val l = new Ledger
    assert(l.op[Int]("q", v => if (v == 2) None else Some("bad"))(2).contains(2))
    assert(l.attempted == 1 && l.failed == 0 && l.seconds("q").size == 1)
  }

  test("a check that throws is a failure, not a pass") {
    val l = new Ledger
    assert(!l.check("store")(throw new RuntimeException("unreadable")))
    assert(l.failed == 1)
  }
}
