package perfbench

import org.scalatest.funsuite.AnyFunSuite

class SelfTimeSpec extends AnyFunSuite {

  //  root  [0, 100)
  //    a   [10, 40)
  //      a1 [15, 20)
  //    b   [30, 60)   overlaps a
  //    c   [90, 120)  runs past the end of root
  private val spans = Seq(
    Span(0, -1, "op", "root", 0, 100),
    Span(1, 0, "x", "a", 10, 40),
    Span(2, 1, "x", "a1", 15, 20),
    Span(3, 0, "x", "b", 30, 60),
    Span(4, 0, "x", "c", 90, 120))

  test("self time is duration minus the union of direct children") {
    val self = SelfTime.of(spans)
    // root: children cover [10, 60) and [90, 100) -> 60 of 100
    assert(self(0) == 40)
    assert(self(1) == 25) // a: 30 minus a1's 5
    assert(self(2) == 5)
    assert(self(3) == 30)
    assert(self(4) == 30)
  }

  test("covered merges overlaps and clips to the interval") {
    assert(SelfTime.covered(0, 10, Nil) == 0)
    assert(SelfTime.covered(0, 10, Seq((2, 4), (3, 6), (8, 20))) == 6)
    assert(SelfTime.covered(5, 10, Seq((0, 6), (9, 9))) == 1)
  }

  test("driver gap is span time outside its jobs") {
    val j1 = new JobRec(0, 1, 12); j1.end = 22
    val j2 = new JobRec(1, 2, 18); j2.end = 30
    val other = new JobRec(2, 3, 30); other.end = 50
    val t = Trace(spans, Seq(j1, j2, other), Nil)
    // a = [10, 40); its jobs (own and a1's) cover [12, 30)
    assert(t.driverGap(spans(1)) == 30 - 18)
    assert(t.jobsUnder(Seq(spans(0))).size == 3)
  }
}
