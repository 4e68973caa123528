package graft

import java.util.concurrent.atomic.AtomicBoolean

import scala.util.Failure

/** [[Settle]]: every task settles before the outcomes return, and
  * [[Settle.values]] rethrows the first failure with the rest
  * suppressed on it. */
class SettleSpec extends SparkSpec {

  test("a failing task does not return the outcomes before a sleeping one finished") {
    val boom = new IllegalStateException("boom")
    val slept = new AtomicBoolean(false)
    val outcomes = Settle.all[Int](spark, Seq(
      () => throw boom,
      () => { Thread.sleep(500); slept.set(true); 1 }))
    assert(slept.get, "returned before the sleeping task finished")
    assert(outcomes.head == Failure(boom))
    assert(outcomes(1).get == 1)
  }

  test("values rethrows the first failure with the later ones suppressed") {
    val (first, second) =
      (new IllegalStateException("first"), new IllegalArgumentException("second"))
    val e = intercept[IllegalStateException] {
      Settle.values(Settle.all[Int](spark, Seq(
        () => 1, () => throw first, () => throw second)))
    }
    assert(e eq first)
    assert(e.getSuppressed.toSeq == Seq(second))
    assert(Settle.values(Settle.all(spark, Seq(() => 1, () => 2))) == Seq(1, 2))
  }
}
