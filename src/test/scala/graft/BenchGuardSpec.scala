package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench artifact's self-checks: the failed-pass sentinel and
  * the ambient-load divergence warning (round-7 measurement-integrity
  * items — a contaminated artifact must identify itself). */
class BenchGuardSpec extends AnyFunSuite {

  test("clean consistent passes produce no warning") {
    assert(Bench.divergenceWarning(Seq(105.6, 101.6)).isEmpty)
    assert(Bench.divergenceWarning(Seq(100.0, 199.9)).isEmpty) // at, not over, 2x
  }

  test("a stalled pass (>2x spread) warns — the round-6 artifact shape") {
    val w = Bench.divergenceWarning(Seq(2005.5, 231.6))
    assert(w.isDefined && w.get.contains("WARNING") && w.get.contains("2x"))
  }

  test("failed passes (negative sentinel totals) never participate in the check") {
    // one clean pass + one failed pass: no pair to compare, no warning —
    // the failure is already loud via the failed list and negative totals
    assert(Bench.divergenceWarning(Seq(-500.0, 101.6)).isEmpty)
    // two clean consistent passes beside a failed one: still clean
    assert(Bench.divergenceWarning(Seq(101.0, -2005.5, 99.0)).isEmpty)
    // two clean diverging passes beside a failed one: still warns
    assert(Bench.divergenceWarning(Seq(101.0, -50.0, 300.0)).isDefined)
  }

  test("degenerate inputs stay quiet") {
    assert(Bench.divergenceWarning(Seq.empty).isEmpty)
    assert(Bench.divergenceWarning(Seq(42.0)).isEmpty)
  }

  test("SPARK_GRAFT_CPUS must be a positive integer before it shapes the master, JSON or file name") {
    assert(Bench.cpusOf("8") === "8")
    assert(Bench.cpusOf("32") === "32")
    Seq("*", "0", "-1", "+4", "4x", " 4", "", "4.0", "99999999999").foreach { bad =>
      intercept[IllegalArgumentException](Bench.cpusOf(bad))
    }
  }
}
