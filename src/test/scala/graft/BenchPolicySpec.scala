package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[BenchPolicy]] — the contention-refusal rules Bench applies,
  * pinned so the r16 failure mode (per-query >2x outliers shipping
  * silently inside a "quiet" capture) cannot re-open.
  */
class BenchPolicySpec extends AnyFunSuite {

  test("ratioMedian: empty, odd, even") {
    assert(BenchPolicy.ratioMedian(Nil) == -1.0)
    assert(BenchPolicy.ratioMedian(Seq(1.5)) == 1.5)
    assert(BenchPolicy.ratioMedian(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(BenchPolicy.ratioMedian(Seq(1.0, 2.0, 3.0, 4.0)) == 2.5)
  }

  test("isSuspect: the r16 outliers now trip; jitter doesn't") {
    // BENCH_r16's silent outliers — both must be suspects at 2x
    assert(BenchPolicy.isSuspect(5.62, 5.62 / 2.35), "q39 at 2.35x")
    assert(BenchPolicy.isSuspect(3.29, 3.29 / 2.17), "q105 at 2.17x")
    // at/below the ratio line: not a suspect
    assert(!BenchPolicy.isSuspect(1.9, 1.0))
    assert(!BenchPolicy.isSuspect(2.0, 1.0), "boundary is exclusive")
    // sub-second floor at a big ratio but tiny absolute excess:
    // the 0.3 s guard keeps scheduler jitter off the re-run budget
    assert(!BenchPolicy.isSuspect(0.25, 0.1), "2.5x but +0.15 s only")
    assert(BenchPolicy.isSuspect(0.45, 0.1), "2.5x band, +0.35 s")
    // no floor -> never a suspect
    assert(!BenchPolicy.isSuspect(10.0, 0.0))
    assert(!BenchPolicy.isSuspect(10.0, -1.0))
  }

  test("suspects: worst ratio first, name-tiebroken, floorless skipped") {
    val best = Map("qa" -> 4.0, "qb" -> 9.0, "qc" -> 1.0,
      "qd" -> 6.0, "qe" -> 50.0)
    val expect = Map("qa" -> 1.0, "qb" -> 3.0, "qc" -> 1.0, "qd" -> 2.0)
    // qa 4x, qb 3x, qc 1x (clean), qd 3x (ties qb -> name order),
    // qe has no floor
    assert(BenchPolicy.suspects(best, expect) == Seq("qa", "qb", "qd"))
    assert(BenchPolicy.suspects(Map.empty, expect).isEmpty)
    assert(BenchPolicy.suspects(best, Map.empty).isEmpty)
  }

  test("parseExpect reads every entry of the committed floor file") {
    val in = getClass.getResourceAsStream("/graft/bench-expect.json")
    val json = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val parsed = BenchPolicy.parseExpect(json)
    // an independent JSON parser is the reference
    val tree = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    assert(parsed.size == tree.size)
    tree.fieldNames.forEachRemaining { k =>
      assert(parsed.get(k).contains(tree.get(k).asDouble), k)
    }
  }

  test("window: contended only above the median threshold, where floors apply") {
    assert(BenchPolicy.window(true, 1.2) == "quiet", "boundary is exclusive")
    assert(BenchPolicy.window(true, 1.2001) == "contended")
    assert(BenchPolicy.window(false, 1.2001) == "quiet", "floors not applicable")
    assert(BenchPolicy.window(true, -1.0) == "quiet", "no floors matched")
  }

  test("spreadContended: needs both the 2x ratio and the +0.2 s excess") {
    assert(!BenchPolicy.spreadContended(Nil))
    assert(!BenchPolicy.spreadContended(Seq(5.0)))
    assert(!BenchPolicy.spreadContended(Seq(1.0, 2.0)), "2x is exclusive")
    assert(BenchPolicy.spreadContended(Seq(1.0, 2.001)))
    // a micro-query: 3x, but only +0.19 s / +0.21 s
    assert(!BenchPolicy.spreadContended(Seq(0.1, 0.29)))
    assert(BenchPolicy.spreadContended(Seq(0.1, 0.31)))
    // wide in seconds, narrow in ratio
    assert(!BenchPolicy.spreadContended(Seq(10.0, 15.0)))
  }

  test("timedRun: a RuntimeException is a failed run; VM errors propagate") {
    val (okSecs, ok) = BenchPolicy.timedRun(())
    assert(ok && okSecs >= 0)
    val (_, failed) = BenchPolicy.timedRun(throw new RuntimeException("boom"))
    assert(!failed)
    intercept[OutOfMemoryError](
      BenchPolicy.timedRun(throw new OutOfMemoryError("planted")))
    intercept[StackOverflowError](
      BenchPolicy.timedRun(throw new StackOverflowError()))
  }
}
