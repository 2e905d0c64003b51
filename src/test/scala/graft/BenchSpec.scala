package graft

import org.scalatest.funsuite.AnyFunSuite

/** The self-healing retry policy of [[Bench]] (VERDICT r12 Next #2):
  * a contended base spread (max/min ≥ 2) earns extra trials so an
  * isolated contention spike cannot become the median of record.
  * Pure-logic tests — no Spark session; the policy is factored out of
  * the timed loop precisely so it can be forced deterministically.
  */
class BenchSpec extends AnyFunSuite {

  /** Scripted sample source: pops pre-planned timings and counts
    * calls, so the test controls exactly what "contention" the bench
    * observes.
    */
  private final class Script(timings: Double*) {
    private val q = scala.collection.mutable.Queue(timings: _*)
    var calls = 0
    def sample(): (Double, Unit) = {
      calls += 1
      (q.dequeue(), ())
    }
  }

  private def medianOf(samples: Vector[(Double, Unit)]): Double = {
    val sorted = samples.map(_._1).sorted(Ordering.Double.TotalOrdering)
    sorted((samples.size - 1) / 2)
  }

  test("a stable spread takes exactly the base runs — no retry") {
    val s = new Script(1.0, 1.1, 1.05)
    val got = Bench.sampleWithRetry(3, () => s.sample())
    assert(s.calls == 3)
    assert(got.size == 3)
    assert(medianOf(got) == 1.05)
  }

  test("forced contention: the spike earns extras and loses the median") {
    // base [4.6, 26.9, 4.7] is the r12 q_kcore shape: one mid-run
    // spike, max/min ≈ 5.8 ≥ 2. Without retry the lower-middle median
    // of 3 is 4.7 — but r12's actual artifact shows the spike CAN land
    // as the median when two samples spike; with 2 extras the median
    // of 5 is immune to any single spike and robust to two
    val s = new Script(4.6, 26.9, 4.7, 4.8, 4.65)
    val got = Bench.sampleWithRetry(3, () => s.sample())
    assert(s.calls == 5, "contended line must take MaxExtraRuns extras")
    assert(medianOf(got) == 4.7)
    // double spike in the base — the r12 q_copurchase shape where the
    // spike WAS the median of record: extras heal it
    val s2 = new Script(4.3, 40.0, 47.0, 4.4, 4.5)
    val got2 = Bench.sampleWithRetry(3, () => s2.sample())
    assert(s2.calls == 5)
    assert(medianOf(got2) == 4.5,
      "median of record must not be a contention spike")
  }

  test("heavy tier: a contended >5 s line earns MaxExtraRunsHeavy") {
    // base min 6.2 s clears HeavyTierSec — with only 2 extras a
    // sustained two-spike episode could still own the 5-sample
    // lower-middle median; 4 extras make the 7-sample median immune
    val s = new Script(6.2, 31.0, 29.0, 6.3, 6.4, 6.25, 6.35)
    val got = Bench.sampleWithRetry(3, () => s.sample())
    assert(s.calls == 3 + Bench.MaxExtraRunsHeavy)
    assert(medianOf(got) == 6.35,
      "heavy-tier median of record must not be a contention spike")
    // the tier keys on the spread MINIMUM: a cheap line with a huge
    // spike (min < 5 s) stays on the 2-extra tier
    val s2 = new Script(1.0, 30.0, 1.1, 1.0, 1.05)
    val got2 = Bench.sampleWithRetry(3, () => s2.sample())
    assert(s2.calls == 3 + Bench.MaxExtraRuns)
    assert(medianOf(got2) == 1.05)
  }

  test("contention detection threshold and single-sample behavior") {
    assert(Bench.isContended(Seq(1.0, 2.0)))
    assert(Bench.isContended(Seq(1.0, 1.2, 5.0)))
    assert(!Bench.isContended(Seq(1.0, 1.9)))
    // a single run carries no spread — never flagged, never retried
    assert(!Bench.isContended(Seq(10.0)))
    val s = new Script(10.0)
    assert(Bench.sampleWithRetry(1, () => s.sample()).size == 1)
    assert(s.calls == 1)
  }
}
