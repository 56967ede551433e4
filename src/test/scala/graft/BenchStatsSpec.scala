package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's contamination defenses, pinned: if these thresholds
  * drift, artifact-vs-artifact comparisons silently change meaning. */
class BenchStatsSpec extends AnyFunSuite {
  import BenchStats._

  test("median: odd, even, singleton") {
    assert(median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    assert(median(Seq(7.0)) == 7.0)
  }

  test("robustMedian: 2 contaminated runs of 7 cannot move it at all") {
    val clean = Seq(1.0, 1.01, 1.02, 0.99, 0.98)
    // two contention-poisoned samples, 20x the clean value
    val poisoned = clean ++ Seq(20.0, 21.0)
    // sorted [0.98 .99 1.0 1.01 1.02 20 21] -> trim 2 -> mid = 1.01
    assert(robustMedian(poisoned) == 1.01)
    assert(robustMedian(poisoned) < 1.1)
    // 1 of 5 is likewise trimmed
    assert(robustMedian(Seq(1.0, 1.0, 1.0, 1.0, 50.0)) == 1.0)
    // 3 of 7 CAN move it — the documented breakdown point
    assert(robustMedian(Seq(1.0, 1.0, 1.0, 1.0, 20.0, 20.0, 20.0))
      == 1.0) // median of the trimmed middle three is still clean
    assert(robustMedian(Seq(1.0, 1.0, 1.0, 20.0, 20.0, 20.0, 20.0))
      == 20.0)
    // below 5 samples: plain median (no trim budget)
    assert(robustMedian(Seq(1.0, 1.0, 9.0)) == 1.0)
  }

  test("unstable: needs BOTH relative width and absolute gap") {
    assert(unstable(Seq(0.5, 1.2)))          // 2.4x and 0.7 s
    assert(!unstable(Seq(0.10, 0.35)))       // 3.5x but only 0.25 s
    assert(!unstable(Seq(10.0, 10.4)))       // 0.4 s but 1.04x
    assert(!unstable(Seq(1.0, 1.0, 1.0)))
  }

  test("divergent: one-sided 3x-and-0.3s against the prior; no prior " +
      "or zero prior never diverges") {
    val slow = Seq(1.0, 1.0, 1.0)
    assert(divergent(slow, Some(0.2)))       // 5x and +0.8 s
    assert(!divergent(slow, Some(0.5)))      // 2x: under the ratio
    assert(!divergent(Seq(0.3, 0.3), Some(0.09))) // 3.3x but +0.21 s
    // FASTER than prior is progress, not divergence
    assert(!divergent(Seq(0.1, 0.1), Some(5.0)))
    assert(!divergent(slow, None))
    assert(!divergent(slow, Some(0.0)))
    assert(!divergent(slow, Some(-1.0)))
  }

  test("effective: measured samples win; warmup only as a fallback") {
    assert(effective(Some(2.0), Seq(1.0, 1.1)) == Seq(1.0, 1.1))
    assert(effective(Some(2.0), Nil) == Seq(2.0))
    assert(effective(None, Nil) == Nil)
    assert(effective(None, Seq(0.5)) == Seq(0.5))
  }

  test("selected: a lone measured sample diverging from BOTH warmup " +
      "and prior quotes min(measured, warmup) — the r9 driver q227 " +
      "shape (75.4 s sample, 3.2 s warmup, 1.7 s prior)") {
    assert(selected(Some(3.2), Seq(75.4), Some(1.7)) == Seq(3.2))
    // the min matters, not "the warmup": a poisoned WARMUP with a
    // clean measured sample keeps the measured one (the r9 q248
    // shape: warmup 72.4, sample 3.1 — no divergence, nothing to do)
    assert(selected(Some(72.4), Seq(3.1), Some(2.8)) == Seq(3.1))
  }

  test("selected: rescue needs divergence from the warmup AND from " +
      "an existing prior — a corroborating prior means regression, " +
      "not contention") {
    // prior agrees with the slow sample: believe it (real slowdown)
    assert(selected(Some(1.0), Seq(9.0), Some(8.5)) == Seq(9.0))
    // no prior: the same-process warmup divergence alone decides
    assert(selected(Some(1.0), Seq(9.0), None) == Seq(1.0))
    // under the 3x ratio vs warmup: no rescue
    assert(selected(Some(4.0), Seq(9.0), Some(1.0)) == Seq(9.0))
    // over 3x vs warmup but under the 0.3 s absolute floor
    assert(selected(Some(0.05), Seq(0.2), None) == Seq(0.2))
  }

  test("selected: the filter is PER SAMPLE at any count — a spike " +
      "among clean samples drops instead of owning half a 2-sample " +
      "mean (the review catch: trim needs >= 5, so at n=2 the median " +
      "IS the spike's average when escalation was wall-cut)") {
    // two samples, one a spike corroborated by warmup AND prior as
    // contention: the clean sample owns the quote
    assert(selected(Some(1.0), Seq(9.0, 1.1), Some(1.0)) == Seq(1.1))
    // the same pair where the prior AGREES with the slow reading:
    // nothing drops (regression, not contention)
    assert(selected(Some(1.0), Seq(9.0, 1.1), Some(8.5)) == Seq(9.0, 1.1))
    // every sample spiked: the warmup is the sanest quote available
    // (a spikey sample is > 3x the warmup by definition, so
    // min(samples, warmup) is always the warmup here)
    assert(selected(Some(1.0), Seq(9.0, 12.0), Some(1.0)) == Seq(1.0))
    assert(selected(Some(10.0), Seq(41.0, 45.0), Some(1.0))
      == Seq(10.0))
    assert(selected(Some(2.0), Nil, Some(1.0)) == Seq(2.0))
    assert(selected(None, Seq(9.0), Some(1.0)) == Seq(9.0)) // no warmup
    assert(selected(None, Nil, None) == Nil)
  }

  test("rescueWorthy: the flag Bench uses to name rescued queries") {
    assert(rescueWorthy(75.4, 3.2, Some(1.7)))
    assert(rescueWorthy(9.0, 1.0, None))
    assert(!rescueWorthy(9.0, 1.0, Some(8.5)))
    assert(!rescueWorthy(9.0, 4.0, Some(1.0)))
    assert(!rescueWorthy(0.2, 0.05, None))
    // a zero/negative warmup (clock glitch) never rescues
    assert(!rescueWorthy(9.0, 0.0, None))
  }

  test("quoteRescued vs partiallyFiltered: prior-voiding tracks the " +
      "QUOTE's quality, not any-sample spikiness (the r10 self-review " +
      "catch: one spike per query across 50 queries must not void 50 " +
      "clean-quoted priors)") {
    // one spike among clean samples: quote is the surviving clean
    // median -> NOT rescued (stays a valid prior), but filtered
    assert(!quoteRescued(Some(1.0), Seq(9.0, 1.1), Some(1.0)))
    assert(partiallyFiltered(Some(1.0), Seq(9.0, 1.1), Some(1.0)))
    // every sample spiked: quote is the fallback -> rescued, and the
    // two predicates are disjoint
    assert(quoteRescued(Some(1.0), Seq(9.0, 12.0), Some(1.0)))
    assert(!partiallyFiltered(Some(1.0), Seq(9.0, 12.0), Some(1.0)))
    // the r9 q227 shape (lone sample): rescued, not filtered
    assert(quoteRescued(Some(3.2), Seq(75.4), Some(1.7)))
    assert(!partiallyFiltered(Some(3.2), Seq(75.4), Some(1.7)))
    // prior corroborates the slow reading: regression, neither flag
    assert(!quoteRescued(Some(1.0), Seq(9.0, 9.1), Some(8.5)))
    assert(!partiallyFiltered(Some(1.0), Seq(9.0, 9.1), Some(8.5)))
    // no samples / no warmup: neither
    assert(!quoteRescued(Some(2.0), Nil, Some(1.0)))
    assert(!quoteRescued(None, Seq(9.0), Some(1.0)))
    assert(!partiallyFiltered(None, Seq(9.0), Some(1.0)))
  }

  test("priorMedians: a complete prior's medians minus the rescued names") {
    val sf = "/data/sf0.1"
    def line(extra: String) =
      s"""{"metric":"total","queries":{"q01":1.5,"q02":0.25,"q03":2.0},""" +
        s""""sf":"$sf"$extra}"""
    assert(Bench.priorMedians(line(""","partial":false,"shed":[],"rescued":["q02"]"""), sf) ==
      Map("q01" -> 1.5, "q03" -> 2.0))
    // a shed that degraded no quoted median keeps the prior
    assert(Bench.priorMedians(line(""","shed":["escalation_tail","bucket_diag"]"""), sf) ==
      Map("q01" -> 1.5, "q02" -> 0.25, "q03" -> 2.0))
  }

  test("priorMedians: an sf mismatch, a partial prior or a pass_* shed gives none") {
    val sf = "/data/sf0.1"
    def line(extra: String) =
      s"""{"queries":{"q01":1.5},"sf":"$sf"$extra}"""
    assert(Bench.priorMedians(line(""), "/data/sf0.01").isEmpty)
    assert(Bench.priorMedians(line(""), sf).nonEmpty)
    assert(Bench.priorMedians(line(""","partial":true"""), sf).isEmpty)
    assert(Bench.priorMedians(line(""","shed":["pass_3_wall_from_q01"]"""), sf).isEmpty)
    assert(Bench.priorMedians("""{"queries":{"q01":1.5}}""", sf).isEmpty)
    assert(Bench.priorMedians("not json", sf).isEmpty)
  }
}
