package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench's pass-acceptance and noise-floor rules on synthetic
  * anchor sequences — the statistics that decide which samples reach the
  * headline, extracted pure in [[Bench]] exactly so a regression here is
  * a unit-test failure rather than a judge-time artifact dispute. */
class BenchStatsSpec extends AnyFunSuite {

  test("uncontended run: every regular pass accepted (min_fallback can stay false)") {
    val cal = Vector(0.16, 0.18, 0.17)
    assert(Bench.rejectedRegularPasses(cal, 3).isEmpty)
  }

  test("a contended regular pass (>1.5x best regular) is rejected") {
    val cal = Vector(0.45, 0.16, 0.18)
    assert(Bench.rejectedRegularPasses(cal, 3) == Set(1))
  }

  test("a fast RETRY anchor cannot retroactively reject accepted regular passes") {
    // three regular passes within 1.5x of each other were all accepted by
    // the replacement-pass loop; the drive-retry pass then lands on a
    // quiet machine moment (0.10). Against 0.10 every regular anchor
    // would exceed 1.5x — the rule must keep reading regular-only.
    val cal = Vector(0.20, 0.21, 0.22, 0.10)
    assert(Bench.rejectedRegularPasses(cal, 3).isEmpty)
  }

  test("a fast spread-resample anchor is equally excluded from the denominator") {
    // retry (0.30, index 3) AND spread pass (0.09, index 4) trail the
    // regular anchors; only indices 0..2 participate either way
    val cal = Vector(0.20, 0.28, 0.24, 0.30, 0.09)
    assert(Bench.rejectedRegularPasses(cal, 3).isEmpty)
  }

  test("rejection still fires among regular passes when trailing anchors exist") {
    val cal = Vector(0.16, 0.40, 0.17, 0.10)
    assert(Bench.rejectedRegularPasses(cal, 3) == Set(2))
  }

  test("noise floor is the larger of cal spread and own sample spread") {
    // own spread 0.03 < cal noise 0.05 → cal noise wins
    assert(Bench.noiseFloorSec(Vector(0.40, 0.43), 0.05) == 0.05)
    // own spread 0.20 > cal noise 0.05 → own spread wins
    assert(math.abs(Bench.noiseFloorSec(Vector(1.00, 1.20), 0.05) - 0.20) < 1e-9)
  }

  test("noise floor ignores beyond-2x contended samples (intra-pass bursts)") {
    // 6.5 is >2x the 1.0 min — an intra-pass contention outlier the
    // spread/min machinery already handles; including it would inflate
    // the floor to 5.5 s and make the breach rule toothless
    val floor = Bench.noiseFloorSec(Vector(1.06, 6.54, 1.23), 0.04)
    assert(math.abs(floor - 0.17) < 1e-9, s"floor was $floor")
  }

  test("only a full run writes the per-round detail copy") {
    assert(Bench.roundDetailFile(None, 23) == Some("bench_detail_r23.json"))
    assert(Bench.roundDetailFile(Some(Set("rdfa_pipeline")), 23).isEmpty)
    // an ONLY variable that names nothing still marks a subset run
    assert(Bench.roundDetailFile(Some(Set.empty), 23).isEmpty)
  }

  test("single-sample query floors at the cal spread") {
    assert(Bench.noiseFloorSec(Vector(2.5), 0.07) == 0.07)
    assert(Bench.noiseFloorSec(Vector.empty, 0.07) == 0.07)
  }

  test("the breach rule worked example: a 1.34x sub-500ms delta is inside the floor") {
    // r17's x_sim_topk shape: prior min 0.30, current min 0.40 (1.34x),
    // accepted samples 0.40/0.43, cal noise 0.04 → floor 0.04;
    // 0.40 <= 1.3*0.30 + 0.04 → NOT a breach
    val floor = Bench.noiseFloorSec(Vector(0.40, 0.43), 0.04)
    assert(0.40 <= 1.3 * 0.30 + floor)
    // while a genuine 2x regression on a 2 s query still breaches
    assert(4.0 > 1.3 * 2.0 + floor)
  }

  test("ParseBench floor derivation: same rule, no cal anchor (r19 artifact)") {
    // the committed parse_bench_r{N}.json floors come from the SAME
    // noiseFloorSec via ParseBench.summarize, with calNoise = 0 — the
    // floor is the metric's own uncontended spread
    val s = graft.html.ParseBench.summarize(Map(
      "parse" -> Vector(2.10, 2.25, 2.15, 2.40, 2.12, 2.18, 2.30),
      "extract" -> Vector(5.0, 5.2, 24.0, 5.1, 5.3, 5.05, 5.15)))
    val (pMin, pFloor) = s("parse")
    assert(pMin == 2.10)
    assert(math.abs(pFloor - 0.30) < 1e-9) // 2.40 - 2.10, all within 2x
    // a contended burst (24 ms, beyond 2x of the 5.0 min) is excluded
    // from the spread, exactly like the SQL bench's intra-pass rule
    val (eMin, eFloor) = s("extract")
    assert(eMin == 5.0)
    assert(math.abs(eFloor - 0.30) < 1e-9) // 5.3 - 5.0
  }

  test("floorBreach is the frozen rule: min_r > 1.3*min_prev + floor_prev") {
    // r19's x_bm25_stored shape: prev min 1.885, floor 0.754 (its own
    // sample spread) → threshold 3.205; the committed 2.97 min was NOT
    // a breach, the fifth run's hypothetical 3.30 would be
    assert(!Bench.floorBreach(2.97, 1.885, 0.754))
    assert(Bench.floorBreach(3.30, 1.885, 0.754))
    // a zero-floor query degenerates to the bare 1.3x ratio
    assert(!Bench.floorBreach(1.29, 1.0, 0.0))
    assert(Bench.floorBreach(1.31, 1.0, 0.0))
  }

  test("adjudication verdict: fresh-JVM min clearing the threshold is band") {
    // the r19 x_bm25_stored study, as the machine would have run it:
    // in-bench min 2.73 breached threshold 2.639; the fresh-JVM subset
    // re-time came back at 1.10 — well under → band, not regression
    assert(Bench.adjudicationVerdict(1.885, 0.189, Some(1.10)) == "band")
    // a real plan regression reproduces in the clean JVM
    assert(Bench.adjudicationVerdict(1.885, 0.189, Some(3.20)) == "regression")
    // exactly at the threshold is NOT a breach (rule is strict >)
    assert(Bench.adjudicationVerdict(1.0, 0.1, Some(1.4)) == "band")
    // a re-time that produced no sample must not masquerade as either
    assert(Bench.adjudicationVerdict(1.885, 0.189, None) == "error")
  }

  test("parseDetailMins excludes cached-read samples from prior-round minima") {
    // a drive query whose pass-1 sample was a drained-checkpoint read
    // (0.5 s, flagged in cached_read) plus a genuine 2.8 s retry: the
    // raw min (0.5) would manufacture a false breach against a healthy
    // 2.8 s this round — the genuine rule must yield 2.8
    val doc = """{"runs":{"drv":[0.5,2.8],"plain":[1.0,1.1]},
                  "sample_passes":{"drv":[1,4],"plain":[1,2]},
                  "cached_read":[["drv",1]],
                  "noise_floor_sec":{"drv":0.2,"plain":0.05}}"""
    val (mins, _) = Bench.parseDetailMins(doc)
    assert(mins("drv") == 2.8)
    assert(mins("plain") == 1.0)
    // all-cached degenerates to keeping the samples (headline parity)
    val (allCached, _) = Bench.parseDetailMins(
      """{"runs":{"drv":[0.5]},"sample_passes":{"drv":[1]},
          "cached_read":[["drv",1]]}""")
    assert(allCached("drv") == 0.5)
  }

  test("parseDetailMins reads a detail without cached_read like one with it empty") {
    // details written since drives stopped caching carry no cached_read
    val body = """"runs":{"drv":[3.1,2.8],"plain":[1.0,1.1]},
                  "sample_passes":{"drv":[1,4],"plain":[1,2]},
                  "noise_floor_sec":{"drv":0.2,"plain":0.05}"""
    val without = Bench.parseDetailMins(s"{$body}")
    assert(without == Bench.parseDetailMins(s"""{$body,"cached_read":[]}"""))
    assert(without == (Map("drv" -> 2.8, "plain" -> 1.0),
      Map("drv" -> 0.2, "plain" -> 0.05)))
  }

  test("drive-backed breachers adjudicate on trigger medians, not wall re-times") {
    // wall min moved with the IO band but per-batch execution is flat
    assert(Bench.driveAdjudicationVerdict(Some(300.0), Some(290.0)) == "band")
    // a real streaming regression shows up in triggerExecution itself
    assert(Bench.driveAdjudicationVerdict(Some(450.0), Some(290.0)) == "regression")
    // no trigger record on either side cannot masquerade as a verdict
    assert(Bench.driveAdjudicationVerdict(None, Some(290.0)) == "error")
    assert(Bench.driveAdjudicationVerdict(Some(300.0), None) == "error")
    // and the prior-round trigger mins parse from the committed detail
    val trig = Bench.parseDriveTriggerMins(
      """{"drive_trigger_ms":{"x_stream_late":[732.0,290.0],"x_stream_hourly":[358.5]}}""")
    assert(trig == Map("x_stream_late" -> 290.0, "x_stream_hourly" -> 358.5))
  }

  test("parseDetailMins reads per-query run minima and floors from a detail doc") {
    val (mins, floors) = Bench.parseDetailMins(
      """{"metric":"total","value":70.0,
         "noise_floor_sec":{"q1":0.042,"q2":0.1},
         "runs":{"q1":[1.5,1.2,1.9],"q2":[0.4],"q_empty":[]},
         "failed":[]}""")
    assert(mins == Map("q1" -> 1.2, "q2" -> 0.4)) // empty runs drop
    assert(floors == Map("q1" -> 0.042, "q2" -> 0.1))
    // and the two halves compose into the breach decision
    assert(!Bench.floorBreach(1.4, mins("q1"), floors("q1")))
    assert(Bench.floorBreach(1.7, mins("q1"), floors("q1")))
  }

  test("ParseBench breach rule worked example: the r18 +31% extract trap breaches") {
    // the r18 quadratic-walk trap: extract ~5.0 → ~6.6 ms/page (+31%)
    // with a typical 0.3 ms floor — 6.6 > 1.3*5.0 + 0.3 is NOT breached
    // (1.31x sits at the ratio edge); but the floor rule still catches
    // it one round later at ANY further growth, while a clean 2x (10.0)
    // breaches immediately
    val floor = graft.html.ParseBench.summarize(
      Map("extract" -> Vector(6.6, 6.7, 6.9)))("extract")._2
    assert(10.0 > 1.3 * 5.0 + floor)
    // and a sub-floor wiggle does not breach
    assert(6.7 <= 1.3 * 6.6 + math.max(floor, 0.3))
  }
}
