package graft

import org.scalatest.funsuite.AnyFunSuite

/** ScalingBench's result records and gates: the full and compact JSON
  * lines, budget truncation, the weather filter of the paired estimator,
  * and the instrument gate that decides a re-measure.
  */
class ScalingBenchSpec extends AnyFunSuite {

  test("instrument gate is keyed only on instrument quality, never the result") {
    // clean instrument -> ship without retry (whatever efficiency measured)
    assert(ScalingBench.instrumentClean(ceilingDirty = false, hostCeiling = 0.95,
      weatherDirtyFrac = 0.0, ceilBar = 0.9))
    assert(ScalingBench.instrumentClean(ceilingDirty = false, hostCeiling = 0.9,
      weatherDirtyFrac = 0.33, ceilBar = 0.9))
    // degraded instrument -> retry, even when the measurement LOOKED fine
    assert(!ScalingBench.instrumentClean(ceilingDirty = true, hostCeiling = 0.95,
      weatherDirtyFrac = 0.0, ceilBar = 0.9)) // steal-dirty ceiling calibration
    assert(!ScalingBench.instrumentClean(ceilingDirty = false, hostCeiling = 0.85,
      weatherDirtyFrac = 0.0, ceilBar = 0.9)) // same-minute ceiling below bar
    assert(!ScalingBench.instrumentClean(ceilingDirty = false, hostCeiling = 0.95,
      weatherDirtyFrac = 0.5, ceilBar = 0.9)) // majority-ish weather-dirty samples
    // bar 0 disables the gate (the stress pair is judged vs its own ceiling)
    assert(ScalingBench.instrumentClean(ceilingDirty = true, hostCeiling = 0.1,
      weatherDirtyFrac = 1.0, ceilBar = 0.0))
  }

  test("budget-truncated probes ship flagged in both JSON forms") {
    val r = ScalingBench.Result("window_features_asof", 1000, 1000, 10.0, 3.0,
      smallRaw = Seq(10.0), bigRaw = Seq(3.0), truncated = true)
    assert(r.json.contains("\"truncated\":true"))
    assert(r.compactJson.contains("\"truncated\":true"))
    val full = r.copy(truncated = false)
    assert(!full.json.contains("truncated") && !full.compactJson.contains("truncated"))
    // absolute gauge bests ship in the full JSON, so an all-degraded run is
    // detectable downstream even though per-sample weather is relative
    assert(r.json.contains("\"gauge_best_copy\":"))
    assert(r.json.contains("\"gauge_best_boost\":"))
  }

  test("scaling Result compact JSON carries the rule fields inside the tail budget") {
    val r = ScalingBench.Result("window_features_asof", 1000, 1000, 10.0, 3.0,
      smallRaw = Seq(10.0, 10.2), bigRaw = Seq(3.0, 3.1),
      hostCeiling = 0.9, ceilingJob = "copy",
      droppedSmall = 1, droppedBig = 0)
    val c = r.compactJson
    assert(c.contains("\"efficiency\":") && c.contains("\"efficiency_paired\":"))
    assert(c.contains("\"dropped\":[1,0]") && c.contains("\"eff_vs_ceiling\":"))
    assert(c.length < 250, s"compact JSON must stay small, was ${c.length}")
    // dirty ceiling: flag ships, derived ratio does not
    val dirty = r.copy(ceilingDirty = true).compactJson
    assert(dirty.contains("\"ceiling_dirty\":true") && !dirty.contains("eff_vs_ceiling"))
    // instrument-gated retries: every non-shipped attempt is auditable in
    // the full JSON; the compact line carries only the count
    val retried = r.copy(priorAttempts = Seq((0.71, 0.85)))
    assert(retried.json.contains("\"attempts\":2") &&
      retried.json.contains("\"other_attempts\":[{\"efficiency\":0.710,\"ceiling\":0.850}]"))
    assert(retried.compactJson.contains("\"attempts\":2") &&
      !retried.compactJson.contains("other_attempts"))
    assert(r.compactJson == c, "no attempts fields when the first attempt shipped")
  }

  test("weather filter: degraded-host samples are excluded from the paired estimator") {
    // small arm: 4 samples, the first two measured while the host was
    // degraded (gauges at 0.6 of the process best) and inflated 40%; the
    // paired estimator must pair only the weather-clean tail
    val r = ScalingBench.Result("window_features_asof", 1000, 1000,
      smallSec = 40.0, bigSec = 10.0,
      smallRaw = Seq(56.0, 57.4, 40.0, 40.4), bigRaw = Seq(10.0, 10.1, 10.0, 10.1),
      smallSteal = Seq(0.0, 0.0, 0.0, 0.0), bigSteal = Seq(0.0, 0.0, 0.0, 0.0),
      smallWeather = Seq(0.6, 0.6, 1.0, 0.98), bigWeather = Seq(1.0, 1.0, 0.97, 1.0),
      weatherDroppedSmall = 2, weatherDroppedBig = 0)
    // clean pairs: (40.0/10.0), (40.4/10.1) -> ratio 4.0 -> efficiency 1.0 at 1v4...
    // nSmall/nBig come from env (2,8 default): ratio/4 regardless of pair
    assert(math.abs(r.efficiencyPaired - 1.0) < 0.01,
      s"paired estimator must use only weather-clean pairs, got ${r.efficiencyPaired}")
    assert(math.abs(r.weatherDirtyFrac - 0.25) < 1e-9)
    // audit fields ship: arrays + threshold in the full JSON, wx_dropped
    // in the compact line
    assert(r.json.contains("\"weather_small\":[0.600,0.600,1.000,0.980]"))
    assert(r.json.contains("\"weather_clean_threshold\":0.850"))
    assert(r.compactJson.contains("\"wx_dropped\":[2,0]"))
    // a fully-clean probe ships no wx_dropped field (tail budget)
    val cleanR = r.copy(smallWeather = Seq(1.0, 1.0, 1.0, 1.0),
      weatherDroppedSmall = 0)
    assert(!cleanR.compactJson.contains("wx_dropped"))
    // weather fallback: when EVERY pair is weather-dirty the estimator
    // degrades to the steal-clean set instead of returning garbage
    val allDirty = r.copy(smallWeather = Seq(0.6, 0.6, 0.6, 0.6),
      bigWeather = Seq(0.6, 0.6, 0.6, 0.6))
    val expected = {
      val ratios = Seq(56.0 / 10.0, 57.4 / 10.1, 40.0 / 10.0, 40.4 / 10.1).sorted
      (ratios(1) + ratios(2)) / 2 / 4.0
    }
    assert(math.abs(allDirty.efficiencyPaired - expected) < 0.01)
    assert(allDirty.weatherDirtyFrac == 1.0,
      "fallback must still read fully dirty in weatherDirtyFrac")
  }
}
