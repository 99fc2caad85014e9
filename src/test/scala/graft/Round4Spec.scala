package graft

import graft.ops.Similarity
import org.apache.spark.sql.functions._

/** Round-4 additions: the Similarity band-join hot-bucket cap (the
  * Dedup.maxBucket discipline ported to the ANN/near-dup family — VERDICT
  * r3 "what's wrong" #4) and its audit table.
  */
class Round4Spec extends SparkSpec {
  import spark.implicits._

  // 40 near-identical vectors (one dominant coordinate pattern) — every
  // band hashes them into the SAME bucket — plus 8 scattered ones.
  private lazy val flooded = {
    val hot = (0 until 40).map { i =>
      (i.toLong, Array.tabulate(64)(j => (j % 7).toFloat + i * 1e-4f))
    }
    val cold = (100 until 108).map { i =>
      val rnd = new scala.util.Random(i * 31)
      (i.toLong, Array.fill(64)(rnd.nextFloat()))
    }
    (hot ++ cold).toDF("vec_id", "embedding")
  }

  test("near-dup pairs: hot buckets past maxBucket are dropped, and only those") {
    val uncapped = Similarity.cosineNearDupPairs(flooded, "vec_id", "embedding",
      0.99, maxBucket = 10000)
      .select("da", "db").as[(Long, Long)].collect().toSet
    // the 40 near-identical vectors all pair up above 0.99 cosine
    assert(uncapped.size >= 40 * 39 / 2, s"expected hot clique, got ${uncapped.size}")
    val capped = Similarity.cosineNearDupPairs(flooded, "vec_id", "embedding",
      0.99, maxBucket = 16)
      .select("da", "db").as[(Long, Long)].collect().toSet
    assert(capped.isEmpty,
      s"every band bucket of the hot clique holds 40 > 16 vectors -> no pairs; got $capped")
  }

  test("near-dup pairs: a pair kept only in band 32 or later is found") {
    // bandBits = 1: band g is one sign test; band 32 tests e(32) > e(35)
    // (0-based). Vectors 0 and 1 share that bucket alone; three fillers
    // differ only there, so every band below 32 holds all five vectors,
    // over maxBucket = 2. The only kept band of vectors 0 and 1 is 32.
    def vec(swap: Boolean) = Array.tabulate(64) { j =>
      j match {
        case 4  => -10f // band 5 tests e(35) > e(4): 1 for all five
        case 55 => 10f // band 17 tests e(55) > e(32): 1 for all five
        case 32 => if (swap) 0f else 1f
        case 35 => if (swap) 1f else 0f
        case _  => (j % 5).toFloat
      }
    }
    val corpus = ((0L, vec(false)) +: (1L, vec(false)) +: (2L to 4L).map(i => (i, vec(true))))
      .toDF("vec_id", "embedding")
    val got = Similarity.cosineNearDupPairs(corpus, "vec_id", "embedding", 0.9,
      bandBits = 1, nBands = 33, maxBucket = 2)
      .select("da", "db").as[(Long, Long)].collect().toSet
    assert(got == Set((0L, 1L)))
  }

  test("bucket audit flags exactly the over-populated buckets (no silent truncation)") {
    val audit = Similarity.bucketAudit(flooded, "vec_id", "embedding", maxBucket = 16)
      .select("g", "bkt", "n_vec", "dropped")
      .as[(Long, Long, Long, Boolean)].collect()
    assert(audit.forall { case (_, _, n, d) => d == (n > 16) })
    assert(audit.count(_._4) >= 12, "each of the 12 bands has one 40-vector bucket")
    // audit populations account for every (vector, band) row
    assert(audit.map(_._3).sum == 48L * 12)
  }

  test("banded knn respects the corpus-side cap; query side stays uncapped") {
    val knnCapped = Similarity.cosineKnnLshBanded(flooded, "vec_id", "embedding",
      "vec_id < 2", 3, multiProbe = true, maxBucket = 16)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    // hot-clique neighbors live only in dropped buckets -> no candidates
    assert(knnCapped.forall { case (_, nid) => nid >= 100 },
      s"capped corpus buckets must not supply candidates: $knnCapped")
    val knnOpen = Similarity.cosineKnnLshBanded(flooded, "vec_id", "embedding",
      "vec_id < 2", 3, multiProbe = true, maxBucket = 10000)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    assert(knnOpen.exists { case (_, nid) => nid < 100 })
  }

  test("bandBits schedule grows with corpus size, floored and capped") {
    assert(Similarity.bandBitsForCorpus(1000) == 4) // floor
    assert(Similarity.bandBitsForCorpus(1000000, 256) == 12)
    assert(Similarity.bandBitsForCorpus(1000000000000L, 256) == 30) // cap
    assert(Similarity.bandBitsForCorpus(1L << 40, 256) <= 30)
  }

  // deterministic pseudo-embedding corpus for the IVF tests: 120 vectors,
  // clustered by id DIV 5 so with centroidGap = 5 every centroid sits in a
  // DISTINCT cluster (identical centroid vectors would tie and self-assign
  // to the lowest cid — correct, but it would muddy the assertions)
  private lazy val ivfCorpus = spark.range(120)
    .select(col("id").as("vec_id"),
      expr("transform(sequence(0, 63), j -> CAST(CAST(pmod(xxhash64(id DIV 5, j), 1000) AS DOUBLE) / 1000.0 - 0.5 AS FLOAT))")
        .as("embedding"))

  test("IVF with nProbe == nCells equals the brute-force baseline exactly") {
    val brute = Similarity.cosineKnnBrute(ivfCorpus, "vec_id", "embedding",
      "vec_id % 11 = 0", 3)
      .select("qid", "nid", "rank").as[(Long, Long, Long)].collect().toSet
    val ivfAll = Similarity.cosineKnnIvf(ivfCorpus, "vec_id", "embedding",
      "vec_id % 11 = 0", 3, nCells = 8, nProbe = 8, centroidGap = 5L)
      .select("qid", "nid", "rank").as[(Long, Long, Long)].collect().toSet
    assert(ivfAll == brute,
      s"probing every cell must recover the exact result: ${ivfAll.diff(brute)} / ${brute.diff(ivfAll)}")
  }

  test("IVF assignment: every vector lands in exactly one existing cell") {
    val assign = Similarity.ivfAssign(ivfCorpus, "vec_id", "embedding", 8, 5L)
      .as[(Long, Long)].collect()
    assert(assign.length == 120, "one row per corpus vector")
    assert(assign.map(_._1).distinct.length == 120)
    val cells = assign.map(_._2).toSet
    val validCids = (0 until 8).map(_ * 5L).toSet
    assert(cells.subsetOf(validCids), s"cells must be centroid ids: $cells")
    // a centroid is its own nearest centroid (cos = 1 with itself)
    validCids.foreach { cid =>
      assert(assign.toMap.apply(cid) == cid, s"centroid $cid must self-assign")
    }
  }

  test("IVF at nProbe < nCells: neighbors drawn from at most nProbe cells per query") {
    val part = Similarity.cosineKnnIvf(ivfCorpus, "vec_id", "embedding",
      "vec_id % 11 = 0", 3, nCells = 8, nProbe = 2, centroidGap = 5L)
      .select("qid", "nid").as[(Long, Long)].collect()
    assert(part.nonEmpty)
    val assign = Similarity.ivfAssign(ivfCorpus, "vec_id", "embedding", 8, 5L)
      .as[(Long, Long)].collect().toMap
    part.groupBy(_._1).foreach { case (qid, ns) =>
      val cells = ns.map { case (_, nid) => assign(nid) }.toSet
      assert(cells.size <= 2,
        s"query $qid drew neighbors from ${cells.size} > nProbe cells: $cells")
    }
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
