package graft

import graft.ops.Similarity
import org.apache.spark.sql.functions._

/** Near-duplicate pairs, banded-LSH kNN and IVF kNN against brute force:
  * multi-probe recall, the hot-bucket cap (the Dedup.maxBucket discipline)
  * and its audit table, and the flat and two-level IVF assignments.
  */
class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("ANN multi-probe recall >= single-probe recall against the exact baseline") {
    // deterministic pseudo-embeddings with planted near-duplicates
    val base = spark.range(300)
      .select(col("id").as("vec_id"),
        expr("transform(sequence(0, 15), j -> CAST(CAST(pmod(xxhash64(id DIV 3, j), 1000) AS DOUBLE) / 1000.0 - 0.5 AS FLOAT))")
          .as("embedding"))
    def hits(multi: Boolean): Long = {
      val brute = Similarity.cosineKnnBrute(base, "vec_id", "embedding", "vec_id % 10 = 0", 3)
        .select("qid", "nid")
      val lsh = Similarity.cosineKnnLshBanded(base, "vec_id", "embedding",
        "vec_id % 10 = 0", 3, bandBits = 4, nBands = 6, dim = 16, multiProbe = multi)
        .select("qid", "nid")
      brute.join(lsh, Seq("qid", "nid"), "left_semi").count()
    }
    val single = hits(multi = false)
    val multi = hits(multi = true)
    assert(multi >= single,
      s"Hamming-1 probing widens the candidate set, never narrows it ($multi vs $single)")
    assert(multi > 0)
  }

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

  // two-level IVF assignment: nSuper super-centroids route each vector to
  // the children of its nearest one (the flat argmax is O(N*nCells))
  private def assignMap(nSuper: Int): Map[Long, Long] =
    Similarity.ivfAssign(ivfCorpus, "vec_id", "embedding", 8, 5L, nSuper)
      .as[(Long, Long)].collect().toMap

  test("two-level IVF: nSuper == 1 and nSuper == nCells reproduce the flat assignment") {
    val flat = assignMap(1)
    assert(flat.size == 120)
    // nSuper == nCells: every centroid is its own (only) child, so routing
    // IS the global argmax — must equal flat exactly
    assert(assignMap(8) == flat)
  }

  test("two-level IVF routing (nSuper = 4) matches a driver-side reference") {
    // independent reference: replicate VectorOps.dotDouble's strict
    // left-to-right double accumulation and the (cos desc, id asc)
    // tie-break on collected rows
    val rows = ivfCorpus.as[(Long, Array[Float])].collect().toMap
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < math.min(a.length, b.length)) {
        acc += a(i).toDouble * b(i).toDouble; i += 1
      }
      acc
    }
    def cos(a: Array[Float], b: Array[Float]): Double =
      dot(a, b) / math.sqrt(dot(a, a) * dot(b, b))
    val cents = (0 until 8).map(i => (i.toLong, rows(i * 5L))) // (idx, vec)
    def argmax(cands: Seq[(Long, Array[Float])], v: Array[Float]): Long =
      cands.map { case (id, c) => (cos(v, c), id) }
        .maxBy { case (s, id) => (s, -id) }._2
    val expected = rows.map { case (id, v) =>
      val sid = argmax(cents.take(4), v)                    // route: 4 supers
      val children = cents.filter(_._1 % 4 == sid)          // their children
      id -> argmax(children, v) * 5L                        // cell = centroid id
    }
    assert(assignMap(4) == expected)
  }

  test("two-level IVF search with nProbe == nCells still equals brute force") {
    // whatever the (approximate) routing did, probing every cell recovers
    // the exact result — the anchor holds for the two-level index too
    val brute = Similarity.cosineKnnBrute(ivfCorpus, "vec_id", "embedding",
      "vec_id % 11 = 0", 3)
      .select("qid", "nid", "rank").as[(Long, Long, Long)].collect().toSet
    val ivf = Similarity.cosineKnnIvf(ivfCorpus, "vec_id", "embedding",
      "vec_id % 11 = 0", 3, nCells = 8, nProbe = 8, centroidGap = 5L, nSuper = 4)
      .select("qid", "nid", "rank").as[(Long, Long, Long)].collect().toSet
    assert(ivf == brute)
  }

  test("two-level IVF: every vector lands in exactly one existing cell") {
    val assign = assignMap(4)
    assert(assign.size == 120)
    val validCids = (0 until 8).map(_ * 5L).toSet
    assert(assign.values.toSet.subsetOf(validCids))
    // SUPER-centroids self-assign (they route to themselves at cos = 1 and
    // are their own child). A non-super centroid may legitimately land
    // elsewhere — its nearest super need not be the one that owns it under
    // the modular grouping; that approximation is the coarse-quantizer
    // trade the reference-match test above pins exactly.
    (0 until 4).map(_ * 5L).foreach(cid =>
      assert(assign(cid) == cid, s"super-centroid $cid must self-assign"))
  }
}
