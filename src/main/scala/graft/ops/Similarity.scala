package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
// (hot-bucket discipline mirrors ops.Dedup: cap + audit, never silent)

/** Approximate-nearest-neighbor search over an embedding column
  * (array<float>). Brute-force cosine top-k is the exact baseline; the
  * LSH-bucketed variant is the scale path (search only within a signature
  * bucket — at 1000 executors the bucket key is the shuffle key and each
  * bucket is a small local problem).
  *
  * Dot products are computed in double with a strict left-to-right fold
  * (`aggregate`), matching DuckDB's list_inner_product order, so cosine
  * values are bit-identical across engines.
  */
object Similarity {

  import graft.functions.VectorOps.dot_f

  private def withNorm(df: DataFrame, embCol: String): DataFrame =
    df.withColumn("__n2", dot_f(col(embCol), col(embCol)))

  private def cosCol =
    dot_f(col("qe"), col("ne")) / sqrt(col("qn2") * col("nn2"))

  /** Exact top-k cosine neighbors for each query row (queries = a filtered
    * subset of the corpus; excludes self). O(|Q| * |corpus|) — the
    * correctness baseline, partitioned by broadcasting the query side.
    */
  def cosineKnnBrute(corpus: DataFrame, idCol: String, embCol: String,
      queryPred: String, k: Int): DataFrame = {
    val base = withNorm(corpus, embCol)
    val q = base.where(expr(queryPred))
      .select(col(idCol).as("qid"), col(embCol).as("qe"), col("__n2").as("qn2"))
    val n = base.select(col(idCol).as("nid"), col(embCol).as("ne"), col("__n2").as("nn2"))
    val scored = q.join(n, col("qid") =!= col("nid"))
      .withColumn("cos", cosCol)
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select("qid", "nid", "rank", "cos")
  }

  /** Bit signature from fixed coordinate comparisons: bit j = 1 iff
    * emb[p_j] > emb[q_j] for deterministic index pairs — a data-independent
    * LSH family (sign tests), no floats created, fully portable. `offset`
    * shifts the pair schedule so multiple bands draw INDEPENDENT bits.
    */
  def lshBucketExpr(embCol: String, bits: Int, dim: Int, offset: Int = 0): String =
    (0 until bits).map { j =>
      val gi = offset + j
      val p = (gi * 7) % dim + 1
      val q = (gi * 13 + 3) % dim + 1
      s"(CASE WHEN element_at($embCol, $p) > element_at($embCol, $q) THEN ${1L << j}L ELSE 0L END)"
    }.mkString(" + ")

  /** Narrow (id, table, bucket) band rows for every row of `df` — the
    * shared banded-LSH front-end ([[cosineKnnLshBanded]],
    * [[cosineNearDupPairs]]).
    */
  private[ops] def bandRows(df: DataFrame, idCol: String, embCol: String,
      bandBits: Int, nBands: Int, dim: Int, outId: String): DataFrame = {
    val structs = (0 until nBands).map { g =>
      s"struct(${g}L AS g, (${lshBucketExpr(embCol, bandBits, dim, g * bandBits)}) AS bkt)"
    }
    df.select(col(idCol).as(outId),
      explode(expr(s"array(${structs.mkString(", ")})")).as("__band"))
      .select(col(outId), col("__band.g").as("g"), col("__band.bkt").as("bkt"))
  }

  /** Corpus-side hot-bucket cap — the same discipline as
    * Dedup.minHashLshPairs (Dedup.scala maxBucket): a (table, bucket) pair
    * shared by more than `maxBucket` corpus vectors is non-discriminative
    * (at fixed bandBits, bucket population grows O(N/2^bandBits), so
    * without a cap the in-bucket pair work approaches all-pairs as the
    * corpus grows). Such buckets are dropped DETERMINISTICALLY — the same
    * rule on the oracle side — and are auditable via [[bucketAudit]], not
    * silently vanished. The query/probe side stays uncapped: a query in a
    * hot bucket simply finds no candidates there.
    */
  private def capBuckets(bands: DataFrame, maxBucket: Int): DataFrame =
    bands
      .withColumn("__bn", count(lit(1)).over(Window.partitionBy(col("g"), col("bkt"))))
      .where(col("__bn") <= maxBucket).drop("__bn")

  /** Audit table for the band-bucket cap: EVERY (table, bucket) population
    * with its drop flag — no silent truncation anywhere in the ANN /
    * near-dup family (the dropped rows are exactly `dropped = true`).
    */
  def bucketAudit(corpus: DataFrame, idCol: String, embCol: String,
      bandBits: Int = 4, nBands: Int = 12, dim: Int = 64,
      maxBucket: Int = DefaultMaxBucket): DataFrame =
    bandRows(corpus, idCol, embCol, bandBits, nBands, dim, "id")
      .groupBy(col("g"), col("bkt")).agg(count(lit(1)).as("n_vec"))
      .withColumn("dropped", col("n_vec") > maxBucket)

  /** Default corpus-side bucket cap. Sized to be inactive at healthy load
    * (uniform load at the default 16 buckets/band stays under it through
    * ~sf1) while bounding the reducer work a degenerate bucket (constant
    * embeddings, near-duplicate floods) can create: in-bucket pair work is
    * capped at maxBucket^2 regardless of corpus size. At real 100-TB
    * corpus sizes bandBits must also grow with log N —
    * [[bandBitsForCorpus]] gives the schedule — but the cap is the
    * guard-rail that holds even when it is mis-set.
    */
  val DefaultMaxBucket = 4096

  /** bandBits schedule for a corpus of `n` vectors: enough sign-test bits
    * that the EXPECTED bucket population stays near `targetBucket`
    * (2^bits ~ n / targetBucket). Callers at fixed scale can keep the
    * explicit parameter; pipelines over growing corpora derive it.
    */
  def bandBitsForCorpus(n: Long, targetBucket: Int = 256): Int = {
    require(n > 0 && targetBucket > 0)
    val needed = math.ceil(math.log(n.toDouble / targetBucket) / math.log(2.0)).toInt
    math.min(math.max(4, needed), 30)
  }

  /** Embedding-cosine NEAR-DUP pairs — the dedup-family member over the
    * embedding column: all (da < db) pairs sharing an LSH band bucket
    * (Hamming-1 multi-probe on the left side) whose exact cosine clears
    * `threshold`. Same narrow-band-rows / fetch-by-id discipline as the
    * ANN path: the only all-pairs work happens INSIDE buckets, and the
    * (g, bkt) pair is the shuffle key at scale. Deterministic (the bucket
    * schedule is fixed), so it has an exact DuckDB twin (q50).
    */
  def cosineNearDupPairs(corpus: DataFrame, idCol: String, embCol: String,
      threshold: Double, bandBits: Int = 4, nBands: Int = 12,
      dim: Int = 64, maxBucket: Int = DefaultMaxBucket): DataFrame = {
    // r6 — EMIT-ONCE band dedup (the binned interval join's trick ported
    // to banded LSH, guide §2.4 "remove shuffles outright"): the old path
    // emitted a (da, db) row for EVERY colliding (band, probe-mask) and
    // paid a full exchange to `.distinct()` them (~15M rows at sf0.1 for
    // ~1M unique pairs). Both sides now carry the PACKED whole-schedule
    // signature (nBands x bandBits sign tests in one long — band g's
    // bucket is bits [g*bandBits, (g+1)*bandBits)), and the b side adds a
    // per-id kept-band bitmask (bands where its bucket survives the cap).
    // A matched pair is emitted ONLY in its FIRST colliding kept band
    // (collision == Hamming distance <= 1 on the band's slice, exactly
    // the {0} ∪ single-bit probe-mask set), so each unique pair surfaces
    // exactly once and the distinct exchange disappears. Same pair set:
    // old = pairs with SOME kept colliding band; new emits at the MINIMAL
    // such band.
    require(bandBits * nBands <= 60, "packed signature must fit a long")
    val base = withNorm(corpus, embCol)
    val w = (1L << bandBits) - 1
    val sig = expr(lshBucketExpr(embCol, bandBits * nBands, dim, 0))
    val gRows = explode(expr(s"sequence(0L, ${nBands - 1}L)"))
    val masks = 0L +: (0 until bandBits).map(j => 1L << j)
    val a = corpus.select(col(idCol).as("da"), sig.as("__s"))
      .select(col("da"), col("__s").as("__sa"), gRows.as("g"))
      .select(col("da"), col("__sa"), col("g"),
        explode(array(masks.map(lit(_)): _*)).as("__m"))
      .select(col("da"), col("__sa"), col("g"),
        expr(s"(shiftright(__sa, CAST(g * $bandBits AS INT)) & ${w}L)")
          .bitwiseXOR(col("__m")).as("bkt"))
    val wDb = Window.partitionBy(col("db"))
    val b = corpus.select(col(idCol).as("db"), sig.as("__s"))
      .select(col("db"), col("__s").as("__sb"), gRows.as("g"))
      .withColumn("bkt", expr(s"shiftright(__sb, CAST(g * $bandBits AS INT)) & ${w}L"))
      .withColumn("__bn", count(lit(1)).over(Window.partitionBy(col("g"), col("bkt"))))
      .withColumn("__kept", sum(when(col("__bn") <= maxBucket,
        expr("shiftleft(1L, CAST(g AS INT))")).otherwise(0L)).over(wDb))
      .where(col("__bn") <= maxBucket)
      .select(col("db"), col("__sb"), col("__kept"), col("g"), col("bkt"))
    val pairs = a.join(b, Seq("g", "bkt"))
      .where(col("da") < col("db") &&
        graft.functions.VectorOps.first_colliding_band(
          col("__sa"), col("__sb"), col("__kept"), bandBits, nBands) === col("g"))
      .select("da", "db")
    val ea = base.select(col(idCol).as("da"), col(embCol).as("qe"), col("__n2").as("qn2"))
    val eb = base.select(col(idCol).as("db"), col(embCol).as("ne"), col("__n2").as("nn2"))
    pairs.join(ea, "da").join(eb, "db")
      .withColumn("cos", cosCol)
      .where(col("cos") >= threshold)
      .select("da", "db", "cos")
  }

  /** Banded (multi-table) ANN — the scale path. `nBands` independent
    * `bandBits`-bit sign-test tables; candidates = union over tables of
    * same-bucket pairs (OR-construction: recall for a neighbor whose
    * per-bit agreement probability is p is 1-(1-p^b)^g). Band rows are
    * NARROW (id, table, bucket) — the embedding vectors are fetched by id
    * AFTER the candidate pairs are deduplicated, so the g-fold explode
    * never carries payload through the shuffle. At 1000 executors the
    * (table, bucket) pair is the shuffle key; each bucket is a small local
    * problem, and b/g trade bucket sharpness against recall (measured
    * against the exact baseline by q37 / BASELINE.md — on THIS corpus the
    * neighbor/random sign-agreement margin is small because the synthetic
    * embeddings are isotropic; clustered real-world embeddings sharpen
    * both recall and pruning at the same parameters).
    */
  def cosineKnnLshBanded(corpus: DataFrame, idCol: String, embCol: String,
      queryPred: String, k: Int, bandBits: Int = 4, nBands: Int = 12,
      dim: Int = 64, multiProbe: Boolean = false,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val base = withNorm(corpus, embCol)
    def bands(df: DataFrame, outId: String): DataFrame =
      bandRows(df, idCol, embCol, bandBits, nBands, dim, outId)
    val qb0 = bands(base.where(expr(queryPred)), "qid")
    // Multi-probe (recall knob without more tables): each QUERY also looks
    // into the bandBits Hamming-1 neighbors of its bucket — a near-neighbor
    // that disagrees on exactly one of a band's sign tests still collides.
    // Query-side only: the corpus stays one row per (table, bucket), so the
    // index size is unchanged and candidate cost grows by (bandBits+1)x on
    // the (narrow) query band rows alone. Measured by q37: recall at sf0.1
    // 0.847 -> with multi-probe >= 0.9.
    val qb =
      if (!multiProbe) qb0
      else {
        val masks = 0L +: (0 until bandBits).map(j => 1L << j)
        qb0.select(col("qid"), col("g"), col("bkt"),
          explode(array(masks.map(lit(_)): _*)).as("__m"))
          .select(col("qid"), col("g"), col("bkt").bitwiseXOR(col("__m")).as("bkt"))
      }
    val nb = capBuckets(bands(base, "nid"), maxBucket)
    val pairs = qb.join(nb, Seq("g", "bkt"))
      .where(col("qid") =!= col("nid"))
      .select("qid", "nid").distinct()
    val qe = base.where(expr(queryPred))
      .select(col(idCol).as("qid"), col(embCol).as("qe"), col("__n2").as("qn2"))
    val ne = base.select(col(idCol).as("nid"), col(embCol).as("ne"), col("__n2").as("nn2"))
    val scored = pairs.join(qe, "qid").join(ne, "nid").withColumn("cos", cosCol)
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select("qid", "nid", "rank", "cos")
  }

  /** ANN: top-k cosine within the query's single LSH bucket only (the
    * sharpest/cheapest variant; see [[cosineKnnLshBanded]] for the
    * recall-controlled scale path).
    */
  def cosineKnnLsh(corpus: DataFrame, idCol: String, embCol: String,
      queryPred: String, k: Int, bits: Int = 8, dim: Int = 64): DataFrame = {
    val base = withNorm(corpus, embCol)
      .withColumn("__bkt", expr(lshBucketExpr(embCol, bits, dim)))
    val q = base.where(expr(queryPred))
      .select(col(idCol).as("qid"), col(embCol).as("qe"), col("__n2").as("qn2"),
        col("__bkt").as("qb"))
    val n = base.select(col(idCol).as("nid"), col(embCol).as("ne"), col("__n2").as("nn2"),
      col("__bkt").as("nb"))
    val scored = q.join(n, col("qb") === col("nb") && col("qid") =!= col("nid"))
      .withColumn("cos", cosCol)
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select("qid", "nid", "rank", "cos")
  }

  /** IVF cell assignment: every corpus vector -> the cell of its nearest
    * centroid by cosine (ties -> lowest centroid id). Centroids are the
    * corpus vectors picked by a DETERMINISTIC id rule (every
    * `centroidGap`-th id, first `nCells` of them) so the whole index has
    * an exact SQL twin; a production deployment swaps the rule for k-means
    * medoids without touching the search path. The centroid set has FIXED
    * size, so the assignment is a broadcast nested loop + per-row argmax:
    * a narrow map over the corpus, no shuffle — the IVF build cost at
    * 100 TB is one pass.
    *
    * `nSuper > 1` switches to the TWO-LEVEL assignment (VERDICT r4 #4:
    * under the nCells ~ sqrt(N) schedule the flat argmax is O(N*sqrt(N))
    * dot products with a sqrt(N)-sized broadcast — at 10^12 vectors the
    * ASSIGNMENT, not the search, becomes the job): the first `nSuper`
    * centroids double as super-centroids; a row is routed to its nearest
    * super-centroid (O(nSuper) dots), then argmaxes only that super-cell's
    * children — centroid i is a child of super i % nSuper (every super's
    * own index is its own child: s % nSuper == s for s < nSuper), so with
    * nSuper ~ sqrt(nCells) the per-row work drops to O(2*sqrt(nCells)) and
    * each broadcast stays at sqrt-size. Still one narrow map, no shuffle.
    * Routing is APPROXIMATE in general (the global argmax centroid may
    * live under a different super) — the standard coarse-quantizer trade,
    * compensated at search time by nProbe — and EXACT in the two anchor
    * cases Round5Spec pins: nSuper == 1 (one super owns every child) and
    * nSuper == nCells (every centroid is its own super).
    */
  def ivfAssign(corpus: DataFrame, idCol: String, embCol: String,
      nCells: Int, centroidGap: Long, nSuper: Int = 1): DataFrame = {
    val base = withNorm(corpus, embCol)
    val cents = base
      .where(col(idCol) % centroidGap === 0 && col(idCol) < lit(nCells * centroidGap))
      .select(col(idCol).as("cid"), col(embCol).as("ce"), col("__n2").as("cn2"))
    // argmax via max_by over (cosine, -cid) — ties break to the LOWEST
    // centroid id, same order as the window formulation, but the argmax is
    // a PARTIAL aggregate: the N x nCells candidate rows combine map-side
    // and only one row per vector crosses the shuffle (the window version
    // exchanged the full candidate set to sort it per vector)
    def argmaxCell(cands: DataFrame, pick: Column, score: Column): DataFrame =
      cands.groupBy(col(idCol))
        .agg(max_by(pick, struct(score, -pick)).as("__pick"))
    if (nSuper <= 1) {
      argmaxCell(
        base.join(broadcast(cents)),
        col("cid"),
        dot_f(col(embCol), col("ce")) / sqrt(col("__n2") * col("cn2")))
        .select(col(idCol).as("nid"), col("__pick").as("cell"))
    } else {
      // centroid index within the deterministic schedule; super index =
      // child index % nSuper (supers ARE the first nSuper centroids)
      val idx = (col("cid") / centroidGap).cast("long")
      val supers = cents.where(idx < nSuper)
        .select(idx.as("sid"), col("ce").as("se"), col("cn2").as("sn2"))
      val children = cents.select((idx % nSuper).as("sid"),
        col("cid"), col("ce"), col("cn2"))
      // stage 1 carries the embedding THROUGH the aggregate (first() over
      // per-group-identical values) instead of re-joining base afterwards:
      // each of the two shuffles moves exactly one row per vector
      val routed = base.join(broadcast(supers))
        .withColumn("__scos", dot_f(col(embCol), col("se")) / sqrt(col("__n2") * col("sn2")))
        .groupBy(col(idCol))
        .agg(max_by(col("sid"), struct(col("__scos"), -col("sid"))).as("sid"),
          first(col(embCol)).as(embCol), first(col("__n2")).as("__n2"))
      argmaxCell(
        routed.join(broadcast(children), "sid"),
        col("cid"),
        dot_f(col(embCol), col("ce")) / sqrt(col("__n2") * col("cn2")))
        .select(col(idCol).as("nid"), col("__pick").as("cell"))
    }
  }

  /** IVF (inverted-file) ANN — the second scale path, complementary to
    * [[cosineKnnLshBanded]]: partition the corpus into `nCells` centroid
    * cells ([[ivfAssign]]), probe each query's `nProbe` nearest cells, and
    * exactly re-rank only the vectors in probed cells. With
    * `nProbe == nCells` the result EQUALS the brute-force baseline (every
    * cell probed — the unit-test anchor); smaller nProbe trades recall for
    * a 1/nCells-ish candidate fraction.
    *
    * Scale shape: the centroid table is broadcast (fixed size); `cell` is
    * the one shuffle key (probe lists x inverted lists); candidate pairs
    * travel as narrow (qid, nid) and vectors are fetched by id after
    * dedup, exactly like the LSH path. Cell-population skew is governed by
    * the centroid-count schedule (nCells ~ sqrt N keeps expected cell size
    * ~sqrt N); unlike the banded-LSH cap, dropping a hot cell would DELETE
    * its vectors from the index (each vector lives in exactly one cell),
    * so hot cells are handled by raising nCells, not by a cap.
    */
  def cosineKnnIvf(corpus: DataFrame, idCol: String, embCol: String,
      queryPred: String, k: Int, nCells: Int = 16, nProbe: Int = 4,
      centroidGap: Long = 7L, nSuper: Int = 1): DataFrame = {
    val base = withNorm(corpus, embCol)
    val cents = base
      .where(col(idCol) % centroidGap === 0 && col(idCol) < lit(nCells * centroidGap))
      .select(col(idCol).as("cid"), col(embCol).as("ce"), col("__n2").as("cn2"))
    val inv = ivfAssign(corpus, idCol, embCol, nCells, centroidGap, nSuper)
    val q = base.where(expr(queryPred))
      .select(col(idCol).as("qid"), col(embCol).as("qe"), col("__n2").as("qn2"))
    val wp = Window.partitionBy(col("qid")).orderBy(col("__ccos").desc, col("cid"))
    val probes = q.join(broadcast(cents))
      .withColumn("__ccos", dot_f(col("qe"), col("ce")) / sqrt(col("qn2") * col("cn2")))
      .withColumn("__rn", row_number().over(wp))
      .where(col("__rn") <= nProbe)
      .select(col("qid"), col("cid").as("cell"))
    val pairs = probes.join(inv, "cell")
      .where(col("qid") =!= col("nid"))
      .select("qid", "nid").distinct()
    val ne = base.select(col(idCol).as("nid"), col(embCol).as("ne"), col("__n2").as("nn2"))
    val scored = pairs.join(q, "qid").join(ne, "nid").withColumn("cos", cosCol)
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select("qid", "nid", "rank", "cos")
  }
}
