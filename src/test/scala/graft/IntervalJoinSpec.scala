package graft

import graft.model.Synth
import graft.ops._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Generate
import org.apache.spark.sql.functions._

/** Brute-force O(n·m) oracle vs all three physical paths, all three overlap
  * modes, on seeded random intervals (SURVEY.md §5.2). Includes the
  * half-open edge contract: touching intervals must NOT match
  * (reference: src/utils/tree.rs:98 strict `start < qend && end > qstart`).
  */
class IntervalJoinSpec extends SparkSpec {
  import spark.implicits._

  // seeded deterministic fixture
  private val rnd = new scala.util.Random(42)
  private val entities = Seq("a", "b", "c")
  private val featsLocal: Seq[(String, Long, Long, Long)] = (0 until 300).map { i =>
    val s = rnd.nextInt(1000).toLong
    (entities(rnd.nextInt(3)), s, s + 1 + rnd.nextInt(60), i.toLong)
  }
  private val probesLocal: Seq[(Long, String, Long, Long)] = (0 until 200).map { i =>
    val s = rnd.nextInt(1000).toLong
    (i.toLong, entities(rnd.nextInt(3)), s, s + 1 + rnd.nextInt(80))
  }

  private lazy val feats: DataFrame =
    featsLocal.toDF("entity", "start", "end", "fid")
  private lazy val probes: DataFrame =
    probesLocal.toDF("probe_id", "entity", "start", "end")

  private def bruteForce(mode: OverlapMode): Set[(Long, Long)] =
    (for {
      (pe, pid, ps, pend) <- probesLocal.map(p => (p._2, p._1, p._3, p._4))
      (fe, fs, fend, fid) <- featsLocal
      if fe == pe
      ok = mode match {
        case Overlap        => fs < pend && fend > ps
        case Contained      => fs >= ps && fend <= pend
        case ContainsRegion => fs <= ps && fend >= pend
      }
      if ok
    } yield (pid, fid)).toSet

  private def pairs(df: DataFrame): Set[(Long, Long)] =
    df.select("probe_id", "fid").as[(Long, Long)].collect().toSet

  for (mode <- Seq(Overlap, Contained, ContainsRegion)) {
    val m = mode.toString
    test(s"binned path == brute force [$m]") {
      assert(pairs(IntervalJoin.binnedJoin(probes, feats, mode, 64L)) == bruteForce(mode))
    }
    test(s"broadcast path == brute force [$m]") {
      // two copies of the probes make the feature side the smaller one,
      // so it is the build side (the auto join tests build on the probes)
      val p2 = probes.union(probes)
      assert(BroadcastSide.planBytes(feats) < BroadcastSide.planBytes(p2))
      val (df, jobs, _) = jobsOf(IntervalJoin.join(p2, feats, mode))
      assert(jobs.isEmpty, s"the row bound decides: $jobs")
      assert(!binned(df))
      assert(pairs(df) == bruteForce(mode))
    }
    test(s"sweep path == brute force [$m]") {
      assert(pairs(IntervalJoin.sweepJoin(probes, feats, mode)) == bruteForce(mode))
    }
  }

  /** Whether `df` is the binned path's plan (it explodes bins). */
  private def binned(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.exists(_.isInstanceOf[Generate])

  for (mode <- Seq(Overlap, Contained, ContainsRegion)) {
    test(s"auto join: a driver-local side decides and collects without a job [$mode]") {
      assert(BroadcastSide.planBytes(probes) < BroadcastSide.planBytes(feats),
        "the probe side is the build side")
      val (df, jobs, _) = jobsOf(IntervalJoin.join(probes, feats, mode))
      assert(jobs.isEmpty, s"the row bound decides: $jobs")
      assert(!binned(df))
      assert(pairs(df) == bruteForce(mode))
    }
  }

  test("auto join: sides bounded above the cap are counted and stay binned") {
    // Range's row bound (1.1M) exceeds the cap, so it proves nothing
    def side(off: Long, id: String) = spark.range(0, 1100000).select(lit("a").as("entity"),
      (col("id") * 4 + off).as("start"), (col("id") * 4 + off + 2).as("end"), col("id").as(id))
    val p = side(0, "probe_id")
    val f = side(1, "fid")
    val (auto, jobs, _) = jobsOf(IntervalJoin.join(p, f, Overlap))
    assert(jobs.nonEmpty, "the sides are counted")
    assert(binned(auto))
    def digest(df: DataFrame) =
      df.agg(count(lit(1)), sum(col("probe_id") * 7 + col("fid"))).collect().toSeq
    val expected = digest(IntervalJoin.binnedJoin(p, f, Overlap))
    assert(digest(auto) == expected)
    assert(expected.head.getLong(0) == 1100000L, "probe i overlaps feature i only")
  }

  test("null entities never match, on every interval path") {
    val p = Seq[(Long, String, Long, Long)]((1L, null, 12L, 15L), (2L, "x", 12L, 15L))
      .toDF("probe_id", "entity", "start", "end")
    val f = Seq[(String, Long, Long, Long)]((null, 10L, 20L, 1L), ("x", 10L, 20L, 2L))
      .toDF("entity", "start", "end", "fid")
    // brute force with SQL equality: null = null is not true
    val expected = Set((2L, 2L))
    val paths = Seq(
      "binned" -> IntervalJoin.binnedJoin(p, f, Overlap, 16L),
      "broadcast features" -> IntervalJoin.join(p.union(p), f, Overlap),
      "broadcast probes" -> IntervalJoin.join(p, f.union(f), Overlap),
      "sweep" -> IntervalJoin.sweepJoin(p, f, Overlap))
    for ((name, df) <- paths) assert(pairs(df) == expected, name)
  }

  test("binned plan has no filter on the bin column") {
    val plan = IntervalJoin.binnedJoin(probes, feats, Overlap, 64L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("__graft_bin"), plan)
    assert(!plan.linesIterator.exists(l => l.contains("Filter") && l.contains("__graft_bin")), plan)
  }

  test("binned path emits each pair exactly once (no dedup needed)") {
    val df = IntervalJoin.binnedJoin(probes, feats, Overlap, 64L)
    assert(df.count() == df.select("probe_id", "fid").distinct().count())
  }

  test("half-open: touching intervals do NOT match") {
    val f = Seq(("x", 10L, 20L, 1L)).toDF("entity", "start", "end", "fid")
    // [20,30) and [0,10) touch [10,20) at a boundary -> NO match (tree.rs:98);
    // [19,20) and [10,11) sit just inside -> match.
    val p = Seq((1L, "x", 20L, 30L), (2L, "x", 0L, 10L), (3L, "x", 19L, 20L), (4L, "x", 10L, 11L))
      .toDF("probe_id", "entity", "start", "end")
    for (j <- Seq(IntervalJoin.binnedJoin(p, f, Overlap, 16L),
        IntervalJoin.join(p, f, Overlap),
        IntervalJoin.sweepJoin(p, f, Overlap))) {
      assert(pairs(j) == Set((3L, 1L), (4L, 1L)), "touch-at-boundary must not match")
    }
  }

  test("invert == probes minus matched") {
    val matched = bruteForce(Overlap).map(_._1)
    val inv = IntervalJoin.invert(probes, feats, Overlap, Seq("probe_id"), 64L)
      .select("probe_id").as[Long].collect().toSet
    assert(inv == probesLocal.map(_._1).toSet -- matched)
  }

  test("permutation invariance: shuffled input partitions give identical output") {
    val shuffled = probes.repartition(7, col("start"))
    assert(pairs(IntervalJoin.binnedJoin(shuffled, feats.repartition(5), Overlap, 64L)) ==
      bruteForce(Overlap))
  }

  test("skewed hot-entity input: binned and entity-hash sweep paths agree exactly") {
    val probes = Synth.skewedProbes(spark, 20000, nEntities = 16)
    val feats = Synth.featureIntervals(spark, 5000, nEntities = 16)
      .drop("group_id", "ftype", "attr")
    def rows(binSize: Long): Set[Seq[Any]] =
      IntervalJoin.sweepJoin(probes, feats, Overlap, binSize)
        .collect().map(_.toSeq).toSet
    val binned = rows(4096L)
    val entityHash = rows(1L << 40) // degenerate: one bin per entity
    assert(binned == entityHash)
    assert(binned.nonEmpty)
    // the fixture really is skewed: >= 40% of probe rows on one entity
    val hot = probes.groupBy("entity").count().orderBy(col("count").desc)
      .limit(1).as[(String, Long)].collect()(0)
    assert(hot._1 == "e00" && hot._2 >= 8000, s"hot entity: $hot")
  }
}
