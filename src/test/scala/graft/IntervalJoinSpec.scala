package graft

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
      assert(pairs(IntervalJoin.broadcastJoin(probes, feats, mode)) == bruteForce(mode))
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
        IntervalJoin.broadcastJoin(p, f, Overlap),
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
}
