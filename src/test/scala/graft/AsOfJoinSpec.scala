package graft

import graft.ops.AsOfJoin
import org.apache.spark.sql.functions._

/** As-of join semantics: strict t' <= t (zero leakage), both physical
  * paths vs a brute-force oracle; equal-timestamp visibility.
  */
class AsOfJoinSpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new scala.util.Random(7)
  private val ents = Seq("u1", "u2", "u3")
  // unique (entity, t) on the feature side (the windowed-path contract)
  private val featsLocal: Seq[(String, Long, Long)] =
    (for (e <- ents; t <- 0 until 500 if rnd.nextInt(4) == 0)
      yield (e, t.toLong * 10, rnd.nextInt(1000).toLong))
  private val probesLocal: Seq[(String, Long, Long)] = (0 until 400).map { i =>
    (ents(rnd.nextInt(3)), rnd.nextInt(5200).toLong, i.toLong)
  }

  private lazy val feats = featsLocal.toDF("entity", "t", "v")
  private lazy val probes = probesLocal.toDF("entity", "t", "probe_id")

  private def oracle: Map[Long, Option[(Long, Long)]] =
    probesLocal.map { case (e, t, pid) =>
      val cand = featsLocal.filter(f => f._1 == e && f._2 <= t)
      pid -> (if (cand.isEmpty) None else Some {
        val best = cand.maxBy(_._2)
        (best._2, best._3)
      })
    }.toMap

  private def run(df: org.apache.spark.sql.DataFrame): Map[Long, Option[(Long, Long)]] =
    df.select(col("probe_id"), col("f_t"), col("v")).collect().map { r =>
      r.getLong(0) -> (if (r.isNullAt(1)) None else Some((r.getLong(1), r.getLong(2))))
    }.toMap

  test("windowed path == brute-force as-of (strict t'<=t)") {
    assert(run(AsOfJoin.windowed(probes, feats)) == oracle)
  }

  test("broadcast path == brute-force as-of") {
    val (df, jobs, _) = jobsOf(AsOfJoin.join(probes, feats))
    assert(jobs.isEmpty, s"a driver-local feature side decides and collects without a job: $jobs")
    assert(!df.queryExecution.executedPlan.toString.contains("Window"))
    assert(run(df) == oracle)
  }

  test("auto path == brute-force as-of (routes small feature side to broadcast)") {
    val auto = AsOfJoin.join(probes, feats)
    assert(run(auto) == oracle)
    // a provably-small feature side must take the zero-shuffle broadcast
    // path (mapPartitions plan), not the union-window merge
    assert(!auto.queryExecution.executedPlan.toString.contains("Window"),
      "small side should broadcast, not window")
  }

  test("broadcast path finds entity and t by name when the probe frame starts with event_id") {
    val p = probesLocal.map { case (e, t, pid) => (pid, e, t) }.toDF("event_id", "entity", "t")
    def byEvent(df: org.apache.spark.sql.DataFrame) =
      df.select(col("event_id"), col("f_t"), col("v")).collect().map { r =>
        r.getLong(0) -> (if (r.isNullAt(1)) None else Some((r.getLong(1), r.getLong(2))))
      }.toMap
    val want = byEvent(AsOfJoin.windowed(p, feats))
    assert(want.values.count(_.nonEmpty) > 300)
    val (df, jobs, _) = jobsOf(AsOfJoin.join(p, feats))
    assert(jobs.isEmpty, s"a driver-local feature side decides and collects without a job: $jobs")
    assert(!df.queryExecution.executedPlan.toString.contains("Window"))
    assert(byEvent(df) == want)
    // both paths return the probe's columns in its own order, then f_t, then the values
    val cols = Seq("event_id", "entity", "t", "f_t", "v")
    assert(AsOfJoin.windowed(p, feats).columns.toSeq == cols)
    assert(df.columns.toSeq == cols)
  }

  test("a null entity or a null time never matches, on both paths") {
    val f = Seq[(String, java.lang.Long, Long)](("u", 10L, 1L), ("u", null, 2L),
      (null, 5L, 3L), ("w", 50L, 4L)).toDF("entity", "t", "v")
    val p = Seq[(Long, String, java.lang.Long)]((1L, "u", 20L), (2L, null, 20L),
      (3L, "u", null), (4L, "w", 7L), (5L, "u", 8L)).toDF("probe_id", "entity", "t")
    // brute force under SQL equality: a null never equals or orders
    val fl = f.as[(Option[String], Option[Long], Long)].collect()
    val want = p.as[(Long, Option[String], Option[Long])].collect().map { case (pid, e, t) =>
      val cand = fl.collect { case (Some(fe), Some(ft), v)
        if e.contains(fe) && t.exists(ft <= _) => (ft, v) }
      val best = cand.maxByOption(_._1)
      pid -> (best.map(_._1), best.map(_._2))
    }.toMap
    assert(want == Map(1L -> (Some(10L), Some(1L))) ++ (2L to 5L).map(_ -> (None, None)))
    // f_t and v read separately: a miss must null both
    def got(df: org.apache.spark.sql.DataFrame) =
      df.select("probe_id", "f_t", "v").as[(Long, Option[Long], Option[Long])].collect()
        .map { case (pid, ft, v) => pid -> (ft, v) }.toMap
    assert(got(AsOfJoin.windowed(p, f)) == want)
    val (df, jobs, _) = jobsOf(AsOfJoin.join(p, f))
    assert(jobs.isEmpty, s"a driver-local feature side decides and collects without a job: $jobs")
    assert(!df.queryExecution.executedPlan.toString.contains("Window"))
    assert(got(df) == want)
  }

  test("equal timestamps are visible (t'=t counts, zero leakage beyond)") {
    val f = Seq(("e", 100L, 1L), ("e", 200L, 2L)).toDF("entity", "t", "v")
    val p = Seq(("e", 99L, 1L), ("e", 100L, 2L), ("e", 199L, 3L), ("e", 200L, 4L))
      .toDF("entity", "t", "probe_id")
    val got = run(AsOfJoin.windowed(p, f))
    assert(got(1L).isEmpty, "no feature before t=99")
    assert(got(2L).contains((100L, 1L)), "t'=t visible")
    assert(got(3L).contains((100L, 1L)), "future feature (t'=200) must NOT leak")
    assert(got(4L).contains((200L, 2L)))
  }

  test("leakage property: recompute from only rows with t'<=t matches (north_rule)") {
    val full = run(AsOfJoin.windowed(probes, feats))
    // for every probe, filter the feature table to t' <= probe.t and re-run singly
    val sample = probesLocal.sortBy(_._3).take(20)
    for ((e, t, pid) <- sample) {
      val filtered = featsLocal.filter(_._2 <= t).toDF("entity", "t", "v")
      val single = Seq((e, t, pid)).toDF("entity", "t", "probe_id")
      assert(run(AsOfJoin.windowed(single, filtered))(pid) == full(pid),
        s"probe $pid differs when future rows removed -> leakage")
    }
  }
}
