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
    assert(run(AsOfJoin.broadcastPath(probes, feats)) == oracle)
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
    assert(byEvent(AsOfJoin.broadcastPath(p, feats)) == want)
    assert(byEvent(AsOfJoin.join(p, feats)) == want)
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
