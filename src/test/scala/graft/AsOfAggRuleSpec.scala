package graft

import graft.plans.AsOfAggRule
import org.apache.spark.sql.DataFrame

/** The point-in-time SQL front-end: (Aggregate over `f.t <= p.t` join)
  * re-plans onto the windowed as-of shape and returns identical results.
  */
class AsOfAggRuleSpec extends SparkSpec {
  import spark.implicits._

  private def mkProbes(n: Int, seed: Int): DataFrame =
    (0 until n).map { i =>
      val r = new scala.util.Random(seed * 1000003 + i)
      val ent: String = if (r.nextInt(15) == 0) null else s"u${r.nextInt(5)}"
      val t: java.lang.Long =
        if (r.nextInt(20) == 0) null else r.nextInt(10000).toLong
      (ent, t, i.toLong)
    }.toDF("entity", "t", "probe_id")

  private def mkFeats(n: Int, seed: Int): DataFrame =
    (0 until n).map { i =>
      val r = new scala.util.Random(seed * 2000003 + i)
      val ent: String = if (r.nextInt(15) == 0) null else s"u${r.nextInt(5)}"
      // UNIQUE t per row (i stride) so max_by ties cannot make the two
      // physical plans legitimately diverge
      val t: java.lang.Long = if (r.nextInt(25) == 0) null else 20L * i + r.nextInt(20)
      (ent, t, (i * 31L) % 997)
    }.toDF("entity", "t", "value")

  private val asofSql =
    """SELECT p.probe_id AS probe_id, max_by(f.value, f.t) AS last_value,
      |  max(f.t) AS f_t
      |FROM probes_ao p JOIN feats_ao f
      |  ON p.entity = f.entity AND f.t <= p.t
      |GROUP BY p.probe_id""".stripMargin

  // a threshold of -1 makes the rule's size guard hold on both sides
  private def withRule[T](body: => T): T = {
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ AsOfAggRule
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body
    finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ == AsOfAggRule)
    }
  }

  test("as-of aggregate rewrites to the windowed plan with identical results") {
    mkProbes(3000, 3).createOrReplaceTempView("probes_ao")
    mkFeats(800, 5).createOrReplaceTempView("feats_ao")
    val expected = spark.sql(asofSql).as[(Long, Long, Long)].collect().toSet
    withRule {
      val df = spark.sql(asofSql)
      val opt = df.queryExecution.optimizedPlan
      assert(opt.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }.isEmpty,
        s"the pair-blowup join must be gone:\n$opt")
      assert(opt.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }.nonEmpty,
        s"the windowed as-of shape must be present:\n$opt")
      val got = df.as[(Long, Long, Long)].collect()
      assert(got.length == got.toSet.size)
      assert(got.toSet == expected,
        s"asof rewrite diverged: missing=${(expected -- got.toSet).take(5)} " +
          s"extra=${(got.toSet -- expected).take(5)}")
      assert(expected.nonEmpty)
    }
  }

  test("as-of rewrite exactness on adversarial shapes (nulls, no-match probes, dup rows)") {
    // duplicate probe rows (same probe_id twice -> grouped), probes with
    // t before every feature (inner join drops them), null entity/t rows
    val p = mkProbes(1500, 11).union(mkProbes(400, 11)) // exact dup rows
    p.createOrReplaceTempView("probes_ao")
    mkFeats(500, 13).createOrReplaceTempView("feats_ao")
    val expected = spark.sql(asofSql).as[(Long, Long, Long)].collect().toSet
    withRule {
      val got = spark.sql(asofSql).as[(Long, Long, Long)].collect().toSet
      assert(got == expected,
        s"diverged: missing=${(expected -- got).take(5)} extra=${(got -- expected).take(5)}")
      assert(expected.nonEmpty)
    }
  }

  test("nullable max_by values: a NULL value at the winning t stays NULL") {
    // ADVICE r5 (high): per-column Last(v, ignoreNulls) fills returned the
    // most recent NON-null value when the value at max f.t was NULL. Every
    // third feature's value is null — with unique t per row, many probes'
    // winning feature row is a null-valued one, which the struct fill must
    // preserve as null exactly like the theta plan's max_by.
    val f = (0 until 400).map { i =>
      val ent = s"u${i % 5}"
      val t: java.lang.Long = 20L * i
      val v: java.lang.Long = if (i % 3 == 0) null else (i * 31L) % 997
      (ent, t, v)
    }.toDF("entity", "t", "value")
    f.createOrReplaceTempView("feats_ao")
    mkProbes(1500, 23).createOrReplaceTempView("probes_ao")
    val expected = spark.sql(asofSql).as[(Long, Option[Long], Long)].collect().toSet
    withRule {
      val df = spark.sql(asofSql)
      assert(df.queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }.isEmpty,
        "rewrite must engage for the nullable-value shape")
      val got = df.as[(Long, Option[Long], Long)].collect().toSet
      assert(got == expected,
        s"diverged: missing=${(expected -- got).take(5)} extra=${(got -- expected).take(5)}")
      // the discriminating population must exist: some group's winning
      // value IS null (otherwise this test proves nothing)
      assert(expected.exists(_._2.isEmpty), "fixture must produce null winners")
    }
  }

  test("guards: strict <, count(*), extra conjuncts, feature-side keys do not rewrite") {
    mkProbes(300, 17).createOrReplaceTempView("probes_ao")
    mkFeats(200, 19).createOrReplaceTempView("feats_ao")
    val noRewrite = Seq(
      // strict < (different tie semantics — must not engage)
      """SELECT p.probe_id, max_by(f.value, f.t) AS v FROM probes_ao p
        |JOIN feats_ao f ON p.entity = f.entity AND f.t < p.t
        |GROUP BY p.probe_id""".stripMargin,
      // count(*) counts PAIRS — not derivable from fills
      """SELECT p.probe_id, max_by(f.value, f.t) AS v, count(*) AS n
        |FROM probes_ao p JOIN feats_ao f
        |ON p.entity = f.entity AND f.t <= p.t
        |GROUP BY p.probe_id""".stripMargin,
      // extra cross-side conjunct beyond the pattern
      """SELECT p.probe_id, max_by(f.value, f.t) AS v FROM probes_ao p
        |JOIN feats_ao f ON p.entity = f.entity AND f.t <= p.t
        |  AND f.value < p.probe_id + 1000000
        |GROUP BY p.probe_id""".stripMargin,
      // group key on the feature side
      """SELECT f.value AS v, max(f.t) AS mt FROM probes_ao p
        |JOIN feats_ao f ON p.entity = f.entity AND f.t <= p.t
        |GROUP BY f.value""".stripMargin)
    withRule {
      for (sqlText <- noRewrite) {
        val opt = spark.sql(sqlText).queryExecution.optimizedPlan
        assert(opt.collect {
          case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }.nonEmpty,
          s"must NOT rewrite:\n$sqlText\n$opt")
      }
      // ... while the canonical pattern in the same session does rewrite
      val opt = spark.sql(asofSql).queryExecution.optimizedPlan
      assert(opt.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }.isEmpty)
    }
  }
}
