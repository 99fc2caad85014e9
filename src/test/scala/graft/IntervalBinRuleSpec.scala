package graft

import graft.plans.IntervalBinRule
import org.apache.spark.sql.functions._

/** The SQL front-end rule: ad-hoc interval theta joins re-plan onto the
  * binned (entity, bin) equi-join and return byte-identical results.
  */
class IntervalBinRuleSpec extends SparkSpec {
  import spark.implicits._

  private def fixture() = {
    val a = (0 until 2000).map { i =>
      (s"e${i % 7}", (i * 131L) % 50000, (i * 131L) % 50000 + 40 + i % 300, i.toLong)
    }.toDF("entity", "start", "end", "probe_id")
    val b = (0 until 1500).map { i =>
      (s"e${i % 7}", (i * 173L) % 50000, (i * 173L) % 50000 + 25 + i % 500, i.toLong)
    }.toDF("entity", "start", "end", "fid")
    (a, b)
  }

  test("theta-join pattern rewrites to (entity, bin) equi-join with identical results") {
    val (a, b) = fixture()
    a.createOrReplaceTempView("probes_r")
    b.createOrReplaceTempView("feats_r")
    val sqlText =
      """SELECT p.probe_id, f.fid
        |FROM probes_r p JOIN feats_r f
        |  ON p.entity = f.entity AND p.start < f.end AND p.end > f.start""".stripMargin
    val before = spark.sql(sqlText).as[(Long, Long)].collect().toSet
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ IntervalBinRule
    try {
      // force the both-sides-big branch at fixture scale
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val df = spark.sql(sqlText)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("__graft_bin"),
        s"rewrite must engage (bin attr in physical plan); got:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
        "the quadratic physical join must be gone")
      // the rewritten join must take the kernel's shuffle-merge path: the
      // few-distinct-keys/many-duplicates shape makes a broadcast-hash
      // plan walk the hashed relation's duplicate chain per streamed row
      // (measured 33x slower than sort-merge on q53 at sf0.1)
      assert(plan.contains("SortMergeJoin"),
        s"rewritten binned join must be a shuffle-merge join; got:\n$plan")
      val after = df.as[(Long, Long)].collect().toSet
      assert(after == before, "rewritten plan must return the identical pair set")
      assert(after.nonEmpty)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ == IntervalBinRule)
    }
  }

  test("adversarial inputs: nulls, empty/inverted intervals, bin-boundary and multi-bin spans") {
    // every degenerate shape the emit-once proof has to survive:
    //  - start/end exactly on the 8192 bin boundary
    //  - empty (start == end) and INVERTED (end < start) intervals
    //  - intervals spanning dozens of bins (heavy replication + dedup)
    //  - null entity / null coordinates (theta join drops them; the
    //    rewrite must too — explode(sequence(null,..)) emits no row)
    def mkRows(n: Int, seed: Int) = (0 until n).map { i =>
      val r = new scala.util.Random(seed * 1000003 + i)
      val s: java.lang.Long = r.nextInt(10) match {
        case 0 => null
        case 1 => (r.nextInt(6).toLong) * 8192L // exact boundary
        case _ => r.nextInt(50000).toLong
      }
      val e: java.lang.Long =
        if (s == null) java.lang.Long.valueOf(r.nextInt(50000).toLong)
        else r.nextInt(10) match {
          case 0 => s // empty
          case 1 => java.lang.Long.valueOf(s - 1 - r.nextInt(3000)) // inverted
          case 2 => null
          case 3 => java.lang.Long.valueOf(s + 8192L * (1 + r.nextInt(30))) // multi-bin
          case _ => java.lang.Long.valueOf(s + 1 + r.nextInt(4000))
        }
      val ent: String = if (r.nextInt(12) == 0) null else s"e${r.nextInt(4)}"
      (ent, s, e, i.toLong)
    }
    mkRows(1200, 7).toDF("entity", "start", "end", "probe_id")
      .createOrReplaceTempView("probes_adv")
    mkRows(900, 13).toDF("entity", "start", "end", "fid")
      .createOrReplaceTempView("feats_adv")
    val sqlText =
      """SELECT p.probe_id, f.fid FROM probes_adv p JOIN feats_adv f
        |  ON p.entity = f.entity AND p.start < f.end AND p.end > f.start""".stripMargin
    val expected = spark.sql(sqlText).as[(Long, Long)].collect().toSet
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ IntervalBinRule
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val df = spark.sql(sqlText)
      assert(df.queryExecution.executedPlan.toString.contains("__graft_bin"))
      val got = df.as[(Long, Long)].collect()
      assert(got.length == got.toSet.size, "exactly-once emit must not duplicate pairs")
      assert(got.toSet == expected,
        s"rewrite diverged: missing=${(expected -- got.toSet).take(5)} " +
          s"extra=${(got.toSet -- expected).take(5)}")
      assert(expected.nonEmpty)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ == IntervalBinRule)
    }
  }

  test("containment pattern (Contained + ContainsRegion) rewrites with identical results") {
    val (a, b) = fixture()
    a.createOrReplaceTempView("probes_c")
    b.createOrReplaceTempView("feats_c")
    // Contained: probe within feature (>=/<= conjuncts, inner = left) —
    // and ContainsRegion: feature within probe (inner = right)
    val contained =
      """SELECT p.probe_id, f.fid FROM probes_c p JOIN feats_c f
        |  ON p.entity = f.entity AND p.start >= f.start AND p.end <= f.end""".stripMargin
    val contains =
      """SELECT p.probe_id, f.fid FROM probes_c p JOIN feats_c f
        |  ON p.entity = f.entity AND f.start >= p.start AND f.end <= p.end""".stripMargin
    val expContained = spark.sql(contained).as[(Long, Long)].collect().toSet
    val expContains = spark.sql(contains).as[(Long, Long)].collect().toSet
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ IntervalBinRule
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      for ((sqlText, exp) <- Seq((contained, expContained), (contains, expContains))) {
        val df = spark.sql(sqlText)
        val plan = df.queryExecution.executedPlan.toString
        assert(plan.contains("__graft_bin"), s"containment rewrite must engage:\n$plan")
        assert(plan.contains("SortMergeJoin"),
          s"containment binned join must be a shuffle-merge join; got:\n$plan")
        val got = df.as[(Long, Long)].collect()
        assert(got.length == got.toSet.size, "exactly-once emit must not duplicate pairs")
        assert(got.toSet == exp,
          s"containment rewrite diverged: missing=${(exp -- got.toSet).take(5)} " +
            s"extra=${(got.toSet -- exp).take(5)}")
        assert(exp.nonEmpty)
      }
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ == IntervalBinRule)
    }
  }

  test("containment adversarial: degenerate/inverted/null intervals stay exact") {
    // empty (start == end) and inverted (end < start) rows satisfy the
    // raw >=/<= arithmetic with unbounded start; sequence() descends for
    // them, and the generalized emit-once bin (greatest of the two sides'
    // lower bin ends) must keep the single binned join equal to the plain
    // theta join bit-for-bit with no duplicates
    def mkRows(n: Int, seed: Int) = (0 until n).map { i =>
      val r = new scala.util.Random(seed * 2000003 + i)
      val s: java.lang.Long = r.nextInt(10) match {
        case 0 => null
        case 1 => (r.nextInt(6).toLong) * 8192L
        case _ => r.nextInt(50000).toLong
      }
      val e: java.lang.Long =
        if (s == null) java.lang.Long.valueOf(r.nextInt(50000).toLong)
        else r.nextInt(10) match {
          case 0 => s // empty: start == end
          case 1 => java.lang.Long.valueOf(s - 1 - r.nextInt(30000)) // inverted
          case 2 => null
          case 3 => java.lang.Long.valueOf(s + 8192L * (1 + r.nextInt(30)))
          case _ => java.lang.Long.valueOf(s + 1 + r.nextInt(4000))
        }
      val ent: String = if (r.nextInt(12) == 0) null else s"e${r.nextInt(4)}"
      (ent, s, e, i.toLong)
    }
    mkRows(1200, 19).toDF("entity", "start", "end", "probe_id")
      .createOrReplaceTempView("probes_cadv")
    mkRows(900, 23).toDF("entity", "start", "end", "fid")
      .createOrReplaceTempView("feats_cadv")
    val sqlText =
      """SELECT p.probe_id, f.fid FROM probes_cadv p JOIN feats_cadv f
        |  ON p.entity = f.entity AND p.start >= f.start AND p.end <= f.end""".stripMargin
    val expected = spark.sql(sqlText).as[(Long, Long)].collect().toSet
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ IntervalBinRule
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val df = spark.sql(sqlText)
      val plan = df.queryExecution.optimizedPlan.toString
      assert(plan.contains("__graft_bin"), "binned rewrite must engage")
      // the retired residue design re-matched itself to a 1547-node plan;
      // the single-join rewrite must stay a single join
      val joins = df.queryExecution.optimizedPlan.collect {
        case jn: org.apache.spark.sql.catalyst.plans.logical.Join => jn }
      assert(joins.length == 1, s"rewrite must not self-replicate: ${joins.length} joins")
      val got = df.as[(Long, Long)].collect()
      assert(got.length == got.toSet.size, "emit-once must not duplicate pairs")
      assert(got.toSet == expected,
        s"containment diverged on degenerates: missing=${(expected -- got.toSet).take(5)} " +
          s"extra=${(got.toSet -- expected).take(5)}")
      assert(expected.nonEmpty)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ == IntervalBinRule)
    }
  }

  test("containment guards: half patterns and same-side conjuncts do not rewrite") {
    val (a, b) = fixture()
    a.createOrReplaceTempView("probes_g")
    b.createOrReplaceTempView("feats_g")
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ IntervalBinRule
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val noFire = Seq(
        // one non-strict conjunct only — no containment pair
        """SELECT p.probe_id, f.fid FROM probes_g p JOIN feats_g f
          |  ON p.entity = f.entity AND p.start >= f.start""".stripMargin,
        // both ge-conjuncts have the big expr on the SAME side: this is
        // p.start >= f.start AND p.end >= f.end, not a containment
        """SELECT p.probe_id, f.fid FROM probes_g p JOIN feats_g f
          |  ON p.entity = f.entity AND p.start >= f.start AND p.end >= f.end""".stripMargin,
        // no entity equality
        """SELECT p.probe_id, f.fid FROM probes_g p JOIN feats_g f
          |  ON p.start >= f.start AND p.end <= f.end""".stripMargin)
      for (s <- noFire)
        assert(!spark.sql(s).queryExecution.optimizedPlan.toString.contains("__graft_bin"),
          s"rule must NOT fire for:\n$s")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ == IntervalBinRule)
    }
  }

  test("the engine's own binned kernel joins are never re-rewritten (force flag on)") {
    // q53/q55 set spark.graft.intervalBin.force for their session, so every
    // LATER query's plan meets this rule with the guard forced open; once
    // filter pushdown folds the kernel's mode predicate into its
    // (entity, __bin) equi-join the condition matches the containment
    // pattern, and re-binning it doubled the plan per kernel join until the
    // optimizer crawled (observed: 20-min ColumnPruning stall on q35)
    val (a, b) = fixture()
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ IntervalBinRule
    try {
      spark.conf.set("spark.graft.intervalBin.force", "1")
      for (mode <- Seq(graft.ops.Contained, graft.ops.Overlap)) {
        val df = graft.ops.IntervalJoin.binnedJoin(
          a.withColumnRenamed("probe_id", "pid"), b.withColumnRenamed("fid", "xid"),
          mode, 1024L)
        val plan = df.queryExecution.optimizedPlan
        // one bin explode per side: the kernel's join is binned once
        assert(plan.collect { case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g }
          .length == 2, s"rule must not touch the kernel's own binned join ($mode):\n$plan")
      }
    } finally {
      spark.conf.set("spark.graft.intervalBin.force", "0")
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ == IntervalBinRule)
    }
  }

  test("broadcastable side leaves the plan alone; extra conjuncts are preserved") {
    val (a, b) = fixture()
    a.createOrReplaceTempView("probes_r")
    b.createOrReplaceTempView("feats_r")
    // computed before the rule is installed: Spark's own plan
    val expected = a.as("p").join(b.as("f"),
      $"p.entity" === $"f.entity" && $"p.start" < $"f.end" && $"p.end" > $"f.start" &&
        $"p.probe_id" % 3 === $"f.fid" % 3)
      .select($"p.probe_id", $"f.fid").as[(Long, Long)].collect().toSet
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ IntervalBinRule
    try {
      // default threshold (10 MB): tiny local fixtures stay broadcastable,
      // the guard holds and the rule must not fire
      val small = spark.sql(
        """SELECT p.probe_id, f.fid FROM probes_r p JOIN feats_r f
          |  ON p.entity = f.entity AND p.start < f.end AND p.end > f.start""".stripMargin)
      assert(!small.queryExecution.executedPlan.toString.contains("__graft_bin"))
      // with the rewrite forced on, an EXTRA predicate survives verbatim
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val extra = spark.sql(
        """SELECT p.probe_id, f.fid FROM probes_r p JOIN feats_r f
          |  ON p.entity = f.entity AND p.start < f.end AND p.end > f.start
          |     AND p.probe_id % 3 = f.fid % 3""".stripMargin)
      assert(extra.queryExecution.executedPlan.toString.contains("__graft_bin"))
      assert(extra.as[(Long, Long)].collect().toSet == expected)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ == IntervalBinRule)
    }
  }

  test("a bin size <= 0 fails loudly, naming the setting") {
    val (a, b) = fixture()
    a.createOrReplaceTempView("probes_z")
    b.createOrReplaceTempView("feats_z")
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ IntervalBinRule
    try {
      spark.conf.set("spark.graft.intervalBin.force", "1")
      for (size <- Seq("0", "-256", "abc", "8k")) {
        spark.conf.set("spark.graft.intervalBin.size", size)
        val e = intercept[Exception](spark.sql(
          """SELECT p.probe_id, f.fid FROM probes_z p JOIN feats_z f
            |  ON p.entity = f.entity AND p.start < f.end AND p.end > f.start""".stripMargin)
          .collect())
        assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .exists(c => String.valueOf(c.getMessage).contains("spark.graft.intervalBin.size")),
          s"size $size: $e")
      }
    } finally {
      spark.conf.unset("spark.graft.intervalBin.size")
      spark.conf.set("spark.graft.intervalBin.force", "0")
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ == IntervalBinRule)
    }
  }
}
