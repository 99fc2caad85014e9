package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import scala.collection.mutable.ArrayBuffer

/** Overlap modes, mirroring the reference's three region-query modes
  * (reference: src/commands/intersect.rs:144-158).
  *  - Overlap:        any intersection (half-open: f.start < p.end && f.end > p.start)
  *  - Contained:      feature fully inside the probe region
  *  - ContainsRegion: feature fully covers the probe region
  */
sealed trait OverlapMode
case object Overlap extends OverlapMode
case object Contained extends OverlapMode
case object ContainsRegion extends OverlapMode

/** The engine's flagship operator: distributed interval join
  * (reference: per-seqid centered interval-tree probe, src/utils/tree.rs:96-121
  * + driver src/commands/intersect.rs:104-169 — re-expressed Spark-first).
  *
  * Column convention: BOTH inputs carry (`entity`, `start`, `end`) plus
  * arbitrary payload columns (names must not collide across sides).
  * Output: `entity, p_start, p_end, <probe payload>, f_start, f_end,
  * <feature payload>`.
  *
  * Three physical paths (SURVEY.md §4 decision tree):
  *  1. [[broadcastJoin]] — annotation side small: broadcast per-entity
  *     [[IntervalIndex]] (≙ the reference's in-memory tree), probe-side
  *     mapPartitions, zero shuffle of the big side.
  *  2. [[binnedJoin]] — both sides big and/or hot-entity skew: explode into
  *     fixed-width coordinate bins and equi-join on (entity, bin); Catalyst
  *     plans a plain shuffled hash/sort-merge equi-join with whole-stage
  *     codegen; the "emit only in the intersection-start bin" trick makes
  *     output exactly-once with NO dedup shuffle. This is also the skew
  *     salting template (reference: src/commands/depth.rs:29-31,162-207 —
  *     a hot entity's rows spread across all its bins).
  *  3. [[sweepJoin]] — both sides big, entity cardinality >= parallelism:
  *     tag-union + repartition(entity) + sortWithinPartitions + single-pass
  *     plane sweep in typed mapPartitions, O(n+m+k) per partition
  *     (reference: two-pointer sweep, src/commands/coverage.rs:336-362).
  */
object IntervalJoin {

  /** Exact overlap predicate for a mode, over prepped column names. */
  def predicate(mode: OverlapMode): Column = mode match {
    case Overlap =>
      col("f_start") < col("p_end") && col("f_end") > col("p_start")
    case Contained =>
      col("f_start") >= col("p_start") && col("f_end") <= col("p_end")
    case ContainsRegion =>
      col("f_start") <= col("p_start") && col("f_end") >= col("p_end")
  }

  private def modeOk(mode: OverlapMode, ps: Long, pe: Long, fs: Long, fe: Long): Boolean =
    mode match {
      case Overlap        => fs < pe && fe > ps
      case Contained      => fs >= ps && fe <= pe
      case ContainsRegion => fs <= ps && fe >= pe
    }

  /** Rename start/end with a side prefix; keep entity + payload. */
  private def prep(df: DataFrame, side: String): DataFrame = {
    val payload = df.columns.filterNot(Set("entity", "start", "end"))
    df.select(
      (Seq(col("entity"), col("start").as(s"${side}_start"), col("end").as(s"${side}_end")) ++
        payload.map(col)): _*)
  }

  /** Auto path: broadcast the PROVABLY small side — plan-statistics
    * prefilter, then [[BroadcastSide.withinCap]] on the candidate side(s):
    * the plan's row bound decides a driver-local side without a job, and
    * only a side with no bound (a parquet scan) pays one cheap count — else
    * binned. Like the reference's index-vs-scan choice at query open
    * (intersect.rs:104-133), the decision is taken while the plan is built.
    */
  def join(probes: DataFrame, feats: DataFrame, mode: OverlapMode = Overlap,
      binSize: Long = 8192L): DataFrame = {
    val pBytes = BroadcastSide.planBytes(probes)
    val fBytes = BroadcastSide.planBytes(feats)
    val pSmall = pBytes <= BroadcastSide.MaxPlanBytes
    val fSmall = fBytes <= BroadcastSide.MaxPlanBytes
    if (!pSmall && !fSmall) binnedJoin(probes, feats, mode, binSize)
    else {
      // Build-side choice by plan-stats BYTES (what a broadcast actually
      // costs); the cheaper side is proven first and the other only if it
      // fails. Proving every stats-small side re-ran q35's matched-rows
      // join once per decision, ~1-3 s of pure decision overhead per query.
      val candidates = Seq((pSmall, false, pBytes), (fSmall, true, fBytes))
        .collect { case (true, buildIsFeature, bytes) => (buildIsFeature, bytes) }
        .sortBy(_._2)
      val chosen = candidates.iterator.map { case (buildIsFeature, _) =>
        (buildIsFeature, BroadcastSide.withinCap(if (buildIsFeature) feats else probes))
      }.collectFirst { case (buildIsFeature, true) => buildIsFeature }
      chosen match {
        case Some(buildIsFeature) =>
          broadcastImpl(prep(probes, "p"), prep(feats, "f"), mode, buildIsFeature)
        case None => binnedJoin(probes, feats, mode, binSize)
      }
    }
  }

  /** Path 2 — binned/salted equi-join. Pure Catalyst; codegen end-to-end.
    *
    * The join is FORCED to a shuffle merge: binnedJoin is by contract the
    * both-sides-big path (small sides route through [[join]]'s broadcast
    * decision), and a broadcast plan here would leave the expensive
    * pair-predicate evaluation on the streamed side's SCAN partitions —
    * which for a single-row-group parquet file is ONE task (measured 76 s
    * for q36 at sf0.1; 64-way parallel after the exchange). At 100 TB a
    * shuffle join on (entity, bin) is what the optimizer picks anyway;
    * sort-merge (not shuffled-hash) keeps per-partition memory flat.
    */
  def binnedJoin(probes: DataFrame, feats: DataFrame, mode: OverlapMode,
      binSize: Long = 8192L): DataFrame = {
    require(binSize > 0)
    val p = prep(probes, "p").withColumn("__bin",
      explode(sequence(expr(s"p_start DIV ${binSize}L"), expr(s"(p_end - 1) DIV ${binSize}L"))))
    val f = prep(feats, "f").withColumn("__bin",
      explode(sequence(expr(s"f_start DIV ${binSize}L"), expr(s"(f_end - 1) DIV ${binSize}L"))))
    p.hint("shuffle_merge").join(f, Seq("entity", "__bin"))
      .where(predicate(mode) &&
        expr(s"greatest(p_start, f_start) DIV ${binSize}L") === col("__bin"))
      .drop("__bin")
  }

  /** Path 1 — broadcast per-entity interval index of the FEATURE side +
    * probe-side mapPartitions (like the reference's whole-index mmap,
    * src/utils/tree_index.rs:21-34). Guarded: refuses to collect a side
    * whose exact row count exceeds the broadcast cap — use [[join]] (auto)
    * or [[binnedJoin]] for two big sides.
    */
  def broadcastJoin(probes: DataFrame, feats: DataFrame, mode: OverlapMode): DataFrame = {
    require(feats.count() <= BroadcastSide.MaxRows,
      s"broadcast side exceeds ${BroadcastSide.MaxRows} rows; use binnedJoin/join(auto)")
    broadcastImpl(prep(probes, "p"), prep(feats, "f"), mode, buildIsFeature = true)
  }

  /** Path 1 swapped — broadcast the PROBE side, stream the feature side
    * (the reference's small-query-list shape, intersect.rs:172-230: a
    * handful of regions against a huge corpus — zero shuffle of the corpus).
    */
  def broadcastJoinProbeSide(probes: DataFrame, feats: DataFrame, mode: OverlapMode): DataFrame = {
    require(probes.count() <= BroadcastSide.MaxRows,
      s"broadcast side exceeds ${BroadcastSide.MaxRows} rows; use binnedJoin/join(auto)")
    broadcastImpl(prep(probes, "p"), prep(feats, "f"), mode, buildIsFeature = false)
  }

  /** Broadcast body — the build side's row cap was ALREADY verified by the
    * caller (public entry points re-check; [[join]] reuses its own count).
    *
    * r6: runs at the InternalRow level end to end (guide §1.2 per-task
    * work). The old body collected external Rows and streamed the big
    * side through an Encoders.row mapPartitions — every streamed row paid
    * deserialize-to-GenericRow + re-encode just to probe a broadcast map.
    * Now the build side collects UnsafeRows (a driver-local build side
    * without a job, [[BroadcastSide.collect]]), the stream side maps
    * `queryExecution.toRdd`, and each output row is one UnsafeProjection
    * over a JoinedRow — no external Row exists anywhere on the path.
    */
  private def broadcastImpl(p: DataFrame, f: DataFrame, mode: OverlapMode,
      buildIsFeature: Boolean): DataFrame = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, JoinedRow, UnsafeProjection}
    val build = if (buildIsFeature) f else p
    val stream = if (buildIsFeature) p else f
    val spark = stream.sparkSession
    val eType = build.schema.fields(0).dataType
    val bRows: Array[InternalRow] = BroadcastSide.collect(build)
    val byEntity: Map[Any, IntervalIndex] =
      bRows.indices.groupBy(i => bRows(i).get(0, eType)).map { case (e, idxs) =>
        e -> IntervalIndex.build(idxs.map(i => (bRows(i).getLong(1), bRows(i).getLong(2), i)).toArray)
      }
    val bc = spark.sparkContext.broadcast((bRows, byEntity))
    // output layout is ALWAYS probe columns then feature payload
    val outSchema = StructType(p.schema.fields ++ f.schema.fields.drop(1))
    val sFields = stream.schema.fields
    val bFields = build.schema.fields
    val nS = sFields.length
    // JoinedRow layout is (stream, build); project to probe-then-feature
    val outRefs =
      if (buildIsFeature) // stream = probes: stream cols ++ build cols drop entity
        sFields.indices.map(i => BoundReference(i, sFields(i).dataType, sFields(i).nullable)) ++
          (1 until bFields.length).map(j =>
            BoundReference(nS + j, bFields(j).dataType, bFields(j).nullable))
      else // stream = features: build (probe) cols ++ stream cols drop entity
        bFields.indices.map(j => BoundReference(nS + j, bFields(j).dataType, bFields(j).nullable)) ++
          (1 until sFields.length).map(i =>
            BoundReference(i, sFields(i).dataType, sFields(i).nullable))
    val outRdd = stream.queryExecution.toRdd.mapPartitions { it =>
      val (rows, idx) = bc.value
      val proj = UnsafeProjection.create(outRefs.toArray)
      val joined = new JoinedRow
      it.flatMap { sr =>
        idx.get(sr.get(0, eType)) match {
          case None => Iterator.empty[InternalRow]
          case Some(ix) =>
            val ss = sr.getLong(1); val se = sr.getLong(2)
            // candidate superset from the index, exact-filtered by modeOk:
            //  - streaming probes (build = features): a feature CONTAINING
            //    the region must contain its start -> point probe;
            //  - streaming features (build = probes): a probe containing the
            //    feature must contain the feature's start -> point probe.
            val cands = (mode, buildIsFeature) match {
              case (ContainsRegion, true) => ix.queryPoint(ss)
              case (Contained, false)     => ix.queryPoint(ss)
              case _                      => ix.queryRange(ss, se)
            }
            cands.iterator
              .filter { i =>
                val br = rows(i)
                if (buildIsFeature) modeOk(mode, ss, se, br.getLong(1), br.getLong(2))
                else modeOk(mode, br.getLong(1), br.getLong(2), ss, se)
              }
              .map { i => proj(joined(sr, rows(i))): InternalRow }
        }
      }
    }
    org.apache.spark.sql.graftx.InternalRows.create(spark, outRdd, outSchema)
  }

  /** Path 3 — range-binned plane sweep. Both sides explode into coordinate
    * bins sized FROM THE DATA (>= the max interval length on either side,
    * so replication <= 2 rows per interval), hash-partitioned on
    * (entity, bin): parallelism scales with entity x coordinate range, not
    * entity cardinality (the round-1 version hashed whole entities — 16
    * entities left half of 32 cores idle). Within each (entity, bin) group
    * one __s-ordered pass keeps active lists — O(n + k) per group, the
    * reference's two-pointer sweep (src/commands/coverage.rs:336-362) —
    * and a pair is emitted ONLY in its intersection-start bin
    * (exactly-once, no dedup shuffle; same trick as binnedJoin).
    *
    * `binSize` 0 derives the width from two cheap max-length aggregates;
    * pass it explicitly to skip those scans (e.g. from parquet stats).
    */
  def sweepJoin(probes: DataFrame, feats: DataFrame, mode: OverlapMode,
      binSize: Long = 0L): DataFrame = {
    val p = prep(probes, "p")
    val f = prep(feats, "f")
    val width =
      if (binSize > 0) binSize
      else {
        // ONE job for both sides' max lengths (r6, guide §1.2: the
        // two-job version paid a full scheduling round trip per side)
        val m = p.select(max(col("p_end") - col("p_start")).as("m"))
          .unionAll(f.select(max(col("f_end") - col("f_start")).as("m")))
          .agg(max(col("m"))).collect()(0)
        val m1 = if (m.isNullAt(0)) 0L else m.getLong(0)
        // floor keeps tiny-interval data from creating millions of
        // near-empty groups; a single giant interval degrades gracefully
        // toward the per-entity sweep
        math.max(m1, 4096L)
      }
    val pPay = p.columns.drop(1) // p_start, p_end, payload...
    val fPay = f.columns.drop(1)
    val pStructT = StructType(p.schema.fields.drop(1))
    val fStructT = StructType(f.schema.fields.drop(1))
    val pu = p.select(col("entity"),
      explode(sequence(expr(s"p_start DIV ${width}L"), expr(s"(p_end - 1) DIV ${width}L"))).as("__bin"),
      col("p_start").as("__s"),
      struct(pPay.map(col): _*).as("__p"), lit(null).cast(fStructT).as("__f"))
    val fu = f.select(col("entity"),
      explode(sequence(expr(s"f_start DIV ${width}L"), expr(s"(f_end - 1) DIV ${width}L"))).as("__bin"),
      col("f_start").as("__s"),
      lit(null).cast(pStructT).as("__p"), struct(fPay.map(col): _*).as("__f"))
    val u = pu.unionByName(fu)
      .repartition(col("entity"), col("__bin"))
      .sortWithinPartitions(col("entity"), col("__bin"), col("__s"))
    val outSchema = StructType(p.schema.fields ++ f.schema.fields.drop(1))
    val m = mode
    val wBin = width
    // r6: the sweep runs at the InternalRow level (like broadcastImpl) —
    // the old Encoders.row mapPartitions deserialized every union row to
    // an external Row (nested structs included) and re-encoded every
    // emitted pair. Actives retain COPIES of their payload struct (the
    // sort iterator reuses buffers); emitted rows are copies of one
    // UnsafeProjection over entity + probe payload + feature payload.
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow, JoinedRow, UnsafeProjection}
    val eField = p.schema.fields(0)
    val pW = pStructT.fields.length
    val fW = fStructT.fields.length
    val outRefs = (BoundReference(0, eField.dataType, eField.nullable) +:
      pStructT.fields.zipWithIndex.map { case (sf, i) =>
        BoundReference(1 + i, sf.dataType, sf.nullable) }) ++
      fStructT.fields.zipWithIndex.map { case (sf, i) =>
        BoundReference(1 + pW + i, sf.dataType, sf.nullable) }
    val outRdd = u.queryExecution.toRdd.mapPartitions { it =>
      val proj = UnsafeProjection.create(outRefs.toArray)
      val jPf = new JoinedRow
      val jOut = new JoinedRow
      val eRow = new GenericInternalRow(1)
      var curEntity: Any = null
      var curBin: Long = Long.MinValue
      // actives: (start, end, payloadRow), start-sorted by arrival
      val activeP = new ArrayBuffer[(Long, Long, InternalRow)]()
      val activeF = new ArrayBuffer[(Long, Long, InternalRow)]()
      it.flatMap { r =>
        val e = r.get(0, eField.dataType)
        val b = r.getLong(1)
        if (e != curEntity || b != curBin) {
          // copy the group key: it must stay valid across input rows
          curEntity = e match {
            case s: org.apache.spark.unsafe.types.UTF8String => s.clone()
            case other => other
          }
          curBin = b; activeP.clear(); activeF.clear()
        }
        eRow.update(0, e)
        val out = new ArrayBuffer[InternalRow]()
        if (!r.isNullAt(3)) {
          val pr = r.getStruct(3, pW)
          val ps = pr.getLong(0); val pe = pr.getLong(1)
          // scan feature actives: emit overlaps, compact expired
          var w = 0
          var i = 0
          while (i < activeF.length) {
            val (fs, fe, frow) = activeF(i)
            if (fe > ps) { // still live: fs <= ps (sorted), so live == overlapping
              // emit only in the intersection-start bin (exactly-once
              // across the bins a replicated pair co-occurs in); same
              // truncating division as the sequence() bin assignment
              if ((if (ps > fs) ps else fs) / wBin == b && modeOk(m, ps, pe, fs, fe))
                out += proj(jOut(eRow, jPf(pr, frow))).copy()
              activeF(w) = activeF(i); w += 1
            }
            i += 1
          }
          activeF.dropRightInPlace(activeF.length - w)
          activeP += ((ps, pe, pr.copy()))
        } else {
          val frow = r.getStruct(4, fW)
          val fs = frow.getLong(0); val fe = frow.getLong(1)
          var w = 0
          var i = 0
          while (i < activeP.length) {
            val (ps, pe, prow) = activeP(i)
            if (pe > fs) {
              if ((if (ps > fs) ps else fs) / wBin == b && modeOk(m, ps, pe, fs, fe))
                out += proj(jOut(eRow, jPf(prow, frow))).copy()
              activeP(w) = activeP(i); w += 1
            }
            i += 1
          }
          activeP.dropRightInPlace(activeP.length - w)
          activeF += ((fs, fe, frow.copy()))
        }
        out
      }
    }
    org.apache.spark.sql.graftx.InternalRows.create(p.sparkSession, outRdd, outSchema)
  }

  /** Invert: probes with NO match under `mode` — the GLOBAL complement.
    * Deliberately different from the reference's candidate-level XOR invert
    * (src/commands/intersect.rs:137-164, implemented faithfully in
    * GffOps.intersect): this is the "rows not covered by any feature"
    * selection a pipeline uses to split a corpus.
    */
  def invert(probes: DataFrame, feats: DataFrame, mode: OverlapMode,
      probeKeys: Seq[String], binSize: Long = 8192L): DataFrame = {
    val matched = binnedJoin(probes, feats, mode, binSize)
      .select(probeKeys.map(col): _*).distinct()
    probes.join(matched, probeKeys, "left_anti")
  }
}
