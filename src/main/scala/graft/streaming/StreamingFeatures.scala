package graft.streaming

import graft.ops.AsOfJoin
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

/** Tagged event for the streaming as-of merge: tag 0 = feature update,
  * tag 1 = probe. Nullable payloads depend on the tag.
  */
final case class AsOfEvent(entity: String, t: Long, tag: Int,
    probe_id: java.lang.Long, value: java.lang.Double)

/** Per-entity state: time-sorted feature history (parallel arrays); a
  * null value stays null. */
final case class AsOfHistory(ts: Array[Long], vs: Array[java.lang.Double])

final case class AsOfOut(entity: String, t: Long, probe_id: Long,
    f_t: java.lang.Long, value: java.lang.Double)

/** Structured Streaming surface (SURVEY.md §2.7). The reference is batch,
  * but its depth command already processes input in 100k-record
  * micro-batches merged into global state (depth.rs:24, 326-410) — exactly
  * the `foreachBatch` + stateful-agg shape. Batch parity is the contract;
  * streaming is additive: late data beyond the watermark is dropped
  * (the reference has no late-data concept — offline corpus).
  */
object StreamingFeatures {

  /** Tumbling windowed aggregate per user with watermark. */
  def tumblingCounts(events: DataFrame, window_ : String = "1 hour",
      watermark: String = "30 minutes"): DataFrame =
    events
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("user_id"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("vsum"))

  /** Micro-batch runner with cross-batch state merge (≙ depth.rs
    * partial+final merge, 264-290): each micro-batch computes partial
    * per-user aggregates; `merge` folds them into a global state table.
    * Used with `maxFilesPerTrigger` to bound batch size like BATCH_SIZE.
    */
  def microBatchAggregate(events: DataFrame, stateDir: String): StreamingQuery = {
    val spark = events.sparkSession
    events.writeStream
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val partial = batch.groupBy(col("user_id"))
          .agg(count(lit(1)).as("n"), sum(col("value")).as("vsum"))
        val merged =
          if (java.nio.file.Files.exists(java.nio.file.Paths.get(s"$stateDir/state"))) {
            val prev = batch.sparkSession.read.parquet(s"$stateDir/state")
            prev.unionByName(partial)
              .groupBy(col("user_id"))
              .agg(sum(col("n")).as("n"), sum(col("vsum")).as("vsum"))
          } else partial
        merged.write.mode("overwrite").parquet(s"$stateDir/state_next")
        // atomic-ish swap: state_next -> state
        val fs = new java.io.File(s"$stateDir/state")
        if (fs.exists()) { deleteRec(fs) }
        val next = new java.io.File(s"$stateDir/state_next")
        if (!next.renameTo(fs)) throw new java.io.IOException(s"cannot move $next to $fs")
      }
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$stateDir/_checkpoint")
      .start()
  }

  private def deleteRec(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(deleteRec)
    f.delete()
  }

  /** Streaming point-in-time (as-of) join via custom state
    * (`flatMapGroupsWithState` — SURVEY §2.8 escalation path (c) for
    * semantics Spark's built-in stream-stream joins can't express: the
    * strictly-latest `t' <= t` merge, reference tree.rs:66-94 reinterpreted
    * per the north rule).
    *
    * Input: ONE tagged union stream per entity (tag 0 = feature update,
    * tag 1 = probe; build it with [[taggedUnion]]). Within a micro-batch,
    * events are re-sorted by (t, tag) so features at equal t are visible to
    * probes (the same `<=` bound as AsOfJoin.windowed). Across batches the
    * per-entity state keeps a time-sorted feature history (bounded by
    * `maxHistory`, oldest dropped), so late PROBES still resolve against
    * earlier features; a feature arriving after a probe it should have
    * matched cannot retro-correct an already-emitted row (append mode) —
    * bound that staleness with the source watermark.
    *
    * State size: O(maxHistory) per entity — at 1000 executors state is
    * hash-partitioned by entity and checkpointed by the engine.
    */
  def streamingAsOf(events: Dataset[AsOfEvent], maxHistory: Int = 1024): Dataset[AsOfOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.entity)
      .flatMapGroupsWithState[AsOfHistory, AsOfOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (entity: String, it: Iterator[AsOfEvent], state: GroupState[AsOfHistory]) =>
          val evs = it.toArray.sortBy(e => (e.t, e.tag, Option(e.probe_id).map(_.toLong).getOrElse(0L)))
          val prev = state.getOption.map(h => h.ts.zip(h.vs)).getOrElse(Array.empty[(Long, java.lang.Double)])
          // a null entity never matches (AsOfJoin's rule): its features
          // never enter state, its probes get the miss row
          val adds = if (entity == null) Array.empty[AsOfEvent] else evs.filter(_.tag == 0)
          // the batch's adds merged into the sorted history; the sort is
          // stable, so at equal t state rows come first and the latest add
          // wins. Events sort by (t, tag), so the adds a probe may see are
          // exactly those with t' <= t: one search over the merged times.
          val merged = (prev ++ adds.map(e => (e.t, e.value))).sortBy(_._1)
          val ts = merged.map(_._1)
          val outRows = evs.filter(_.tag == 1).map { e =>
            val at = AsOfJoin.lastAtOrBefore(ts, e.t)
            if (at < 0) AsOfOut(entity, e.t, e.probe_id, null, null)
            else AsOfOut(entity, e.t, e.probe_id, ts(at), merged(at)._2)
          }
          if (adds.nonEmpty) {
            val keep = merged.takeRight(maxHistory)
            state.update(AsOfHistory(keep.map(_._1), keep.map(_._2)))
          }
          outRows.iterator
      }
  }

  /** Build the tagged union stream for [[streamingAsOf]] from separate
    * probe (entity, t, probe_id) and feature (entity, t, value) frames.
    */
  def taggedUnion(probes: DataFrame, feats: DataFrame): Dataset[AsOfEvent] = {
    import probes.sparkSession.implicits._
    val p = probes.select(col("entity").cast("string"), col("t").cast("long"),
      lit(1).as("tag"), col("probe_id").cast("long"), lit(null).cast("double").as("value"))
    val f = feats.select(col("entity").cast("string"), col("t").cast("long"),
      lit(0).as("tag"), lit(null).cast("long").as("probe_id"), col("value").cast("double"))
    f.unionByName(p).as[AsOfEvent]
  }

  /** One-scan variant of [[taggedUnion]] for the common case where probes
    * and features derive from the SAME stream (change-data feeds where an
    * event both queries and updates state). Each source row explodes into
    * its probe event plus, when `isFeat` holds, a feature event — one
    * source scan and one codegen stage where union-of-two-branches scans
    * the source twice. Semantics are identical: [[streamingAsOf]] re-sorts
    * the batch by (t, tag) regardless of arrival order.
    */
  def taggedExplode(events: DataFrame, entity: Column, t: Column,
      probeId: Column, featValue: Column, isFeat: Column): Dataset[AsOfEvent] = {
    import events.sparkSession.implicits._
    val probe = struct(lit(1).as("tag"), probeId.cast("long").as("probe_id"),
      lit(null).cast("double").as("value"))
    val feat = struct(lit(0).as("tag"), lit(null).cast("long").as("probe_id"),
      featValue.cast("double").as("value"))
    events.select(entity.cast("string").as("entity"), t.cast("long").as("t"),
        explode(when(isFeat, array(feat, probe)).otherwise(array(probe))).as("ev"))
      .select(col("entity"), col("t"), col("ev.tag").as("tag"),
        col("ev.probe_id").as("probe_id"), col("ev.value").as("value"))
      .as[AsOfEvent]
  }
}
