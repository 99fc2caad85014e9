package graft.queries

import graft.streaming.StreamingFeatures
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Oracle-gated queries that drive the REAL Structured Streaming engine
  * (SURVEY.md §2.7) over the driver's parquet tables: `readStream` file
  * source -> stateful transform -> memory sink, `Trigger.AvailableNow`.
  * The contract these prove is batch parity: a finite replay through the
  * streaming engine (StateStore aggregation / flatMapGroupsWithState
  * state) must equal the batch SQL oracle bit-for-bit.
  *
  * Memory sink + complete/append is the TEST harness shape only — it is
  * how a finite replay is made comparable. The production path swaps the
  * sink for parquet/Kafka with append + watermark (unbounded input); the
  * transform under test is identical.
  */
object StreamQueries {
  type Q = (SparkSession, String) => DataFrame

  /** Run a finite streaming query to completion and return the sink table.
    * The memory sink registers `name` as a temp view; AvailableNow stops
    * the query once all currently-available input is processed.
    *
    * The checkpoint (offset/commit logs + one state-store delta file per
    * shuffle partition) goes to a memory-backed scratch dir when the host
    * has one: with no explicit location Spark checkpoints under
    * java.io.tmpdir on real disk, and those ~2x`shuffle.partitions` small
    * fsync'd files dominated q39/q40 wall clock (2-4 s of pure state
    * commit at 100k rows). Production deployments point this at durable
    * storage; the transform under test is unchanged.
    */
  private def runToTable(df: DataFrame, name: String, mode: String): DataFrame = {
    val spark = df.sparkSession
    val base = if (new java.io.File("/dev/shm").isDirectory) "/dev/shm/graft_stream_ckpt"
               else System.getProperty("java.io.tmpdir") + "/graft_stream_ckpt"
    val ckpt = s"$base/$name-${java.util.UUID.randomUUID().toString.take(8)}"
    // Stateful streaming instantiates ONE state store per shuffle partition
    // per micro-batch (provider init + delta file + fsync at every commit):
    // at the batch session's default (2x cores = 64) that is 64 stores —
    // 192 commits across q56's three batches — for a fixture-sized state.
    // State-store count is a STATE-VOLUME knob, not a CPU knob (guide §2.2:
    // fewer, larger partitions; the store partitioning is fixed at
    // checkpoint creation, so production sizes it to projected state, not
    // core count). 8 stores, scoped to the stream's lifetime and restored
    // even on failure — the surrounding batch session's shuffle
    // partitioning is untouched (no session-state bleed).
    val prev = spark.conf.get("spark.sql.shuffle.partitions", null)
    // the checkpoint is scratch, not a resume point — and it is RAM-backed
    // (/dev/shm), so it must go even when the query throws (ADVICE r4: the
    // success-path-only delete leaked a checkpoint dir per failed run)
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "8")
      val q = df.writeStream.outputMode(mode).format("memory").queryName(name)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    } finally {
      if (prev != null) spark.conf.set("spark.sql.shuffle.partitions", prev)
      else spark.conf.unset("spark.sql.shuffle.partitions")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt)): Unit
    }
    spark.table(name)
  }

  private def eventsStream(s: SparkSession, d: String): DataFrame = {
    val schema = Views.table(s, d, "events").schema
    // the driver tables are single parquet FILES, and the file stream
    // source only accepts a directory or a glob — a glob over the exact
    // name keeps it to the one file; maxFilesPerTrigger pinned high so the
    // finite replay is ONE micro-batch (batch-parity oracle; multi-batch
    // state carry-over is covered by StreamingMultimodalSpec)
    s.readStream.schema(schema).option("maxFilesPerTrigger", "1000000")
      .parquet(s"$d/{events.parquet,events.parquet/*.parquet}")
  }

  // q39 — streaming tumbling 1-hour counts per user through the streaming
  // aggregation StateStore. `value` is pre-converted to exact integer cents
  // so the re-aggregated sum is engine-order-independent.
  val q39: Q = (s, d) => {
    val src = eventsStream(s, d).select(col("ts"), col("user_id"),
      round(col("value") * 100).cast("long").as("value"))
    val agg = StreamingFeatures.tumblingCounts(src, "1 hour", "30 minutes")
    runToTable(agg, "q39_mem", "complete")
      .select(unix_micros(col("window.start")).as("w_start"), col("user_id"),
        col("n"), col("vsum").cast("long").as("vsum_c"))
  }

  val q39Sql: String =
    """SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS w_start, user_id,
      | count(*) AS n,
      | CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS vsum_c
      |FROM events GROUP BY 1, 2""".stripMargin

  // q40 — streaming point-in-time as-of join via flatMapGroupsWithState
  // (custom per-entity state; the streaming twin of q05). Every event is a
  // probe; every third event also publishes a feature whose value is a
  // deterministic function of its timestamp, so the output is reproducible
  // even if the corpus carries duplicate (entity, t) feature events.
  val q40: Q = (s, d) => {
    val e = eventsStream(s, d).select(col("event_id"), col("user_id"),
      unix_micros(col("ts").cast("timestamp")).as("t"))
    // probes and features derive from the SAME stream, so build the tagged
    // event feed with ONE source scan (taggedExplode) instead of a
    // two-branch union that scans the file source twice — fewer scan
    // tasks, one codegen stage, and measurably steadier wall clock (the
    // union plan showed bimodal 5 s/18 s addBatch under GC pressure)
    val out = StreamingFeatures.streamingAsOf(
      StreamingFeatures.taggedExplode(e, col("user_id"), col("t"),
        col("event_id"), (col("t") % 997).cast("double"),
        col("event_id") % 3 === 0))
    runToTable(out.toDF(), "q40_mem", "append")
      .select("entity", "t", "probe_id", "f_t", "value")
  }

  val q40Sql: String =
    """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS t FROM events),
      |p AS (SELECT CAST(user_id AS VARCHAR) AS entity, t, event_id AS probe_id FROM e),
      |f AS (SELECT DISTINCT CAST(user_id AS VARCHAR) AS entity, t,
      |  CAST(t % 997 AS DOUBLE) AS value FROM e WHERE event_id % 3 = 0)
      |SELECT p.entity, p.t, p.probe_id, f.t AS f_t, f.value AS value
      |FROM p ASOF LEFT JOIN f ON p.entity = f.entity AND p.t >= f.t""".stripMargin

  // ---- q56: late-data drop under the watermark --------------------------

  private val renderedDirs = scala.collection.mutable.HashSet[String]()
  private def renderOnce(dir: String)(render: => Unit): String =
    renderedDirs.synchronized {
      if (!renderedDirs.contains(dir)) { render; renderedDirs.add(dir) }
      dir
    }

  /** Three-batch replay fixture for the late-data semantics, split
    * deterministically by timeline position (T = global max event time):
    *  - `a` (batch 0, on-time bulk): even event_id, ts <= T-2h;
    *  - `c` (batch 1, watermark advancer): every event in (T-2h, T-1h] —
    *    after it the watermark stands at max(a,c) - 30min ~ T-1.5h and the
    *    engine EVICTS + emits every window at or below it;
    *  - `b` (batch 2, the late batch): the newest hour (ts > T-1h) PLUS
    *    every odd-event_id row from the old range — rows that are now LATE.
    * One parquet part-file each; mtimes force the file stream source
    * (maxFilesPerTrigger=1, oldest-first) to replay a -> c -> b. The
    * watermark only advances at batch boundaries, so this is the minimal
    * shape where late rows arrive AFTER their windows were finalized — a
    * two-batch replay can't drop anything: un-evicted state simply merges
    * (measured: the engine merged every "late" row when the advancer also
    * carried the global max).
    */
  private def lateFixtureDir(s: SparkSession, d: String): String =
    renderOnce(Views.scratchDir("latefix", d)) {
      val dir = Views.scratchDir("latefix", d)
      val ev = Views.table(s, d, "events")
      val tsUs = unix_micros(col("ts").cast("timestamp"))
      val tMax = ev.agg(max(tsUs)).collect()(0).getLong(0)
      // ONE write job for all three batches (guide §1.2: don't run three
      // full source scans where one suffices): tag each row with its batch,
      // write partitioned by the tag, then rename `__batch=x/` -> `x/`.
      // Same bytes per sub-dir as the old three filtered writes — every
      // event lands in exactly one batch by the same predicates.
      val batch = when(tsUs <= tMax - 7200000000L && col("event_id") % 2 === 0, "a")
        .when(tsUs > tMax - 7200000000L && tsUs <= tMax - 3600000000L, "c")
        .otherwise("b")
      ev.withColumn("__batch", batch)
        .repartition(col("__batch"))
        .write.partitionBy("__batch").mode("overwrite").parquet(dir)
      moveBatchDirs(dir, Seq("a", "b", "c"))
      val now = System.currentTimeMillis()
      for ((sub, off) <- Seq(("a", 180000L), ("c", 120000L), ("b", 60000L))) {
        val fs = new java.io.File(s"$dir/$sub").listFiles()
        if (fs != null) fs.filter(_.getName.endsWith(".parquet"))
          .foreach(_.setLastModified(now - off))
      }
    }

  /** Move each `__batch=x/` that `partitionBy` wrote to `x/`; a batch that
    * got no rows has no such directory and gets an empty `x/`. */
  private[queries] def moveBatchDirs(dir: String, batches: Seq[String]): Unit =
    for (sub <- batches) {
      val (from, to) = (new java.io.File(s"$dir/__batch=$sub"), new java.io.File(s"$dir/$sub"))
      val ok = if (from.exists) from.renameTo(to) else to.isDirectory || to.mkdirs()
      if (!ok) throw new java.io.IOException(s"cannot make $to (from $from)")
    }

  // q56 — streaming LATE-DATA semantics (VERDICT r4 #7: watermarks existed
  // but only their happy path was oracle-gated): the q39 tumbling
  // aggregation replayed as three micro-batches (on-time bulk, watermark
  // advancer, late batch — lateFixtureDir). The engine rules the oracle
  // mirrors, confirmed by per-batch watermark/drop observation on this
  // exact pipeline at BOTH sf0.001 and sf0.01 — stateful operators carry
  // TWO watermarks since Spark 3.4 (SPARK-40925):
  //  - DROP (late filter): batch N's input rows are filtered with the
  //    PREVIOUS batch's watermark — for the late batch b that is
  //    wmLate = max(a) - 30min, NOT the same-batch max(a,c) - 30min
  //    (which is the EVICTION watermark). A b row is dropped iff its
  //    window end <= wmLate. This lag is what makes the rule safe: the
  //    batch-1 eviction used the same wmLate, so every filter survivor
  //    merges into STILL-LIVE state — append mode can never emit a window
  //    twice. (The first oracle used the eviction watermark and failed at
  //    sf0.01: Spark merged 10 late rows in the one window alive between
  //    the two watermarks.)
  //  - EMIT (append mode): exactly the windows with end <= the final
  //    watermark (wmF = T - 30min) reach the sink, each exactly once.
  // Late rows in (wmLate, wmF] windows are the discriminating population:
  // dropped under a wrong drop rule, emitted-with-merge under the real one.
  val q56: Q = (s, d) => {
    val dir = lateFixtureDir(s, d)
    val schema = Views.table(s, d, "events").schema
    val src = s.readStream.schema(schema).option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/{a,b,c}/part-*.parquet")
      .select(col("ts"), col("user_id"),
        round(col("value") * 100).cast("long").as("value"))
    val agg = StreamingFeatures.tumblingCounts(src, "1 hour", "30 minutes")
    runToTable(agg, "q56_mem", "append")
      .select(unix_micros(col("window.start")).as("w_start"), col("user_id"),
        col("n"), col("vsum").cast("long").as("vsum_c"))
  }

  val q56Sql: String =
    """WITH t AS (SELECT max(epoch_us(ts)) AS tmax FROM events),
      |a AS (SELECT e.* FROM events e, t
      |  WHERE epoch_us(ts) <= tmax - 7200000000 AND event_id % 2 = 0),
      |c AS (SELECT e.* FROM events e, t
      |  WHERE epoch_us(ts) > tmax - 7200000000 AND epoch_us(ts) <= tmax - 3600000000),
      |b AS (SELECT e.* FROM events e, t
      |  WHERE epoch_us(ts) > tmax - 3600000000
      |     OR (epoch_us(ts) <= tmax - 7200000000 AND event_id % 2 = 1)),
      |wmlate AS (SELECT (max(epoch_us(ts)) // 1000) * 1000 - 1800000000 AS wm FROM a),
      |wmf AS (SELECT (tmax // 1000) * 1000 - 1800000000 AS wm FROM t),
      |kept AS (
      |  SELECT ts, user_id, value FROM a
      |  UNION ALL SELECT ts, user_id, value FROM c
      |  UNION ALL
      |  SELECT ts, user_id, value FROM b, wmlate
      |  WHERE ((epoch_us(ts) // 3600000000) + 1) * 3600000000 > wmlate.wm),
      |agg AS (
      |  SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS w_start, user_id,
      |    count(*) AS n,
      |    CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS vsum_c
      |  FROM kept GROUP BY 1, 2)
      |SELECT agg.* FROM agg, wmf WHERE agg.w_start + 3600000000 <= wmf.wm""".stripMargin

  val defs: Map[String, Q] = Map(
    "q39_stream_tumbling" -> q39,
    "q40_stream_asof" -> q40,
    "q56_stream_latedrop" -> q56)

  val oracles: Map[String, String] = Map(
    "q39_stream_tumbling" -> q39Sql,
    "q40_stream_asof" -> q40Sql,
    "q56_stream_latedrop" -> q56Sql)
}
