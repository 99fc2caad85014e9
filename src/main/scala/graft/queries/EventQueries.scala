package graft.queries

import graft.ops.WindowFeatures
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Windowed feature-engineering queries over the `events` table — the
  * north_rule surface: lag/lead, backfill, sessionize, rolling, tumbling.
  * Every frame is bounded at the current row (strict t' <= t): zero
  * temporal leakage by construction. Doubles are only copied or converted
  * to exact integer cents before aggregation so the DuckDB oracle matches
  * bit-for-bit regardless of float summation order.
  */
object EventQueries {
  type Q = (SparkSession, String) => DataFrame

  private val SessionGapMicros = 1800000000L // 30 min
  private val HourMicros = 3600000000L

  // q13 — lag/lead features per user.
  val q13: Q = (s, d) =>
    WindowFeatures.lagLead(Views.eventsV(s, d), "value", Seq(1, 2),
      entity = "user_id", time = "t", tiebreak = "event_id")
      .select("event_id", "value_lag1", "value_lead1", "value_lag2", "value_lead2")

  val q13Sql: String =
    s"""WITH ${Views.eventsSql}
       |SELECT event_id,
       | lag(value, 1) OVER w AS value_lag1, lead(value, 1) OVER w AS value_lead1,
       | lag(value, 2) OVER w AS value_lag2, lead(value, 2) OVER w AS value_lead2
       |FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)""".stripMargin

  // q14 — backfill (LOCF) over deterministically injected nulls.
  val q14: Q = (s, d) => {
    val e = Views.eventsV(s, d).withColumn("v",
      when(col("event_id") % 7 === 0, lit(null).cast("double")).otherwise(col("value")))
    WindowFeatures.backfill(e, "v", entity = "user_id", time = "t", tiebreak = "event_id")
      .select("event_id", "v", "v_ff")
  }

  val q14Sql: String =
    s"""WITH ${Views.eventsSql},
       |e2 AS (SELECT event_id, user_id, t,
       |  CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS v FROM e)
       |SELECT event_id, v,
       | last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY t, event_id
       |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_ff
       |FROM e2""".stripMargin

  // q15 — sessionize: 30-minute inactivity gap.
  val q15: Q = (s, d) =>
    WindowFeatures.sessionize(Views.eventsV(s, d), SessionGapMicros,
      entity = "user_id", time = "t", tiebreak = "event_id")
      .select("event_id", "user_id", "session_id")

  val q15Sql: String =
    s"""WITH ${Views.eventsSql},
       |s AS (SELECT event_id, user_id, t,
       |  CASE WHEN lag(t, 1) OVER w IS NULL
       |       OR t - lag(t, 1) OVER w > $SessionGapMicros THEN 1 ELSE 0 END AS brk
       |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id))
       |SELECT event_id, user_id,
       | CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY t, event_id
       |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS BIGINT) AS session_id
       |FROM s""".stripMargin

  // q16 — per-session aggregates.
  val q16: Q = (s, d) => {
    val sess = WindowFeatures.sessionize(Views.eventsV(s, d), SessionGapMicros,
      entity = "user_id", time = "t", tiebreak = "event_id")
    WindowFeatures.sessionAgg(sess, "cents", entity = "user_id", time = "t")
      .withColumnRenamed("vsum", "vsum_c")
  }

  val q16Sql: String =
    s"""WITH ${Views.eventsSql},
       |s AS (SELECT event_id, user_id, t, cents,
       |  CASE WHEN lag(t, 1) OVER w IS NULL
       |       OR t - lag(t, 1) OVER w > $SessionGapMicros THEN 1 ELSE 0 END AS brk
       |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
       |s2 AS (SELECT event_id, user_id, t, cents,
       |  CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY t, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS BIGINT) AS session_id
       |  FROM s)
       |SELECT user_id, session_id, count(*) AS n_events,
       | max(t) - min(t) AS duration, CAST(sum(cents) AS BIGINT) AS vsum_c,
       | min(t) AS t_start, max(t) AS t_end
       |FROM s2 GROUP BY user_id, session_id""".stripMargin

  // q17 — rolling 5-row window aggregates (exact integer cents).
  val q17: Q = (s, d) =>
    WindowFeatures.rolling(Views.eventsV(s, d), "cents", 5,
      entity = "user_id", time = "t", tiebreak = "event_id")
      .select("event_id", "cents_rsum5", "cents_rcnt5", "cents_rmin5", "cents_rmax5")

  val q17Sql: String =
    s"""WITH ${Views.eventsSql}
       |SELECT event_id,
       | CAST(sum(cents) OVER w5 AS BIGINT) AS cents_rsum5,
       | count(cents) OVER w5 AS cents_rcnt5,
       | min(cents) OVER w5 AS cents_rmin5,
       | max(cents) OVER w5 AS cents_rmax5
       |FROM e WINDOW w5 AS (PARTITION BY user_id ORDER BY t, event_id
       | ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)""".stripMargin

  // q18 — tumbling 1-hour buckets per user (partial+final agg, 1 shuffle).
  val q18: Q = (s, d) =>
    WindowFeatures.tumbling(Views.eventsV(s, d), HourMicros, "cents",
      entity = "user_id", time = "t")

  val q18Sql: String =
    s"""WITH ${Views.eventsSql}
       |SELECT user_id, t // $HourMicros AS bucket, count(*) AS n,
       | CAST(sum(cents) AS BIGINT) AS vsum, min(cents) AS vmin, max(cents) AS vmax
       |FROM e GROUP BY 1, 2""".stripMargin

  // q31 — THE flagship: assembled entity×timestamp feature rows (the
  // north_star metric unit). One window-spec shuffle stacks lag + rolling +
  // backfill + session id; one as-of union adds the point-in-time order
  // feature. Strict t'<=t everywhere.
  val q31: Q = (s, d) => {
    val e = Views.eventsV(s, d).withColumn("v",
      when(col("event_id") % 7 === 0, lit(null).cast("double")).otherwise(col("value")))
    // fused: ONE WindowExec for lag/lead + backfill + rolling + the session
    // break lag, one dependent WindowExec for the session id (vs 4-5 when
    // composed operator-by-operator) — identical values, half the copies
    val stacked = WindowFeatures.stack(e, lagCol = "value", lagOffsets = Seq(1),
      backfillCol = "v", rollCol = "cents", rollN = 5, gap = SessionGapMicros,
      entity = "user_id", time = "t", tiebreak = "event_id")
    val orders = Views.table(s, d, "orders")
      .groupBy(col("o_custkey").cast("string").as("entity"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("t"))
      .agg(round(max(col("o_totalprice")) * 100).cast("long").as("price_c"))
    val probes = stacked.select(col("user_id").cast("string").as("entity"), col("t"),
      col("event_id"), col("value_lag1"), col("cents_rsum5"), col("v_ff"), col("session_id"))
    graft.ops.AsOfJoin.windowed(probes, orders)
      .select("event_id", "entity", "t", "value_lag1", "cents_rsum5", "v_ff",
        "session_id", "price_c")
  }

  val q31Sql: String =
    s"""WITH ${Views.eventsSql},
       |b AS (SELECT event_id, user_id, t, cents, value,
       |  CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS v FROM e),
       |s AS (SELECT event_id, user_id, t,
       |  lag(value, 1) OVER w AS value_lag1,
       |  CAST(sum(cents) OVER (PARTITION BY user_id ORDER BY t, event_id
       |    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS BIGINT) AS cents_rsum5,
       |  last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY t, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_ff,
       |  CASE WHEN lag(t, 1) OVER w IS NULL
       |       OR t - lag(t, 1) OVER w > $SessionGapMicros THEN 1 ELSE 0 END AS brk
       |  FROM b WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
       |s2 AS (SELECT event_id, CAST(user_id AS VARCHAR) AS entity, t, value_lag1,
       |  cents_rsum5, v_ff,
       |  CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY t, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS BIGINT) AS session_id
       |  FROM s),
       |f AS (SELECT CAST(o_custkey AS VARCHAR) AS entity,
       |  epoch_us(o_orderdate) AS t,
       |  CAST(round(max(o_totalprice)*100) AS BIGINT) AS price_c
       |  FROM orders GROUP BY 1, 2)
       |SELECT s2.event_id AS event_id, s2.entity AS entity, s2.t AS t,
       | s2.value_lag1, s2.cents_rsum5, s2.v_ff, s2.session_id, f.price_c AS price_c
       |FROM s2 ASOF LEFT JOIN f ON s2.entity = f.entity AND s2.t >= f.t""".stripMargin

  // q38 — the oracle row for WindowFeatures.stack on its own: every column
  // it appends (lag AND lead, backfill, all four rolling aggregates, the
  // session id), ordered with the event_id tiebreak, backfilling a column
  // with nulls punched in every 7th event.
  val q38: Q = (s, d) => {
    val e = Views.eventsV(s, d).withColumn("v",
      when(col("event_id") % 7 === 0, lit(null).cast("double")).otherwise(col("value")))
    WindowFeatures.stack(e, lagCol = "value", lagOffsets = Seq(1),
      backfillCol = "v", rollCol = "cents", rollN = 5, gap = SessionGapMicros,
      entity = "user_id", time = "t", tiebreak = "event_id")
      .select("event_id", "value_lag1", "value_lead1", "v_ff",
        "cents_rsum5", "cents_rcnt5", "cents_rmin5", "cents_rmax5", "session_id")
  }

  val q38Sql: String =
    s"""WITH ${Views.eventsSql},
       |b AS (SELECT event_id, user_id, t, cents, value,
       |  CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS v FROM e),
       |s AS (SELECT event_id, user_id, t,
       |  lag(value, 1) OVER w AS value_lag1, lead(value, 1) OVER w AS value_lead1,
       |  last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY t, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_ff,
       |  CAST(sum(cents) OVER w5 AS BIGINT) AS cents_rsum5,
       |  count(cents) OVER w5 AS cents_rcnt5,
       |  min(cents) OVER w5 AS cents_rmin5,
       |  max(cents) OVER w5 AS cents_rmax5,
       |  CASE WHEN lag(t, 1) OVER w IS NULL
       |       OR t - lag(t, 1) OVER w > $SessionGapMicros THEN 1 ELSE 0 END AS brk
       |  FROM b WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id),
       |  w5 AS (PARTITION BY user_id ORDER BY t, event_id
       |    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW))
       |SELECT event_id, value_lag1, value_lead1, v_ff,
       | cents_rsum5, cents_rcnt5, cents_rmin5, cents_rmax5,
       | CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY t, event_id
       |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS BIGINT) AS session_id
       |FROM s""".stripMargin

  // q41 — checkpointed partitioned-run round-trip: runPartitioned commits
  // every bucket (one write job over the input whose observed stats fill
  // atomic per-bucket manifests), readCommitted reads the committed partitions
  // back, and the per-bucket aggregate must equal a direct GROUP BY over
  // the source — proof the resumable commit protocol writes exactly the
  // input, end to end. Buckets carry a 'b' prefix so the partition-dir
  // round-trip cannot be type-inferred away from string.
  val q41: Q = (s, d) => {
    val e = Views.eventsV(s, d)
      .withColumn("bucket", concat(lit("b"), (col("user_id") % 8).cast("string")))
    // stable per-(JVM, sf-dir) scratch: a second invocation in the same JVM
    // finds every bucket committed and exercises the RESUME path (skip all,
    // read back) instead of leaking a fresh temp dir per call
    val out = Views.scratchDir("ckpt_q41", d)
    val buckets = (0 until 8).map("b" + _)
    graft.runtime.Checkpoint.runPartitioned(e, "bucket", buckets, out, "t")
    graft.runtime.Checkpoint.readCommitted(s, out, "bucket", buckets)
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), min(col("t")).as("t_min"),
        max(col("t")).as("t_max"), sum(col("cents")).cast("long").as("vsum_c"))
  }

  val q41Sql: String =
    s"""WITH ${Views.eventsSql}
       |SELECT 'b' || CAST(user_id % 8 AS VARCHAR) AS bucket, count(*) AS n,
       | min(t) AS t_min, max(t) AS t_max, CAST(sum(cents) AS BIGINT) AS vsum_c
       |FROM e GROUP BY 1""".stripMargin

  val defs: Map[String, Q] = Map(
    "q31_feature_assembly" -> q31,
    "q38_fused_stack" -> q38,
    "q41_checkpoint_roundtrip" -> q41,
    "q13_lag_lead" -> q13,
    "q14_backfill" -> q14,
    "q15_sessionize" -> q15,
    "q16_session_agg" -> q16,
    "q17_rolling" -> q17,
    "q18_tumbling" -> q18)

  val oracles: Map[String, String] = Map(
    "q31_feature_assembly" -> q31Sql,
    "q38_fused_stack" -> q38Sql,
    "q41_checkpoint_roundtrip" -> q41Sql,
    "q13_lag_lead" -> q13Sql,
    "q14_backfill" -> q14Sql,
    "q15_sessionize" -> q15Sql,
    "q16_session_agg" -> q16Sql,
    "q17_rolling" -> q17Sql,
    "q18_tumbling" -> q18Sql)
}
