package graft

import graft.ops.WindowFeatures
import graft.model.Synth
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class WindowFeaturesSpec extends SparkSpec {
  import spark.implicits._

  private val ev = Seq(
    // entity, t, value
    ("u", 0L, Some(1.0)), ("u", 10L, None), ("u", 20L, Some(3.0)),
    ("u", 2000L, Some(4.0)), ("u", 2010L, None),
    ("v", 5L, Some(9.0))).toDF("entity", "event_time", "value")

  test("backfill carries last non-null forward, never backward") {
    val got = WindowFeatures.backfill(ev, "value")
      .select("entity", "event_time", "value_ff")
      .as[(String, Long, Option[Double])].collect().toSet
    assert(got == Set(
      ("u", 0L, Some(1.0)), ("u", 10L, Some(1.0)), ("u", 20L, Some(3.0)),
      ("u", 2000L, Some(4.0)), ("u", 2010L, Some(4.0)), ("v", 5L, Some(9.0))))
  }

  test("sessionize breaks on gap > threshold") {
    val got = WindowFeatures.sessionize(ev, gap = 100L)
      .select("entity", "event_time", "session_id")
      .as[(String, Long, Long)].collect().toSet
    assert(got == Set(
      ("u", 0L, 0L), ("u", 10L, 0L), ("u", 20L, 0L),
      ("u", 2000L, 1L), ("u", 2010L, 1L), ("v", 5L, 0L)))
  }

  test("lag/lead per entity ordered by time") {
    val got = WindowFeatures.lagLead(ev, "value", Seq(1))
      .where(col("entity") === "u")
      .orderBy("event_time")
      .select("value_lag1", "value_lead1")
      .as[(Option[Double], Option[Double])].collect().toSeq
    assert(got == Seq(
      (None, None), (Some(1.0), Some(3.0)), (None, Some(4.0)),
      (Some(3.0), None), (Some(4.0), None)))
  }

  // --- stack's contract: the same columns and values as composing the
  // single-feature operators, at any partitioning ---------------------------

  private def byEventId(df: DataFrame): Map[Long, Seq[Any]] = {
    val cols = df.columns.sorted
    df.select(cols.map(col): _*).collect()
      .map(r => r.getLong(cols.indexOf("event_id")) -> r.toSeq).toMap
  }

  private def composed(df: DataFrame, lagOffsets: Seq[Int], rollN: Int, gap: Long) = {
    val tb = "event_id"
    val lagged = WindowFeatures.lagLead(df, "value", lagOffsets, tiebreak = tb)
    val filled = WindowFeatures.backfill(lagged, "value", tiebreak = tb)
    val rolled = WindowFeatures.rolling(filled, "cents", rollN, tiebreak = tb)
    WindowFeatures.sessionize(rolled, gap, tiebreak = tb)
  }

  test("stack == sessionize . rolling . backfill . lagLead (nulls, dup ts, entities, partitioning)") {
    val ev = Synth.events(spark, 20000L, nEntities = 37)
      .withColumn("cents",
        when(col("value").isNotNull, round(col("value") * 100).cast("long")))
    val expected = byEventId(composed(ev, Seq(1, 2), 5, gap = 40L))
    def stacked(df: DataFrame) = byEventId(WindowFeatures.stack(df, "value", Seq(1, 2),
      "value", "cents", 5, gap = 40L, tiebreak = "event_id"))
    assert(expected.size == 20000)
    assert(stacked(ev) == expected)
    assert(stacked(ev.repartition(3)) == expected)
  }

  test("stack == composed operators: single-row entities, all-null value entity") {
    val df = Seq(
      ("a", 1L, 10L, Option.empty[Double], Option(5L)),
      ("b", 2L, 10L, Option(1.5), Option.empty[Long]),
      ("b", 3L, 11L, Option.empty[Double], Option(7L)),
      ("b", 4L, 99L, Option(2.5), Option(9L))
    ).toDF("entity", "event_id", "event_time", "value", "cents")
    val stacked = WindowFeatures.stack(df, "value", Seq(1), "value", "cents", 2,
      gap = 10L, tiebreak = "event_id")
    assert(byEventId(stacked) == byEventId(composed(df, Seq(1), 2, gap = 10L)))
    // session break: t jumps 11 -> 99 with gap 10 -> new session
    val sess = stacked.where(col("event_id") === 4).select("session_id").collect()(0).getLong(0)
    assert(sess == 1L)
  }

  test("synthetic token_seqs: n_tok == tokens.length, identical across parallelism (input_hint invariant)") {
    val a = Synth.tokenSeqs(spark, 500).collect()
    assert(a.forall(r => r.getAs[scala.collection.Seq[Int]]("tokens").length == r.getAs[Int]("n_tok")))
    val b = Synth.tokenSeqs(spark, 500).repartition(13).collect()
    val am = a.map(r => r.getString(0) -> r.getAs[scala.collection.Seq[Int]]("tokens")).toMap
    val bm = b.map(r => r.getString(0) -> r.getAs[scala.collection.Seq[Int]]("tokens")).toMap
    assert(am == bm, "token-array equality per row at any parallelism")
    // skew fixture present: some docs get ~5x max length
    assert(a.exists(_.getAs[Int]("n_tok") > 512))
  }
}
