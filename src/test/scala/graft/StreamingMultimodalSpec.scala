package graft

import graft.ops.Multimodal
import graft.streaming.StreamingFeatures
import org.apache.spark.sql.functions._

import java.nio.file.Files

class StreamingMultimodalSpec extends SparkSpec {
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  test("streaming tumbling agg == batch tumbling agg (parity contract)") {
    val schema = spark.read.parquet(s"$sfDir/events.parquet").schema
    // file-source needs a directory of matching files: stage one
    val dir = Files.createTempDirectory("stream_in").toString
    spark.read.parquet(s"$sfDir/events.parquet").write.parquet(s"$dir/in")
    val sdf = spark.readStream.schema(schema).parquet(s"$dir/in")
    val q = StreamingFeatures.tumblingCounts(sdf, "1 hour", "10 minutes")
      .writeStream.format("memory").queryName("tumb").outputMode("complete").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("tumb")
      .select(col("window.start").cast("long"), col("user_id"), col("n"))
      .as[(Long, Long, Long)].collect().toSet
    val exp = spark.read.parquet(s"$sfDir/events.parquet")
      .withColumn("ts", col("ts").cast("timestamp"))
      .groupBy(window(col("ts"), "1 hour"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").cast("long"), col("user_id"), col("n"))
      .as[(Long, Long, Long)].collect().toSet
    assert(got == exp, "streaming result must equal batch result on the same data")
  }

  test("micro-batch foreachBatch merge == single-pass aggregate (depth.rs batching)") {
    val dir = Files.createTempDirectory("mb").toString
    // split events into 4 files to force multiple micro-batches
    spark.read.parquet(s"$sfDir/events.parquet").repartition(4)
      .write.parquet(s"$dir/in")
    val schema = spark.read.parquet(s"$dir/in").schema
    val sdf = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/in")
    val q = StreamingFeatures.microBatchAggregate(sdf, s"$dir/state_root")
    q.awaitTermination()
    val got = spark.read.parquet(s"$dir/state_root/state")
      .select("user_id", "n").as[(Long, Long)].collect().toMap
    val exp = spark.read.parquet(s"$sfDir/events.parquet")
      .groupBy("user_id").agg(count(lit(1)).as("n"))
      .as[(Long, Long)].collect().toMap
    assert(got == exp, "cross-batch merged state must equal one-shot aggregate")
  }

  test("streaming as-of (flatMapGroupsWithState) == batch as-of, across micro-batches") {
    import graft.ops.AsOfJoin
    // a null-entity feature and probe: a null entity never matches; a
    // null value (u4) carried across the batches stays null
    val feats = Seq[(String, Long, java.lang.Double)](("u1", 10L, 1.0), ("u1", 20L, 2.0),
      ("u2", 5L, 5.0), (null, 3L, 9.0), ("u4", 10L, null))
      .toDF("entity", "t", "value")
    val probes = Seq(("u1", 9L, 100L), ("u1", 10L, 101L), ("u1", 25L, 102L),
      ("u2", 4L, 103L), ("u3", 7L, 104L), (null, 8L, 105L), ("u4", 12L, 106L))
      .toDF("entity", "t", "probe_id")
    val exp = AsOfJoin.windowed(probes, feats)
      .select("probe_id", "f_t", "value")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) null else r.getLong(1),
        if (r.isNullAt(2)) null else r.getDouble(2))).toSet
    assert(exp.contains((105L, null, null)), s"a null entity never matches: $exp")
    assert(exp.contains((106L, 10L, null)), s"a null value stays null: $exp")

    val tagged = StreamingFeatures.taggedUnion(probes, feats)
    val dir = Files.createTempDirectory("asof_stream").toString
    // stage two TIME-ORDERED micro-batches (t <= 10, then the rest): state
    // must carry earlier features into later batches
    tagged.where(col("t") <= 10).coalesce(1).write.parquet(s"$dir/in")
    val schema = spark.read.parquet(s"$dir/in").schema
    val sdf = spark.readStream.schema(schema).parquet(s"$dir/in")
    val out = StreamingFeatures.streamingAsOf(sdf.as[graft.streaming.AsOfEvent])
    val q = out.writeStream.format("memory").queryName("sasof").outputMode("append").start()
    q.processAllAvailable()
    tagged.where(col("t") > 10).coalesce(1).write.mode("append").parquet(s"$dir/in")
    q.processAllAvailable()
    q.stop()
    val got = spark.table("sasof").select("probe_id", "f_t", "value")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) null else r.getLong(1),
        if (r.isNullAt(2)) null else r.getDouble(2))).toSet
    assert(got == exp, s"streaming as-of must equal batch as-of: $got vs $exp")
  }

  test("taggedExplode (one-scan feed) == taggedUnion on a shared-source stream") {
    // the q40 shape: every event probes; every third also publishes a feature
    val e = Seq((1L, "u1", 10L), (2L, "u1", 20L), (3L, "u2", 5L),
      (4L, "u2", 7L), (5L, "u3", 1L), (6L, "u3", 2L), (7L, "u1", 30L))
      .toDF("event_id", "entity", "t")
    val probes = e.select(col("entity"), col("t"), col("event_id").as("probe_id"))
    val feats = e.where(col("event_id") % 3 === 0)
      .select(col("entity"), col("t"), (col("t") % 997).cast("double").as("value"))
    val viaUnion = StreamingFeatures.taggedUnion(probes, feats)
      .collect().map(ev => (ev.entity, ev.t, ev.tag, Option(ev.probe_id), Option(ev.value)))
      .toSet
    val viaExplode = StreamingFeatures.taggedExplode(e, col("entity"), col("t"),
        col("event_id"), (col("t") % 997).cast("double"), col("event_id") % 3 === 0)
      .collect().map(ev => (ev.entity, ev.t, ev.tag, Option(ev.probe_id), Option(ev.value)))
      .toSet
    assert(viaExplode == viaUnion,
      s"one-scan tagged feed must equal the two-branch union: $viaExplode vs $viaUnion")
  }

  test("multimodal: binary schema, batched feature extraction, frame sampling") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val bin = Multimodal.asBinaryTable(docs)
    assert(bin.schema("payload").dataType.typeName == "binary")
    val feats = Multimodal.extractFeatures(bin, batchSize = 64)
    val rows = feats.collect()
    assert(rows.length == docs.count())
    assert(rows.forall(_.getAs[scala.collection.Seq[Float]]("features").length == 16))
    // histogram sums to ~1 (normalized by length)
    val s = rows.head.getAs[scala.collection.Seq[Float]]("features").sum
    assert(math.abs(s - 1.0f) < 1e-3)
    // deterministic across partitionings
    val a = feats.select("doc_id", "features").collect()
      .map(r => r.getString(0) -> r.getAs[scala.collection.Seq[Float]](1)).toMap
    val b = Multimodal.extractFeatures(bin.repartition(7), 64)
      .select("doc_id", "features").collect()
      .map(r => r.getString(0) -> r.getAs[scala.collection.Seq[Float]](1)).toMap
    assert(a == b)
    val fs = Multimodal.frameSample(bin, stride = 16, maxFrames = 8).collect()
    assert(fs.forall(_.getLong(2) <= 8))
  }
}
