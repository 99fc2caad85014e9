package graft

import com.fasterxml.jackson.databind.ObjectMapper
import graft.runtime.Checkpoint

import java.nio.file.{Files, Paths}

/** Resume-from-checkpoint == single-run output (north_rule); committed
  * partitions are not recomputed; manifests carry lineage + metrics.
  */
class CheckpointSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(): String =
    Files.createTempDirectory("graft_ckpt").toString

  private val data = (0 until 1000)
    .map(i => (s"b${i % 4}", i.toLong, i.toLong * 3 % 97))
    .toDF("bucket", "t", "v")
  private val buckets = Seq("b0", "b1", "b2", "b3")

  test("partial run + resume == single run; committed buckets skipped") {
    val single = freshDir()
    Checkpoint.runPartitioned(data, "bucket", buckets, single, "t")

    val resumed = freshDir()
    // crash after two partitions
    val r1 = Checkpoint.runPartitioned(data, "bucket", buckets.take(2), resumed, "t")
    assert(r1.written.map(_.bucket) == Seq("b0", "b1"))
    // resume with the full bucket list
    val r2 = Checkpoint.runPartitioned(data, "bucket", buckets, resumed, "t")
    assert(r2.skipped.toSet == Set("b0", "b1"), "committed partitions must be skipped")
    assert(r2.written.map(_.bucket) == Seq("b2", "b3"))

    val a = Checkpoint.readCommitted(spark, single, "bucket", buckets)
      .collect().map(_.toSeq).toSet
    val b = Checkpoint.readCommitted(spark, resumed, "bucket", buckets)
      .collect().map(_.toSeq).toSet
    assert(a == b, "resume-from-checkpoint must equal single-run output")
  }

  test("manifest carries per-partition lineage + throughput") {
    val dir = freshDir()
    val r = Checkpoint.runPartitioned(data, "bucket", Seq("b0"), dir, "t",
      inputFingerprint = "unit-test-input")
    val m = r.written.head
    assert(m.rows == 250)
    assert(m.tMin == 0 && m.tMax == 996)
    assert(m.rowsPerSec > 0 && m.durationSec > 0)
    assert(m.planHash.nonEmpty)
    val onDisk = new String(Files.readAllBytes(
      Paths.get(s"$dir/_manifests/bucket=b0.json")))
    assert(onDisk.contains("\"rows\":250") && onDisk.contains("unit-test-input"))
  }

  test("bucket values needing partition-path escaping round-trip (ADVICE r3)") {
    // ':' '/' '%' are escaped by Spark's partition writer; the per-bucket
    // stats must match the bucket values themselves, and readCommitted must
    // build the SAME escaped dir names, or these buckets silently record
    // rows=0 (or read back nothing) despite data landing.
    // '"' and '\' must also survive in the JSON manifest.
    val odd = Seq("a:b", "p/q", "100%", "a\"b", "c\\d")
    val d2 = odd.zipWithIndex.flatMap { case (b, i) =>
      (0 until 10).map(j => (b, (i * 10 + j).toLong, j.toLong))
    }.toDF("bucket", "t", "v")
    val dir = freshDir()
    val r = Checkpoint.runPartitioned(d2, "bucket", odd, dir, "t")
    assert(r.written.map(_.bucket).toSet == odd.toSet)
    assert(r.written.forall(_.rows == 10),
      s"stats must resolve escaped partition dirs: ${r.written.map(m => m.bucket -> m.rows)}")
    assert(Checkpoint.readCommitted(spark, dir, "bucket", odd).count() == 50)
    val manifests = Files.list(Paths.get(s"$dir/_manifests")).toArray.map(_.asInstanceOf[java.nio.file.Path])
    assert(manifests.map(m => new ObjectMapper().readTree(Files.readAllBytes(m)).get("bucket").asText)
      .toSet == odd.toSet, "every manifest parses as JSON and reads its bucket back")
    val r2 = Checkpoint.runPartitioned(d2, "bucket", odd, dir, "t")
    assert(r2.skipped.toSet == odd.toSet, "escaped buckets must be seen as committed on resume")
  }

  test("a bucket with no input rows commits zeros and no partition; null times are ignored") {
    val d = Seq[(String, java.lang.Long, Long)](("n", 5L, 1L), ("n", null, 2L), ("n", 9L, 3L),
      ("n", null, 4L), ("z", null, 5L)).toDF("bucket", "t", "v")
    val dir = freshDir()
    val r = Checkpoint.runPartitioned(d, "bucket", Seq("n", "empty", "z"), dir, "t")
    assert(r.written.map(m => m.bucket -> (m.rows, m.tMin, m.tMax)).toMap == Map(
      "n" -> (4L, 5L, 9L), "empty" -> (0L, 0L, 0L), "z" -> (1L, 0L, 0L)))
    assert(Checkpoint.isCommitted(dir, "empty"))
    assert(!Files.exists(Paths.get(s"$dir/bucket=empty")), "a zero-row bucket writes no partition")
    assert(Files.exists(Paths.get(s"$dir/bucket=n")) && Files.exists(Paths.get(s"$dir/bucket=z")))
    // a write with no rows at all still commits its pending buckets
    val none = Checkpoint.runPartitioned(d, "bucket", Seq("gone"), freshDir(), "t")
    assert(none.written.map(m => (m.bucket, m.rows, m.tMin, m.tMax)) == Seq(("gone", 0L, 0L, 0L)))
  }
}
