package graft.runtime

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.concurrent.Await
import scala.concurrent.duration._

/** Resumable partitioned job runner: Iceberg-style per-partition commit
  * protocol over plain parquet (no Iceberg jar ships in /opt/spark/jars —
  * SURVEY.md §7). Each logical partition (a bucket of the partition column)
  * is written independently; a JSON manifest is committed ATOMICALLY
  * (write-tmp + rename) after the partition's data lands. On resume,
  * partitions with a committed manifest are skipped — re-running a crashed
  * job converges to the same output (idempotent; checked by
  * CheckpointSpec).
  *
  * The manifest doubles as per-partition LINEAGE + METRICS (north_rule):
  * row count, min/max of the time column, wall-clock duration, throughput,
  * input fingerprint and the Catalyst plan's semanticHash.
  *
  * ≙ the reference's sidecar-index discipline: index once into versioned
  * artifacts next to the data, then serve queries from the artifacts
  * (README.md:383-395, src/utils/common.rs:151-170).
  */
object Checkpoint {

  final case class PartitionManifest(
      bucket: String,
      rows: Long,
      tMin: Long,
      tMax: Long,
      durationSec: Double,
      rowsPerSec: Double,
      planHash: String,
      inputFingerprint: String)

  final case class RunReport(
      written: Seq[PartitionManifest],
      skipped: Seq[String])

  /** Partition directory name for a bucket value, escaped with the SAME
    * rule Spark's partition writer uses (ExternalCatalogUtils — Hive-style
    * %XX for '/', ':', '%', control chars, ...). ADVICE r3: building raw
    * "$col=$value" paths silently missed every bucket whose value needs
    * escaping — the File.exists filter dropped them and their manifests
    * recorded rows=0 despite data landing.
    */
  private def partitionDirName(bucketCol: String, bucket: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      .getPartitionPathString(bucketCol, bucket)

  private def manifestPath(outDir: String, bucket: String) =
    Paths.get(s"$outDir/_manifests/" +
      partitionDirName("bucket", bucket) + ".json")

  def isCommitted(outDir: String, bucket: String): Boolean =
    Files.exists(manifestPath(outDir, bucket))

  private def writeAtomic(path: java.nio.file.Path, content: Array[Byte]): Unit = {
    Files.createDirectories(path.getParent)
    val tmp = path.resolveSibling(path.getFileName.toString + ".tmp")
    Files.write(tmp, content)
    Files.move(tmp, path, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  private def json(m: PartitionManifest): Array[Byte] = {
    val mapper = new ObjectMapper()
    val o = mapper.createObjectNode()
    o.put("bucket", m.bucket).put("rows", m.rows).put("t_min", m.tMin).put("t_max", m.tMax)
      .put("duration_sec", m.durationSec).put("rows_per_sec", m.rowsPerSec)
      .put("plan_hash", m.planHash).put("input_fingerprint", m.inputFingerprint)
    mapper.writeValueAsBytes(o)
  }

  /** How long [[runPartitioned]] waits, once its write has returned, for
    * the write's observed statistics to be delivered. */
  private val StatsTimeout = 1.minute

  /** Run `job` per bucket of `bucketCol`, committing each partition with a
    * manifest; skips already-committed buckets (resume). `timeCol` feeds
    * the manifest's min/max lineage stats.
    *
    * The input plan is computed exactly once, by one partitioned write of
    * every pending bucket (dynamic partition overwrite leaves committed
    * partition directories untouched). The manifest statistics are
    * counted as the rows enter the writer: an `Observation` directly
    * above the write computes, per pending bucket, its rows and the min
    * and max of its non-null times (0 where there are none). Manifests
    * commit atomically after the data lands, so a crash, or an
    * observation that does not arrive in time, leaves no manifest and a
    * rerun converges.
    */
  def runPartitioned(
      df: DataFrame,
      bucketCol: String,
      buckets: Seq[String],
      outDir: String,
      timeCol: String,
      inputFingerprint: String = ""): RunReport = {
    val planHash = df.queryExecution.analyzed.semanticHash().toHexString
    val (pending, skipped) =
      buckets.partition(b => !isCommitted(outDir, b))
    if (pending.isEmpty) return RunReport(Nil, skipped)
    val bucket = col(bucketCol).cast("string")
    val stats = pending.zipWithIndex.flatMap { case (b, i) =>
      val in = bucket === lit(b)
      Seq(count_if(in).as(s"rows$i"), min(when(in, col(timeCol))).as(s"tMin$i"),
        max(when(in, col(timeCol))).as(s"tMax$i"))
    }
    val obs = Observation()
    val t0 = System.nanoTime()
    df.where(col(bucketCol).isin(pending: _*))
      .observe(obs, stats.head, stats.tail: _*)
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(bucketCol)
      .parquet(outDir)
    val row = Await.result(obs.future, StatsTimeout)
    val dt = (System.nanoTime() - t0) / 1e9
    val manifests = pending.zipWithIndex.map { case (b, i) =>
      def orZero(j: Int) = if (row.isNullAt(j)) 0L else row.getLong(j)
      val rows = row.getLong(3 * i)
      val m = PartitionManifest(b, rows, orZero(3 * i + 1), orZero(3 * i + 2),
        dt, if (dt > 0) rows / dt else 0.0, planHash, inputFingerprint)
      writeAtomic(manifestPath(outDir, b), json(m))
      m
    }
    RunReport(manifests, skipped)
  }

  /** Read back the committed output (all buckets). The bucket column round-
    * trips through the partition directory name (standard partition-type
    * inference; it is appended as the LAST column of the result).
    */
  def readCommitted(spark: SparkSession, outDir: String, bucketCol: String,
      buckets: Seq[String]): DataFrame = {
    val paths = buckets.filter(isCommitted(outDir, _))
      .map(b => s"$outDir/${partitionDirName(bucketCol, b)}")
      .filter(p => new java.io.File(p).exists) // committed-but-empty bucket
    spark.read.option("basePath", outDir).parquet(paths: _*)
  }
}
