package graft.index

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.ops.{BroadcastSide, Closure}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.storage.StorageLevel

import java.nio.file.{Files, Paths}
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.util.Try

/** The index-build job (reference lifecycle §3.1, index_builder/core.rs:41-242)
  * re-expressed as a 5-stage Spark pipeline producing persisted index
  * tables — the Spark-native analog of the 8 sidecar files:
  *
  *  - features (+ fid, root_fid)  ≙ .fts/.prt resolved     (dense ids)
  *  - attr dictionary (aid)       ≙ .atn/.a2f
  *  - entity dictionary           ≙ .sqs
  *  - group extents               ≙ .gof
  *  - interval table, range-partitioned by (entity, start) ≙ .rit/.rix
  *
  * Stages: (0) project the parse to the served columns and cache it;
  * (1) dense fids by file order; (2) entity and (3) attr dictionaries;
  * (4) parent closure to roots; (5) group extents and the interval table.
  *
  * Dense ids come from `row_number` over a TOTAL order (line_no), not
  * `monotonically_increasing_id` — reproducible at any parallelism
  * (SURVEY.md §7 "what's hard" #1). Cost: one global sort at index time,
  * amortized over every query after (index-once/query-many, README.md:383).
  *
  * Stage 4 resolves names to fids with a distributed join either way. An
  * index of at most [[BroadcastSide.MaxRows]] features (counted
  * by stage 1's zip) then collects its edges in one job, runs the pointer
  * doubling on the driver over a `long[]` indexed by fid
  * ([[Closure.resolveRootsDense]]) and attaches `root_fid` from a
  * broadcast of that array; a larger one runs the distributed
  * [[Closure.resolveRootsReleasable]]. Both give the same roots.
  *
  * [[write]] stores each table as parquet under `dir/<name>` and commits
  * with `dir/manifest.json`, written last:
  * `{"<name>": {"rows": <count>, "schema": <Spark StructType JSON>}, ...}`.
  * [[load]] reads the tables with those schemas, so it starts no job.
  */
object IndexBuild {

  final case class IndexTables(
      features: DataFrame, // line_no, fid, entity_id, seqid, ftype, start, end, id, parent, attr, root_fid, aid
      entityDict: DataFrame, // seqid -> entity_id (first-appearance order, core.rs:153,171-176)
      attrDict: DataFrame, // attr -> aid (u32::MAX null sentinel -> SQL null)
      groupExtents: DataFrame, // root_fid -> n, min line_no, max line_no, min start, max end
      intervals: DataFrame, // entity_id, start, end, root_fid (≙ tree payload tree.rs:6-10)
      releaseScratch: () => Unit = () => ()) { // frees the BUILD-time scratch (persisted parse and stage-1 rows + closure state); call once the tables themselves are cached/persisted

    /** (name on disk, table), features first: every other table derives from it. */
    private[graft] def named: Seq[(String, DataFrame)] = Seq(
      "features" -> features, "entity_dict" -> entityDict, "attr_dict" -> attrDict,
      "group_extents" -> groupExtents, "intervals" -> intervals)
  }

  /** Build all index tables from a parsed GFF DataFrame (GffSource.parse). */
  def build(parsed: DataFrame): IndexTables = build(parsed, BroadcastSide.MaxRows)

  /** [[build]] with the largest index whose closure runs on the driver. */
  private[graft] def build(parsed: DataFrame, driverClosureMaxRows: Long): IndexTables = {
    // stage 0: materialize the parse ONCE. Without this the parse plan
    // (text split + regex extraction — the widest expressions in the whole
    // engine) executes twice before stage 1 completes: the range
    // partitioner's sampling pass and the shuffle's map stage. The rows are
    // persisted at the RDD level: the sampling pass reads every row, so it
    // fills them, where a cached plan would cost a job of its own to fill.
    // Build-time scratch, freed by releaseScratch() with the rest.
    //
    // r6: project to the columns the index actually serves BEFORE the
    // persist and the stage-1 range exchange (guide §2.3 "project before
    // the exchange"): the parse also carries source/score/strand/phase and
    // the RAW attrs string — none reach any index table, but they were
    // cached, range-shuffled and zipped through stage 1 (attrs is the
    // widest column in the corpus).
    val servedDf = parsed.select(Seq("line_no", "seqid", "ftype", "start", "end", "id", "parent", "attr")
      .map(col): _*)
    val parsedRows = servedDf.queryExecution.toRdd.map(_.copy()).persist(StorageLevel.MEMORY_AND_DISK)
    val parsedC = org.apache.spark.sql.graftx.InternalRows.create(
      parsed.sparkSession, parsedRows, servedDf.schema)
    // stage 1: dense fid by file order (≙ fid = row ordinal, core.rs:141-144).
    // NOT row_number() over an unpartitioned Window — that funnels the whole
    // corpus through ONE task ("Moving all data to a single partition").
    // Range-partition on line_no + per-partition zip gives the identical
    // rank fully distributed (partitions are ordered ranges, rows sorted
    // within, line_no unique -> index == global rank), at the cost of one
    // per-partition count job, which also persists the sorted rows and
    // yields the feature count. The zip runs at the InternalRow level
    // (graftx.InternalZip) — the old `.rdd.zipWithIndex()` +
    // createDataFrame paid two full external-Row serde passes over the
    // corpus just to append the ordinal (guide §1.2 per-task work).
    val sorted = parsedC.repartitionByRange(col("line_no"))
      .sortWithinPartitions(col("line_no"))
    val (feats, nFeats, releaseFeats) =
      org.apache.spark.sql.graftx.InternalZip.withOrdinal(sorted, "fid")

    // stage 2: entity dictionary in first-appearance order (core.rs:153).
    // The unpartitioned row_number windows below run on POST-AGGREGATION
    // rows (one per distinct seqid / attr) — dictionary-sized, not
    // corpus-sized, so the single-partition sort is bounded by construction.
    val entityDict = feats.groupBy(col("seqid"))
      .agg(min(col("line_no")).as("first_ln"))
      .withColumn("entity_id", row_number().over(Window.orderBy(col("first_ln"))).cast("long") - 1)
      .drop("first_ln")

    // stage 3: attr dictionary; missing attr ≙ u32::MAX sentinel -> null aid
    val attrDict = feats.where(col("attr").isNotNull)
      .groupBy(col("attr")).agg(min(col("fid")).as("first_fid"))
      .withColumn("aid", row_number().over(Window.orderBy(col("first_fid"))).cast("long") - 1)
      .drop("first_fid")

    // stage 4: parent closure to roots (string ids; missing Parent -> self,
    // core.rs:162-168); resolve names -> fids, then pointer-double.
    val nameToFid = feats.where(col("id").isNotNull)
      .groupBy(col("id")).agg(min(col("fid")).as("pfid"))
    val edges = feats
      .join(nameToFid.withColumnRenamed("id", "parent").withColumnRenamed("pfid", "parent_fid"),
        Seq("parent"), "left")
      .select(col("fid").as("id"),
        coalesce(col("parent_fid"), col("fid")).as("parent"))
    val (rooted, releaseClosure) =
      if (nFeats <= driverClosureMaxRows) (rootsOnDriver(feats, edges, nFeats), () => ())
      else {
        val (roots, release) = Closure.resolveRootsReleasable(edges)
        (feats.join(roots.withColumnRenamed("id", "fid").withColumnRenamed("root", "root_fid"), "fid"),
          release)
      }

    val full = rooted
      .join(entityDict, "seqid")
      .join(attrDict, Seq("attr"), "left")
      .select("line_no", "fid", "entity_id", "seqid", "ftype", "start", "end",
        "id", "parent", "attr", "aid", "root_fid")

    // Serving dictionaries are RE-DERIVED from the features table (which
    // carries entity_id/aid columns), not returned as the build-time plans
    // over the stage-1 scratch: once a caller caches `features`, every
    // other index table is a small aggregate READING THROUGH that one
    // cache, and releaseScratch() can free the scratch without any table
    // silently re-running the parse (≙ the sidecar model: .sqs/.atn are
    // projections of the indexed feature table).
    val entityDictOut = full.select(col("seqid"), col("entity_id")).distinct()
    val attrDictOut = full.where(col("attr").isNotNull)
      .select(col("attr"), col("aid")).distinct()

    // stage 5: group extents (≙ .gof, core.rs:182-203) + interval table
    val groupExtents = full.groupBy(col("root_fid"))
      .agg(count(lit(1)).as("n"),
        min(col("line_no")).as("ln_start"), max(col("line_no")).as("ln_end"),
        min(col("start")).as("g_start"), max(col("end")).as("g_end"),
        first(col("entity_id")).as("entity_id"))

    // root interval per group on its entity; range-partitioned like the
    // per-seqid trees (.rit/.rix): co-located probes hit one partition.
    val intervals = groupExtents
      .select(col("entity_id"), col("g_start").as("start"), col("g_end").as("end"),
        col("root_fid"))
      .repartitionByRange(col("entity_id"), col("start"))
      .sortWithinPartitions(col("entity_id"), col("start"))

    IndexTables(full, entityDictOut, attrDictOut, groupExtents, intervals,
      // build-time scratch: the persisted parse and stage-1 rows + the
      // distributed closure's last round.
      // Callers that cache/persist the returned tables should call
      // this afterwards — every plan above reads THROUGH these caches, so
      // releasing early just means recomputing the parse on next use
      releaseScratch = () => { parsedRows.unpersist(false); releaseFeats(); releaseClosure() })
  }

  /** `feats` plus `root_fid`, resolved on the driver: one job collects the
    * n (fid, parent fid) edges, packed as longs, the pointer doubling runs
    * over a `long[]` indexed by fid, and a broadcast of the roots serves
    * the column. The caller bounds n by the broadcast cap.
    */
  private def rootsOnDriver(feats: DataFrame, edges: DataFrame, n: Long): DataFrame = {
    val parent = new Array[Long](n.toInt)
    edges.queryExecution.toRdd.mapPartitions { it =>
      val b = new scala.collection.mutable.ArrayBuilder.ofLong
      it.foreach { r => b += r.getLong(0); b += r.getLong(1) }
      Iterator.single(b.result())
    }.collect().foreach { pairs =>
      // one edge per feature, fids dense in 0 until n
      var i = 0
      while (i < pairs.length) { parent(pairs(i).toInt) = pairs(i + 1); i += 2 }
    }
    val roots = feats.sparkSession.sparkContext.broadcast(Closure.resolveRootsDense(parent))
    val rootOf = udf((fid: Long) => roots.value(fid.toInt)).asNonNullable()
    feats.withColumn("root_fid", rootOf(col("fid")))
  }

  /** How long [[write]] waits for its tables. */
  private val WriteTimeout = 1.hour

  /** How long a failed [[write]] waits for its cancelled jobs to end. */
  private val CancelGrace = 1.minute

  /** Persist index tables as parquet + a JSON manifest
    * (≙ writing the sidecars, core.rs:221-236 + tree_io.rs:37-63).
    *
    * `features` is computed once: unless the caller has cached it, it is
    * persisted for the duration of the write, written first, and the four
    * derived tables are then written through that cache, in parallel
    * (guide §2.6 "overlap independent jobs"). Each table's row count is
    * observed by its own write, as the rows enter the writer. The manifest
    * is written last, so a failed write leaves none.
    *
    * Waits at most an hour in all. On the first failure or the timeout,
    * the write's job group is cancelled, the other writes are given
    * [[CancelGrace]] to end, and the first error is rethrown.
    */
  def write(t: IndexTables, dir: String): Unit = write(t, dir, WriteTimeout)

  /** [[write]] with its time bound. */
  private[graft] def write(t: IndexTables, dir: String, timeout: FiniteDuration): Unit = {
    val sc = t.features.sparkSession.sparkContext
    val deadline = timeout.fromNow
    val manifest = Paths.get(s"$dir/manifest.json")
    Files.deleteIfExists(manifest)
    val ownCache = t.features.storageLevel == StorageLevel.NONE
    if (ownCache) t.features.persist()
    val group = s"graft-index-write-${java.util.UUID.randomUUID()}"
    val pool = java.util.concurrent.Executors.newFixedThreadPool(t.named.length - 1)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    var started = Seq.empty[Future[Long]]
    // waits for every table of the batch and returns its row counts;
    // fails at the first failure
    def writeAll(batch: Seq[(String, DataFrame)]): Seq[Long] = {
      val fs = batch.map { case (name, df) =>
        Future {
          sc.setJobGroup(group, s"index write: $name", interruptOnCancel = true)
          val obs = Observation()
          df.observe(obs, count(lit(1)).as("rows")).write.mode("overwrite").parquet(s"$dir/$name")
          Await.result(obs.future, deadline.timeLeft).getLong(0)
        }
      }
      started ++= fs
      Await.result(Future.sequence(fs), deadline.timeLeft)
    }
    val rows = try {
      writeAll(t.named.take(1)) ++ writeAll(t.named.drop(1))
    } catch {
      case e: Throwable =>
        sc.cancelJobGroupAndFutureJobs(group)
        val grace = CancelGrace.fromNow
        started.foreach(f => Try(Await.ready(f, grace.timeLeft)))
        throw e
    } finally {
      pool.shutdown()
      if (ownCache) t.features.unpersist(false)
    }
    val mapper = new ObjectMapper()
    val json = mapper.createObjectNode()
    for (((name, df), n) <- t.named.zip(rows)) {
      val entry = json.putObject(name)
      entry.put("rows", n)
      // parquet stores every column as nullable; record what a read infers
      val schema = StructType(df.schema.fields.map(_.copy(nullable = true)))
      entry.set[JsonNode]("schema", mapper.readTree(schema.json))
    }
    Files.write(manifest, mapper.writeValueAsBytes(json))
  }

  /** Open an index written by [[write]], with the schemas its manifest
    * records: no schema inference, so no job. */
  def load(spark: SparkSession, dir: String): IndexTables = {
    val manifest = new ObjectMapper().readTree(Files.readAllBytes(Paths.get(s"$dir/manifest.json")))
    def table(name: String): DataFrame = {
      val schema = DataType.fromJson(manifest.get(name).get("schema").toString)
      spark.read.schema(schema.asInstanceOf[StructType]).parquet(s"$dir/$name")
    }
    IndexTables(table("features"), table("entity_dict"), table("attr_dict"),
      table("group_extents"), table("intervals"))
  }
}
