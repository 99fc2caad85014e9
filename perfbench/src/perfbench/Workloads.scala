package perfbench

import graft.index.{GffOps, IndexBuild}
import graft.ops.{AsOfJoin, Contained, Coverage, IntervalJoin, Overlap, WindowFeatures}
import graft.runtime.Checkpoint
import graft.sources.GffSource
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import java.io.File
import scala.collection.mutable

/** One benchmark workload: seeded inputs written once per set-up round,
  * then cycles of client work timed by the caller's closed loop. */
trait Workload {
  /** Write the seeded inputs under `dir` (same seed, same files). */
  def generate(spark: SparkSession, dir: String, seed: Long): Unit
  /** Bind the generated files, which are all the client reads; part of
    * each set-up round. */
  def open(ctx: Ctx, rec: Recorder, dir: String, seed: Long): Unit
  /** One cycle of client work. */
  def cycle(ctx: Ctx, rec: Recorder): Unit
  /** Untimed cycles after the set-up rounds: enough that the timed
    * cycles no longer speed up as the JIT warms. */
  def warmupCycles: Int
  /** Correctness checks that compare whole outputs, outside timing. */
  def check(ctx: Ctx, rec: Recorder): Unit
  /** Drop the client's outputs. */
  def close(): Unit
  /** Input sizes and shape, as JSON. */
  def describe: String
}

object Workloads {
  def byName(name: String): Workload = name match {
    case "feature_pipeline" => new FeaturePipeline(Sizes.EventRows, Sizes.EventEntities)
    case "interval_skew" => new IntervalSkew(Sizes.Probes, Sizes.Features, Sizes.SkewEntities)
    case "gff_index_query" => new GffIndexQuery(Sizes.Genes)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  /** Seeded uniform draw in [0, n) from (id, salt): a pure function of the
    * row, so generation is identical at any parallelism. */
  def draw(seed: Long, salt: Int, n: Long): org.apache.spark.sql.Column =
    pmod(xxhash64(col("id"), lit(seed), lit(salt)), lit(n))
}

/** Input sizes. They keep one run under a minute on a 4-vCPU host; both
  * interval sides stay just over the engine's 1M-row broadcast cap. */
object Sizes {
  val EventRows = 150000L
  val EventEntities = 4096
  val Probes = 1020000L
  val Features = 1010000L
  val SkewEntities = 64
  val Genes = 10000
}

/** Seeded events -> WindowFeatures.stack -> AsOfJoin.join against an n/16
  * dimension table -> Checkpoint.runPartitioned into a fresh directory per
  * cycle. Loads the sort/window path, the broadcast as-of path and the
  * per-partition sink; touches no interval kernel and no GFF index. */
final class FeaturePipeline(n: Long, entities: Int) extends Workload {
  import Workloads.draw
  val warmupCycles = 3
  private val TimeRange = 40L * n / entities // ~40 slots per event: duplicate timestamps occur
  private val Buckets = (0 until 8).map(_.toString)
  private var spark: SparkSession = _
  private var events, dim: DataFrame = _
  private var work: String = _
  private var lastOut: String = null
  private var outputs = 0

  def generate(spark: SparkSession, dir: String, seed: Long): Unit = {
    spark.range(0, n, 1, 8).select(
      concat(lit("e"), draw(seed, 1, entities).cast("string")).as("entity"),
      draw(seed, 2, TimeRange).as("t"),
      col("id").as("event_id"),
      when(draw(seed, 3, 7) === 0, lit(null).cast("double"))
        .otherwise(draw(seed, 4, 100000) / 100.0).as("v"))
      .write.parquet(s"$dir/events")
    // one row per (entity, k), at distinct times per entity
    val perEntity = n / 16 / entities
    val step = TimeRange / perEntity
    spark.range(0, perEntity * entities, 1, 4).select(
      concat(lit("e"), (col("id") % entities).cast("string")).as("entity"),
      ((col("id") / entities).cast("long") * step + draw(seed, 5, step)).as("t"),
      (draw(seed, 6, 1000000) / 1000.0).as("d_mean"),
      draw(seed, 7, 500).as("d_n"))
      .write.parquet(s"$dir/dim")
  }

  def open(ctx: Ctx, rec: Recorder, dir: String, seed: Long): Unit = {
    spark = ctx.spark
    work = new File(dir).getParent
    events = spark.read.parquet(s"$dir/events")
    dim = spark.read.parquet(s"$dir/dim")
  }

  private def features(): DataFrame =
    WindowFeatures.stack(events, "v", Seq(1, 2), "v", "v", 8,
      gap = TimeRange / 50, time = "t", tiebreak = "event_id")

  /** Probes reach AsOfJoin.join in the documented (entity, t, payload...)
    * order: stack keeps its input's column order. */
  private def pipeline(ctx: Ctx): DataFrame = {
    val feats = ctx.df("ops.WindowFeatures.stack")(features())
    val joined = ctx.df("ops.AsOfJoin.join")(AsOfJoin.join(feats, dim))
    joined.withColumn("bucket", pmod(xxhash64(col("entity")), lit(Buckets.length)).cast("string"))
  }

  def cycle(ctx: Ctx, rec: Recorder): Unit = ctx.group("cycle") {
    outputs += 1
    val out = s"$work/ckpt-$outputs"
    var rows = 0L
    val s = ctx.timed {
      rec.op("feature_pipeline") {
        val df = pipeline(ctx)
        val report = ctx.sink("runtime.Checkpoint.runPartitioned")(
          Checkpoint.runPartitioned(df, "bucket", Buckets, out, "t"))
        rows = report.written.map(_.rows).sum
      }
    }
    rec.check(s"committed rows $rows == $n")(rows == n)
    rec.rows(rows, s)
    rec.latencySample(s, "cycle")
    Option(lastOut).foreach(p => Files.delete(new File(p)))
    lastOut = out
  }

  def check(ctx: Ctx, rec: Recorder): Unit = {
    rec.check("checkpoint read-back == in-memory checksum") {
      val expected = pipeline(ctx)
      val cols = expected.columns.filterNot(_ == "bucket").toSeq
      val back = Checkpoint.readCommitted(spark, lastOut, "bucket", Buckets)
      Checks.checksum(back, cols) == Checks.checksum(expected, cols)
    }
    rec.check("AsOfJoin.join == AsOfJoin.windowed") {
      val probes = features()
      Checks.checksum(AsOfJoin.join(probes, dim)) == Checks.checksum(AsOfJoin.windowed(probes, dim))
    }
  }

  def close(): Unit = Option(lastOut).foreach(p => Files.delete(new File(p)))

  def describe: String = Json.obj("events" -> n, "entities" -> entities,
    "entity_distribution" -> "uniform", "dim_rows" -> n / 16 / entities * entities,
    "null_value_share" -> "1/7", "time_range" -> TimeRange, "buckets" -> Buckets.length)
}

/** Large-by-large overlap join under hot-entity skew: half of the probes
  * sit on one of the entities, and both sides exceed the engine's
  * 1M-row broadcast cap, so IntervalJoin.join takes the binned path. Each
  * cycle builds the same per-feature coverage report (Coverage.depth and
  * Coverage.breadth) once over IntervalJoin.join and once over the
  * equivalent SQL theta-join, which IntervalBinRule rewrites. */
final class IntervalSkew(nProbes: Long, nFeats: Long, entities: Int) extends Workload {
  import Workloads.draw
  val warmupCycles = 1
  private val Range = 20000000L
  private val PairCols = Seq("entity", "p_start", "p_end", "probe_id", "f_start", "f_end", "feat_id")
  private var spark: SparkSession = _
  private var probes, feats: DataFrame = _
  /** (pairs, depth, breadth) checksums per arm, checked against sweepJoin */
  private val seen = mutable.ArrayBuffer[(String, Seq[(Long, Long)])]()

  private val ThetaSql =
    """SELECT p.entity, p.start AS p_start, p.`end` AS p_end, p.probe_id,
      |       f.start AS f_start, f.`end` AS f_end, f.feat_id
      |FROM probes p JOIN feats f
      |  ON p.entity = f.entity AND p.start < f.`end` AND p.`end` > f.start""".stripMargin

  def generate(spark: SparkSession, dir: String, seed: Long): Unit = {
    spark.range(0, nProbes, 1, 8).select(
      when(draw(seed, 1, 2) === 0, lit("c0"))
        .otherwise(concat(lit("c"), (draw(seed, 2, entities - 1) + 1).cast("string"))).as("entity"),
      draw(seed, 3, Range).as("start"),
      col("id").as("probe_id"),
      (lit(20L) + draw(seed, 4, 180)).as("len"))
      .select(col("entity"), col("start"), (col("start") + col("len")).as("end"), col("probe_id"))
      .write.parquet(s"$dir/probes")
    spark.range(0, nFeats, 1, 8).select(
      concat(lit("c"), draw(seed, 5, entities).cast("string")).as("entity"),
      draw(seed, 6, Range).as("start"),
      col("id").as("feat_id"),
      (lit(50L) + draw(seed, 7, 450)).as("len"))
      .select(col("entity"), col("start"), (col("start") + col("len")).as("end"), col("feat_id"))
      .write.parquet(s"$dir/feats")
  }

  def open(ctx: Ctx, rec: Recorder, dir: String, seed: Long): Unit = {
    spark = ctx.spark
    probes = spark.read.parquet(s"$dir/probes")
    feats = spark.read.parquet(s"$dir/feats")
    probes.createOrReplaceTempView("probes")
    feats.createOrReplaceTempView("feats")
  }

  /** The client's coverage report over one join result, which it reads
    * three times and so persists: (pairs, depth, breadth) checksums. */
  private def report(ctx: Ctx, pairs: DataFrame): Seq[(Long, Long)] = {
    val p = pairs.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val ck = Checks.checksum(p, PairCols)
      val d = ctx.df("ops.Coverage.depth")(Coverage.depth(p, "feat_id", "probe_id"))
      val b = ctx.df("ops.Coverage.breadth")(Coverage.breadth(p, "feat_id", Seq("probe_id")))
      Seq(ck, Checks.checksum(d), Checks.checksum(b))
    } finally p.unpersist(blocking = true)
  }

  private def arm(ctx: Ctx, rec: Recorder, name: String)(pairs: => DataFrame): Double = {
    val s = ctx.timed {
      rec.op(name) { val p = pairs; report(ctx, p) }.foreach(r => seen += name -> r)
    }
    rec.latencySample(s, name)
    s
  }

  def cycle(ctx: Ctx, rec: Recorder): Unit = ctx.group("cycle") {
    val api = arm(ctx, rec, "api")(ctx.df("ops.IntervalJoin.join")(IntervalJoin.join(probes, feats, Overlap)))
    val sql = arm(ctx, rec, "sql")(ctx.df("plans.IntervalBinRule")(spark.sql(ThetaSql)))
    rec.rows(2 * nProbes, api + sql)
  }

  /** Both arms must match IntervalJoin.sweepJoin on (rows, hash) of the
    * pairs, and on the depth and breadth computed from them. */
  def check(ctx: Ctx, rec: Recorder): Unit = {
    rec.op("sweepJoin reference")(report(ctx, IntervalJoin.sweepJoin(probes, feats, Overlap))).foreach { ref =>
      seen.foreach { case (arm, r) =>
        rec.check(s"$arm pairs == sweepJoin pairs (rows, hash)")(r.head == ref.head)
        rec.check(s"$arm depth, breadth == sweepJoin's")(r.tail == ref.tail)
      }
    }
    seen.clear()
  }

  def close(): Unit = ()

  def describe: String = Json.obj("probes" -> nProbes, "features" -> nFeats, "entities" -> entities,
    "hot_entity_share" -> 0.5, "coordinate_range" -> Range,
    "probe_len" -> "20..199", "feature_len" -> "50..499")
}

/** GFFx's lifecycle: index once, query many. Each set-up round writes a
  * seeded GFF3 file, then parses, indexes, writes and loads it; the
  * median of the warm builds (all but the first) is this workload's
  * throughput. Each cycle is one client round of a fixed query mix against
  * the loaded index, under each of the seed's parameter sets: extract
  * (2 IDs), searchExact (1 value), intersect Overlap (1 region), intersect
  * Contained match-only types=exon (2 regions). */
final class GffIndexQuery(genes: Int) extends Workload {
  val warmupCycles = 3
  private val SeqIds = 5
  private val ParamSets = 2
  private var spark: SparkSession = _
  private var gff: String = _
  private var work: String = _
  private var lines = 0L
  private var queries: Seq[Seq[Query]] = Nil
  private var loaded: IndexBuild.IndexTables = _
  private var lastIdx: String = null
  private var builds = 0
  /** observed result digest per query key */
  private val seen = mutable.ArrayBuffer[(String, String)]()

  /** One query of the mix: a span name, the call, and the plain-DataFrame
    * filter over the loaded features table that must give the same rows. */
  private case class Query(key: String, span: String, run: IndexBuild.IndexTables => DataFrame,
      expected: DataFrame => DataFrame)

  /** Gene/mRNA/exon triples like GffQueries.gffLines, with swapped
    * coordinates (k % 11), end == 0 mRNAs (k % 13, dropped at parse) and
    * skip-type `region` rows (k % 17) in place of some exons. */
  def generate(spark: SparkSession, dir: String, seed: Long): Unit = {
    new File(dir).mkdirs()
    gff = s"$dir/annot.gff3"
    val w = new java.io.BufferedWriter(new java.io.FileWriter(gff), 1 << 20)
    val rnd = new java.util.Random(seed)
    lines = 0L
    try {
      w.write("##gff-version 3\n")
      for (k <- 0 until genes) {
        val gbase = rnd.nextInt(1000000) + 1L
        val glen = 200L + rnd.nextInt(1800)
        for (lvl <- 0 until 3) {
          val ftype = if (lvl == 2 && k % 17 == 0) "region" else Seq("gene", "mRNA", "exon")(lvl)
          val (s0, e0) = if (lvl < 2) (gbase, gbase + glen) else (gbase + glen / 4, gbase + glen / 2)
          val (rs, re) =
            if (lvl == 1 && k % 13 == 0) (s0, 0L)
            else if (k % 11 == 0) (e0, s0)
            else (s0, e0)
          val attrs = s"ID=f${k}_$lvl" +
            (if (lvl > 0) s";Parent=f${k}_${lvl - 1}" else "") +
            (if (lvl == 0) s";gene_name=g${k % 1000}" else "")
          w.write(s"chr${k % SeqIds}\tsrc\t$ftype\t$rs\t$re\t.\t+\t.\t$attrs\n")
          lines += 1
        }
      }
    } finally w.close()
  }

  /** parse -> build -> write -> load into a fresh index directory. */
  def open(ctx: Ctx, rec: Recorder, dir: String, seed: Long): Unit = {
    spark = ctx.spark
    work = new File(dir).getParent
    builds += 1
    val idx = s"$work/idx-$builds"
    val s = ctx.timed {
      rec.op("index build") {
        val parsed = ctx.df("sources.GffSource.parse")(GffSource.parse(spark, gff))
        val built = ctx.call("index.IndexBuild.build")(IndexBuild.build(parsed))(t => Some(t.features))
        ctx.sink("index.IndexBuild.write")(IndexBuild.write(built, idx))
        built.releaseScratch()
        loaded = ctx.call("index.IndexBuild.load")(IndexBuild.load(spark, idx))(t => Some(t.features))
      }
    }
    // the first build runs in a cold JVM; the build rate is taken over warm ones
    if (builds > 1) rec.rows(lines, s)
    Option(lastIdx).foreach(p => Files.delete(new File(p)))
    lastIdx = idx
    queries = mix(seed)
  }

  /** The query parameter sets, drawn from the seed. Entity ids follow
    * first appearance in the file: chr0 -> 0, chr1 -> 1, ... */
  private def mix(seed: Long): Seq[Seq[Query]] = {
    val rnd = new scala.util.Random(seed ^ 0x5eedL)
    val session = spark
    import session.implicits._
    def regions(n: Int, len: Int) = (0 until n).map { _ =>
      val s = rnd.nextInt(1000000).toLong
      (rnd.nextInt(SeqIds).toLong, s, s + len)
    }
    def regionsDf(rs: Seq[(Long, Long, Long)]) = rs.toDF("entity_id", "start", "end")
    (0 until ParamSets).map { r =>
      val ids = Seq.fill(2)(s"f${rnd.nextInt(genes)}_${rnd.nextInt(3)}")
      val value = s"g${rnd.nextInt(1000)}"
      val ov = regions(1, 20000)
      val ct = regions(2, 50000)
      Seq(
        Query(s"extract$r", "index.GffOps.extract",
          t => GffOps.extract(t, ids.toDF("name")),
          f => byRoots(f, f.where(col("id").isin(ids: _*)))),
        Query(s"search$r", "index.GffOps.searchExact",
          t => GffOps.searchExact(t, Seq(value)),
          f => byRoots(f, f.where(col("attr") === value))),
        Query(s"overlap$r", "index.GffOps.intersect",
          t => GffOps.intersect(t, regionsDf(ov), Overlap),
          f => byRoots(f, extents(f).where(inAny(ov, (s, e) =>
            col("g_start") < e && col("g_end") > s)))),
        Query(s"contained$r", "index.GffOps.intersect.typed",
          t => GffOps.intersect(t, regionsDf(ct), Contained, matchOnly = true, types = Seq("exon")),
          f => byRoots(f, extents(f).where(inAny(ct, (s, e) =>
            col("g_start") >= s && col("g_end") <= e)))
            .where(col("ftype") === "exon" && inAny(ct, (s, e) =>
              col("start") >= s && col("end") <= e))))
    }
  }

  /** Rows for which `p` holds against some region on the row's entity. */
  private def inAny(rs: Seq[(Long, Long, Long)], p: (Long, Long) => org.apache.spark.sql.Column) =
    rs.map { case (e, s, en) => col("entity_id") === e && p(s, en) }.reduce(_ || _)

  private def extents(f: DataFrame): DataFrame =
    f.groupBy("root_fid").agg(min("start").as("g_start"), max("end").as("g_end"),
      first("entity_id").as("entity_id"))

  /** Every row of the groups whose root appears in `hits`. */
  private def byRoots(f: DataFrame, hits: DataFrame): DataFrame = {
    val roots = hits.select("root_fid").distinct().collect().map(_.getLong(0)).toSeq
    f.where(col("root_fid").isin(roots: _*))
  }

  /** One round of the query mix under every parameter set, so each cycle
    * weighs the sets alike. */
  def cycle(ctx: Ctx, rec: Recorder): Unit = ctx.group("cycle") {
    for (q <- queries.flatten) {
      var rows: Array[Row] = null
      val s = ctx.timed {
        rec.op(q.key) { rows = ctx.df(q.span)(q.run(loaded)).collect() }
      }
      rec.latencySample(s, q.span)
      if (rows != null) seen += q.key -> Checks.rowsDigest(rows)
    }
  }

  def check(ctx: Ctx, rec: Recorder): Unit = {
    val expected = queries.flatten.flatMap { q =>
      rec.op(s"${q.key} expected")(q.key -> Checks.rowsDigest(q.expected(loaded.features).collect()))
    }.toMap
    seen.foreach { case (k, d) =>
      rec.check(s"$k == plain filter over features")(expected.get(k).contains(d))
    }
    seen.clear()
  }

  def close(): Unit = Option(lastIdx).foreach(p => Files.delete(new File(p)))

  def describe: String = Json.obj("genes" -> genes, "gff_lines" -> lines, "seqids" -> SeqIds,
    "entity_distribution" -> "uniform", "attr_values" -> 1000,
    "query_mix" -> Seq("extract 2 IDs", "searchExact 1 value", "intersect Overlap 1 region (20 kb)",
      "intersect Contained match-only types=exon 2 regions (50 kb)"),
    "query_parameter_sets" -> ParamSets)
}
