package graft

import com.fasterxml.jackson.databind.ObjectMapper
import graft.index.{GffOps, IndexBuild}
import graft.ops.{Contained, Overlap}
import graft.sources.GffSource
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import java.nio.file.{Files, Paths}
import scala.concurrent.duration._

/** End-to-end index-build + extract/search/intersect over a synthetic GFF
  * fixture, porting the reference's semantics as properties (SURVEY.md §5.3):
  * coordinate normalization, parent fallback-to-self, root fixpoint,
  * group extents, dictionary determinism.
  */
class GffIndexSpec extends SparkSpec {
  import spark.implicits._

  private val gff =
    """##gff-version 3
      |chr1	src	gene	100	500	.	+	.	ID=gene1;gene_name=alpha
      |chr1	src	mRNA	100	500	.	+	.	ID=rna1;Parent=gene1
      |chr1	src	exon	100	200	.	+	.	ID=ex1;Parent=rna1
      |chr1	src	exon	300	500	.	+	.	ID=ex2;Parent=rna1
      |chr1	src	gene	700	900	.	-	.	ID=gene2;gene_name=beta
      |chr1	src	exon	900	700	.	-	.	ID=ex3;Parent=gene2
      |chr2	src	gene	50	60	.	+	.	ID=gene3;gene_name=alpha
      |chr2	src	region	1	1000	.	+	.	ID=reg1
      |chr2	src	exon	0	0	.	+	.	ID=exz;Parent=gene3
      |chr2	src	exon	abc	99	.	+	.	ID=exbad;Parent=gene3
      |chr2	src	exon	55	58	.	+	.	ID=ex4;Parent=ghost
      |""".stripMargin

  private lazy val dir = {
    val d = Files.createTempDirectory("gff").toString
    Files.write(java.nio.file.Paths.get(s"$d/test.gff"), gff.getBytes("UTF-8"))
    d
  }
  private lazy val parsed = GffSource.parse(spark, s"$dir/test.gff")
  private lazy val idx = IndexBuild.build(parsed)

  test("parse: comments/blank skipped, skip_types dropped, end==0 dropped, coords normalized") {
    val rows = parsed.select("id", "start", "end").as[(String, Long, Long)]
      .collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(!rows.contains("reg1"), "type 'region' is in skip_types")
    assert(!rows.keySet.exists(_ == "exz"), "end==0 dropped")
    assert(!rows.contains("exbad"), "malformed coordinate dropped (P8 try_cast, not ANSI throw)")
    assert(rows("gene1") == ((99L, 500L)), "1-closed -> 0-half-open")
    assert(rows("ex3") == ((699L, 900L)), "swapped start/end normalized")
  }

  test("index: dense fids in file order; parent closure to roots; ghost parent -> self") {
    val f = idx.features.select("id", "fid", "root_fid")
      .as[(String, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(f("gene1")._1 == 0, "fid = file ordinal")
    val gene1Fid = f("gene1")._1
    assert(f("rna1")._2 == gene1Fid && f("ex1")._2 == gene1Fid && f("ex2")._2 == gene1Fid,
      "multi-level closure exon->mRNA->gene")
    assert(f("ex4")._2 == f("ex4")._1, "unresolvable Parent= falls back to self (core.rs:162-168)")
    assert(f("gene3")._2 == f("gene3")._1, "no Parent= -> self root")
  }

  test("entity dictionary is first-appearance ordered (core.rs:153)") {
    val d = idx.entityDict.as[(String, Long)].collect().toMap
    assert(d == Map("chr1" -> 0L, "chr2" -> 1L))
  }

  test("group extents span the group's lines and coords (≙ .gof)") {
    val g = idx.groupExtents
      .join(idx.features.select(col("fid").as("root_fid"), col("id")), "root_fid")
      .select("id", "n", "g_start", "g_end")
      .as[(String, Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(g("gene1") == ((4L, 99L, 500L)))
    assert(g("gene2") == ((2L, 699L, 900L)))
  }

  test("extract: names -> whole groups, file-ordered; missing reported") {
    val got = GffOps.extract(idx, Seq("ex2").toDF("name"))
      .select("id").as[String].collect().toSeq
    assert(got == Seq("gene1", "rna1", "ex1", "ex2"), "whole root block, file order")
    val missing = GffOps.missingNames(idx, Seq("ex2", "nope").toDF("name"))
      .as[String].collect().toSeq
    assert(missing == Seq("nope"))
  }

  test("search exact + regex over attr dictionary -> groups") {
    val exact = GffOps.searchExact(idx, Seq("alpha"))
      .select("id").as[String].collect().toSet
    assert(exact == Set("gene1", "rna1", "ex1", "ex2", "gene3"),
      "both groups whose root carries attr=alpha; self-rooted ex4 excluded")
    val regex = GffOps.searchRegex(idx, Seq("^b.*"))
      .select("id").as[String].collect().toSet
    assert(regex == Set("gene2", "ex3"))
  }

  test("fid assignment is reproducible across scan parallelism (SURVEY §1.4: line_no from a total order)") {
    // same file parsed at 1 vs 7 input splits: line_no (and therefore every
    // downstream dense id) must be IDENTICAL — the property
    // monotonically_increasing_id cannot give
    val p1 = GffSource.parse(spark, s"$dir/test.gff", minPartitions = 1)
    val p7 = GffSource.parse(spark, s"$dir/test.gff", minPartitions = 7)
    val m1 = p1.select("id", "line_no").as[(String, Long)].collect().toMap
    val m7 = p7.select("id", "line_no").as[(String, Long)].collect().toMap
    assert(m1 == m7 && m1.nonEmpty)
    val f1 = IndexBuild.build(p1).features.select("id", "fid", "root_fid")
      .as[(String, Long, Long)].collect().toSet
    val f7 = IndexBuild.build(p7).features.select("id", "fid", "root_fid")
      .as[(String, Long, Long)].collect().toSet
    assert(f1 == f7, "dense fids + closure roots identical at any parallelism")
  }

  test("S5/S6 file front-ends: name/value list files drive extract/search (extract.rs:61-79, search.rs:76-87)") {
    val listDir = Files.createTempDirectory("gfflists").toString
    // whitespace, blank lines, and comment lines must all be dropped
    Files.write(java.nio.file.Paths.get(s"$listDir/names.txt"),
      "# requested features\n  ex2  \n\nex2\n".getBytes("UTF-8"))
    Files.write(java.nio.file.Paths.get(s"$listDir/values.txt"),
      "alpha\n\n# comment\n".getBytes("UTF-8"))
    val byFile = GffOps.extract(idx, GffSource.readNameList(spark, s"$listDir/names.txt"))
      .select("id").as[String].collect().toSeq
    assert(byFile == Seq("gene1", "rna1", "ex1", "ex2"), "file list ≡ direct list")
    val values = GffSource.readValueList(spark, s"$listDir/values.txt")
      .as[String].collect().toSeq
    assert(values == Seq("alpha"))
    val viaFile = GffOps.searchExact(idx, values).select("id").as[String].collect().toSet
    assert(viaFile == Set("gene1", "rna1", "ex1", "ex2", "gene3"))
  }

  test("M5 header passthrough + S11 TSV sink round-trip") {
    val headers = GffSource.headerLines(spark, s"$dir/test.gff").as[String].collect().toSeq
    assert(headers == Seq("##gff-version 3"))
    val out = Files.createTempDirectory("gfftsv").toString + "/out"
    GffSource.writeTsv(parsed.select("id", "start", "end"), out)
    val back = spark.read.option("sep", "\t").option("header", "true").csv(out)
    assert(back.count() == parsed.count())
    assert(back.columns.toSeq == Seq("id", "start", "end"))
  }

  test("intersect: overlap vs contained modes + invert") {
    val regions = Seq((0L, 150L, 350L)).toDF("entity_id", "start", "end")
    val hit = GffOps.intersect(idx, regions, Overlap)
      .select("id").as[String].collect().toSet
    assert(hit == Set("gene1", "rna1", "ex1", "ex2"))
    val cont = GffOps.intersect(idx, regions, Contained).count()
    assert(cont == 0, "gene1 interval [99,500) not contained in [150,350)")
    // invert is candidate-level XOR (intersect.rs:137-164): candidates come
    // from the OVERLAP tree probe, kept iff the mode predicate fails — so
    // invert+Overlap is empty by construction, and invert+Contained keeps
    // the overlapping-but-not-contained group (gene1's [99,500) vs [150,350))
    assert(GffOps.intersect(idx, regions, Overlap, invert = true).count() == 0)
    val invContained = GffOps.intersect(idx, regions, Contained, invert = true)
      .select("id").as[String].collect().toSet
    assert(invContained == Set("gene1", "rna1", "ex1", "ex2"))
    // match-only on a narrower region: ex2 [299,500) does NOT overlap [150,250)
    val narrow = Seq((0L, 150L, 250L)).toDF("entity_id", "start", "end")
    val matchOnly = GffOps.intersect(idx, narrow, Overlap, matchOnly = true)
      .select("id").as[String].collect().toSet
    assert(matchOnly == Set("gene1", "rna1", "ex1"),
      "per-line re-check drops non-overlapping group members (intersect.rs:301-307)")
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  private def causes(e: Throwable): Iterator[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)

  test("write/load round trip: same tables, manifest rows and schemas, load starts no job") {
    val out = Files.createTempDirectory("gffidx").toString
    IndexBuild.write(idx, out)
    assert(idx.features.storageLevel == StorageLevel.NONE,
      "write releases the features cache it made itself")
    val (loaded, loadJobs, _) = jobsOf(IndexBuild.load(spark, out))
    assert(loadJobs.isEmpty, s"load reads the manifest's schemas instead of inferring them: $loadJobs")
    val manifest = new ObjectMapper().readTree(Files.readAllBytes(Paths.get(s"$out/manifest.json")))
    for (((name, built), (_, back)) <- idx.named.zip(loaded.named)) {
      assert(back.columns.toSeq == built.columns.toSeq, s"$name column order")
      assert(back.schema.map(_.dataType) == built.schema.map(_.dataType), s"$name column types")
      assert(back.schema == spark.read.parquet(s"$out/$name").schema,
        s"$name: the manifest schema is the one parquet inference gives")
      assert(rows(back) == rows(built), s"$name rows")
      assert(manifest.get(name).get("rows").asLong == built.count(), s"$name manifest rows")
    }
  }

  /** The fixture index written and loaded back, as queries see it. */
  private lazy val loadedIdx = {
    val out = Files.createTempDirectory("gffidx").toString
    IndexBuild.write(idx, out)
    IndexBuild.load(spark, out)
  }

  test("query job budgets and output shape (extract, searchExact, intersect)") {
    // a lost saving (a path decision or a dedup that runs a job, a
    // persisted driver-local probe plan) or a reordered schema shows up here
    val t = loadedIdx
    val names = Seq("ex2", "gene3").toDF("name")
    val overlap = Seq((0L, 150L, 350L)).toDF("entity_id", "start", "end")
    val contained = Seq((0L, 50L, 600L), (1L, 0L, 40L)).toDF("entity_id", "start", "end")
    val cases = Seq[(String, () => DataFrame, Int, Int, Set[String])](
      ("extract", () => GffOps.extract(t, names), 0, 5,
        Set("gene1", "rna1", "ex1", "ex2", "gene3")),
      ("searchExact", () => GffOps.searchExact(t, Seq("alpha")), 0, 5,
        Set("gene1", "rna1", "ex1", "ex2", "gene3")),
      ("intersect", () => GffOps.intersect(t, overlap, Overlap), 0, 4,
        Set("gene1", "rna1", "ex1", "ex2")),
      ("intersect typed", () => GffOps.intersect(t, contained, Contained, matchOnly = true,
        types = Seq("exon")), 1, 5, Set("ex1", "ex2")))
    val cols = "root_fid" +: t.features.columns.toSeq.filterNot(_ == "root_fid")
    val types = t.features.schema.map(f => f.name -> f.dataType).toMap
    for ((name, query, buildBudget, collectBudget, ids) <- cases) {
      val (df, built, _) = jobsOf(query())
      val (rows, collected, _) = jobsOf(df.collect())
      info(s"$name: ${built.length} jobs building, ${collected.length} collecting")
      assert(built.length <= buildBudget, s"$name build: $built")
      assert(collected.length <= collectBudget, s"$name collect: $collected")
      assert(df.columns.toSeq == cols, s"$name column order")
      assert(df.schema.forall(f => types(f.name) == f.dataType), s"$name column types")
      val lineNos = rows.map(_.getAs[Long]("line_no")).toSeq
      assert(lineNos == lineNos.sorted, s"$name: line_no ascending")
      assert(rows.map(_.getAs[String]("id")).toSet == ids, s"$name rows")
    }
  }

  test("intersect persists a computed probe plan, not a driver-local one") {
    val t = loadedIdx
    def probePlan(regions: DataFrame): DataFrame =
      regions.select(col("entity_id").as("entity"), col("start"), col("end"))
    val local = Seq((0L, 150L, 250L)).toDF("entity_id", "start", "end")
    val computed = spark.range(1).select(lit(0L).as("entity_id"), lit(150L).as("start"),
      lit(250L).as("end"))
    val fromLocal = GffOps.intersect(t, local, Overlap, matchOnly = true)
    assert(probePlan(local).storageLevel == StorageLevel.NONE)
    val fromComputed = GffOps.intersect(t, computed, Overlap, matchOnly = true)
    assert(probePlan(computed).storageLevel != StorageLevel.NONE)
    assert(fromComputed.collect().toSeq == fromLocal.collect().toSeq)
    assert(fromLocal.select("id").as[String].collect().toSet == Set("gene1", "rna1", "ex1"))
  }

  test("write keeps a caller's features cache") {
    val cached = idx.copy(features = idx.features.cache())
    try {
      cached.features.count()
      IndexBuild.write(cached, Files.createTempDirectory("gffidx").toString)
      assert(cached.features.storageLevel != StorageLevel.NONE)
    } finally cached.features.unpersist(true)
  }

  test("job budget of parse -> build -> write -> load") {
    // a lost saving (per-round closure jobs, per-table recompute and
    // read-back counts, schema inference at load) shows up here first
    val out = Files.createTempDirectory("gffidx").toString
    val (p, parseJobs, _) = jobsOf(GffSource.parse(spark, s"$dir/test.gff"))
    val (t, buildJobs, _) = jobsOf(IndexBuild.build(p))
    val (_, writeJobs, _) = jobsOf(IndexBuild.write(t, out))
    t.releaseScratch()
    val (_, loadJobs, _) = jobsOf(IndexBuild.load(spark, out))
    info(s"jobs: parse ${parseJobs.length}, build ${buildJobs.length}, " +
      s"write ${writeJobs.length}, load ${loadJobs.length}")
    assert(parseJobs.length <= 1, s"parse: $parseJobs")
    assert(buildJobs.length <= 8, s"build: $buildJobs")
    assert(writeJobs.length <= 20, s"write: $writeJobs")
    assert(loadJobs.isEmpty, s"load: $loadJobs")
  }

  test("over-cap build (distributed closure) gives the same tables as the driver closure") {
    val overCap = IndexBuild.build(parsed, driverClosureMaxRows = 0L)
    try {
      assert(!overCap.features.queryExecution.analyzed.toString.contains("UDF"),
        "over the cap, roots come from the distributed rounds")
      assert(idx.features.queryExecution.analyzed.toString.contains("UDF"),
        "under the cap, roots come from the driver's array")
      for (((name, a), (_, b)) <- overCap.named.zip(idx.named))
        assert(rows(a) == rows(b), s"$name differs between the closure paths")
    } finally overCap.releaseScratch()
  }

  test("write: the first failure cancels the other writes and commits no manifest") {
    val out = Files.createTempDirectory("gffidx").toString
    val boom = udf((x: Long) => {
      if (x >= 0) throw new IllegalStateException("injected sidecar failure")
      x
    })
    val slow = udf((x: Long) => { Thread.sleep(1000); x })
    val t = idx.copy(
      entityDict = idx.entityDict.withColumn("entity_id", boom(col("entity_id"))),
      groupExtents = spark.range(0, 200, 1, 1).select(slow(col("id")).as("n")))
    val t0 = System.nanoTime()
    val (err, started, ended) = jobsOf(intercept[Exception](IndexBuild.write(t, out)))
    val s = (System.nanoTime() - t0) / 1e9
    assert(causes(err).exists(c => String.valueOf(c.getMessage).contains("injected sidecar failure")),
      s"the first error is rethrown: $err")
    assert(s < 60, s"the slow write (~200 s) was cancelled, took $s s")
    assert(started.length == ended, s"no job of the write is left running: $started, $ended ended")
    assert(!Files.exists(Paths.get(s"$out/manifest.json")))
  }

  test("write: a write past its bound is cancelled") {
    val out = Files.createTempDirectory("gffidx").toString
    val slow = udf((x: Long) => { Thread.sleep(1000); x })
    val t = idx.copy(intervals = spark.range(0, 400, 1, 4).select(slow(col("id")).as("n")))
    val t0 = System.nanoTime()
    val (err, started, ended) =
      jobsOf(intercept[java.util.concurrent.TimeoutException](IndexBuild.write(t, out, 5.seconds)))
    val s = (System.nanoTime() - t0) / 1e9
    assert(s < 60, s"write returned ${s}s after a 5 s bound: $err")
    assert(started.length == ended, s"no job of the write is left running: $started, $ended ended")
    assert(!Files.exists(Paths.get(s"$out/manifest.json")))
  }
}
