package perfbench

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions._

import java.io.File
import scala.collection.mutable

/** Benchmark main: one workload, one seed, one JVM at local[slots].
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --slots <n> --work <dir> --artifact <file> --source-id <id>
  *
  * Phases: session start; three set-up rounds, each generating the
  * seeded inputs under `<work>/in` and binding them; a full GC; the
  * workload's warm-up cycles; another full GC. `setup_s` is the session
  * start plus the median round plus the first warm-up cycle. Then a
  * closed loop of timed cycles for `--seconds`; correctness checks
  * outside every timed region; retained heap after a full GC; teardown.
  * With `--trace 1` the window is split between the untraced loop and a
  * traced loop that records spans around every public call; the
  * per-layer metrics come from the traced one. The last stdout line is
  * the result object `{"correct","attempted","failed","metrics"}`.
  */
object Main {
  val SetupRounds = 3

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = opt.getOrElse(k, sys.error(s"missing --$k"))
    val wname = need("workload")
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val trace = need("trace") == "1"
    val slots = need("slots").toInt
    val work = new File(need("work")).getAbsolutePath
    val workload = Workloads.byName(wname)

    val t0 = System.nanoTime()
    val spark = session(slots, work)
    val sessionS = (System.nanoTime() - t0) / 1e9

    val rec = new Recorder
    val plain = new Ctx(spark, None)
    val inDir = s"$work/in"
    def setupRound(): Double = {
      Files.delete(new File(inDir))
      Ctx.time {
        workload.generate(spark, inDir, seed)
        workload.open(plain, rec, inDir, seed)
      }
    }
    val setups = (1 to SetupRounds).map(_ => setupRound())
    // let Spark clean up the set-up rounds' state before the warm-up
    heapAfterGcMb()
    rec.sampling = false
    val warmups = (1 to workload.warmupCycles).map(_ => Ctx.time(workload.cycle(plain, rec)))
    rec.sampling = true
    val setupS = sessionS + Stats.median(setups) + warmups.head
    // and the warm-up's state before timing starts
    heapAfterGcMb()
    // a traced run splits its window between an untraced and a traced loop
    val window = if (trace) seconds / 2 else seconds
    // code generated and compiled inside the timed loop: none once the cache holds it
    val cgLoop0 = CodeGenerator.compileTime
    val cgN0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    loop(workload, plain, rec, window)
    val cgLoopMs = (CodeGenerator.compileTime - cgLoop0) / 1e6
    val cgLoopN = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cgN0
    val traced = if (!trace) None else {
      val tracer = new Tracer(spark, slots)
      val tRec = new Recorder
      val tCtx = new Ctx(spark, Some(tracer))
      val cg0 = CodeGenerator.compileTime
      workload.open(tCtx, tRec, inDir, seed)
      loop(workload, tCtx, tRec, window)
      val codegenMs = (CodeGenerator.compileTime - cg0) / 1e6
      val layers = tracer.layerMetrics()
      tracer.close()
      rec.absorbChecks(tRec)
      Some((tracer, tRec, layers, codegenMs))
    }
    val checkS = Ctx.time(workload.check(plain, rec))
    val heapMb = heapAfterGcMb()
    val sparkVersion = spark.version
    // what the run leaves behind once the client has dropped its own
    // inputs and outputs and the session has stopped
    workload.close()
    Files.delete(new File(inDir))
    spark.stop()
    val leftMb = Files.sizeOf(new File(work)) / 1e6
    Files.delete(new File(work))

    val e2e = Seq(
      "setup_s" -> (setupS, "s"),
      "rows_per_s" -> (rec.rowsPerS, "rows/s"),
      "latency_ms_p50" -> (rec.latencyMs(0.5), "ms"),
      "latency_ms_p90" -> (rec.latencyMs(0.9), "ms"),
      "retained_heap_mb" -> (heapMb, "MB"))
    val layerOut: Seq[(String, (Double, String))] = traced.toSeq.flatMap { case (_, _, layers, cg) =>
      Tracer.LayerSpans.flatMap(n => LayerUnits.map { case (sfx, u) => s"$n.$sfx" -> (layers(s"$n.$sfx"), u) }) ++
        Seq("spark.codegen_compile_ms" -> (cg, "ms"), "spark.scratch_left_mb" -> (leftMb, "MB"))
    }
    val metrics = if (trace) layerOut else e2e

    val host = Json.obj(
      "nproc" -> slots, "mem_total_kb" -> memTotalKb(),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "spark_version" -> sparkVersion, "source_id" -> opt.getOrElse("source-id", "unknown"))
    val traceJson = traced.map { case (tracer, tRec, _, _) =>
      val overhead = Json.obj(
        "rows_per_s_untraced" -> rec.rowsPerS, "rows_per_s_traced" -> tRec.rowsPerS,
        "latency_ms_p50_untraced" -> rec.latencyMs(0.5), "latency_ms_p50_traced" -> tRec.latencyMs(0.5),
        "overhead_share" -> (rec.rowsPerS - tRec.rowsPerS) / rec.rowsPerS)
      s""","tracing_overhead":$overhead,"spans":${tracer.spansJson()}"""
    }.getOrElse("")
    val artifact = s"""{"workload":"$wname","seed":$seed,"seconds":$seconds,"trace":$trace,""" +
      s""""host":$host,"inputs":${workload.describe},"setup_rounds_s":${Json.arr(setups)},""" +
      s""""warmup_cycles_s":${Json.arr(warmups)},""" +
      s""""session_start_s":$sessionS,"check_s":$checkS,""" +
      s""""loop_codegen":{"compile_ms":$cgLoopMs,"classes":$cgLoopN},"end_to_end":${metricsJson(e2e)},""" +
      s""""per_layer":${metricsJson(layerOut)},"attempted":${rec.attempted},"failed":${rec.failed},""" +
      s""""failed_share":${rec.failed.toDouble / math.max(rec.attempted, 1)},""" +
      s""""cycles":${rec.cycles},"rows_per_s_samples":${rec.rowsSamples},"latency_by_kind":${rec.latencyByKindJson},""" +
      s""""latency_ms_samples":${Json.arr(rec.latencySamples)},"failures":${Json.arr(rec.failures.toSeq)}$traceJson}"""
    opt.get("artifact").foreach { p =>
      val f = new File(p)
      f.getParentFile.mkdirs()
      java.nio.file.Files.write(f.toPath, artifact.getBytes("UTF-8"))
    }
    rec.failures.foreach(m => System.err.println(s"perfbench: FAILED $m"))
    println(s"""{"correct":${rec.failed == 0},"attempted":${rec.attempted},""" +
      s""""failed":${rec.failed},"metrics":${metricsJson(metrics)}}""")
  }

  /** Per-layer metric suffixes and their units. */
  val LayerUnits: Seq[(String, String)] = Seq(
    "construct_s" -> "s", "construct_jobs" -> "count", "exec_s" -> "s", "jobs" -> "count",
    "shuffle_bytes" -> "bytes", "gc_s" -> "s", "task_skew" -> "ratio", "sched_wait_s" -> "s")

  private def metricsJson(ms: Seq[(String, (Double, String))]): String =
    ms.map { case (k, (v, u)) => s""""$k":{"value":${Json.num(v)},"unit":"$u"}""" }
      .mkString("{", ",", "}")

  /** Closed loop, one client: the next cycle starts when the previous ends. */
  private def loop(w: Workload, ctx: Ctx, rec: Recorder, seconds: Double): Unit = {
    val end = System.nanoTime() + (seconds * 1e9).toLong
    do {
      w.cycle(ctx, rec)
      rec.cycles += 1
    } while (System.nanoTime() < end)
  }

  /** Generated classes Spark keeps compiled. Its default of 100 is four
    * LRU segments of 25; the GFF query mix fits them in some runs and not
    * in others, and a run that misses recompiles ~50 classes per cycle. */
  val CodegenCacheEntries = 1000

  /** Same session shape as graft.Bench: shuffle partitions at 2x slots,
    * AQE on, UTC, the engine's SQL extensions; every local file Spark
    * writes stays under the run's work directory. The one difference is a
    * codegen cache that holds every workload's generated classes. */
  private def session(slots: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$slots]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", (slots * 2).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Heap used after full GCs, repeated until it stops shrinking: Spark's
    * ContextCleaner frees broadcast and shuffle state asynchronously, only
    * after a GC has cleared the references to it. */
  private def heapAfterGcMb(): Double = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    def usedAfterGc() = { mx.gc(); mx.getHeapMemoryUsage.getUsed }
    var prev = Long.MaxValue
    var used = usedAfterGc()
    var rounds = 1
    while (rounds < 8 && prev - used > (1L << 20)) {
      Thread.sleep(100)
      prev = used
      used = usedAfterGc()
      rounds += 1
    }
    used / 1048576.0
  }

  private def memTotalKb(): Long =
    scala.util.Try {
      val src = scala.io.Source.fromFile("/proc/meminfo")
      try src.getLines().collectFirst {
        case l if l.startsWith("MemTotal:") => l.split("\\s+")(1).toLong
      }.getOrElse(0L) finally src.close()
    }.getOrElse(0L)
}

/** Calls into the engine. Untraced: the call runs bare. Traced: each call
  * is a [[Tracer]] span whose output is also materialized alone; the time
  * of those isolated actions is left out of [[Ctx.timed]]. */
final class Ctx(val spark: SparkSession, val tracer: Option[Tracer]) {
  private var isolatedS = 0.0

  def call[T](span: String)(body: => T)(exec: T => Option[DataFrame]): T = tracer match {
    case None => body
    case Some(tr) =>
      val (r, iso) = tr.span(span)(body)(exec)
      isolatedS += iso
      r
  }

  /** A call returning a DataFrame: its exec is a checksum over it. */
  def df(span: String)(body: => DataFrame): DataFrame = call(span)(body)(Some(_))

  /** A sink: the call itself is its exec. */
  def sink[T](span: String)(body: => T): T = call(span)(body)(_ => None)

  def group[T](name: String)(body: => T): T = tracer.fold(body)(_.group(name)(body))

  /** Wall seconds of `body`, minus the traced run's isolated actions. */
  def timed(body: => Unit): Double = {
    val iso0 = isolatedS
    Ctx.time(body) - (isolatedS - iso0)
  }
}

object Ctx {
  def time(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }
}

/** Samples and outcomes of one loop. A failure is a thrown exception or a
  * failed correctness check; both count against `attempted`. */
final class Recorder {
  var attempted = 0
  var failed = 0
  var cycles = 0
  val failures = mutable.ArrayBuffer[String]()
  private val throughput = mutable.ArrayBuffer[Double]()
  private val latency = mutable.ArrayBuffer[Double]()
  /** Off during warm-up cycles: outcomes count, timings do not. */
  var sampling = true

  /** Run one operation; an exception counts as a failure. */
  def op[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body) catch {
      case e: Throwable if scala.util.control.NonFatal(e) =>
        fail(s"$what: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}")
        None
    }
  }

  /** A correctness check, outside any timed region. */
  def check(what: String)(ok: => Boolean): Unit =
    op(what)(ok).foreach(b => if (!b) fail(s"check failed: $what"))

  private def fail(msg: String): Unit = {
    failed += 1
    failures += msg
  }

  private val latencyByKind = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()

  def rows(n: Long, seconds: Double): Unit = if (sampling) throughput += n / seconds
  def latencySample(seconds: Double, kind: String): Unit = if (sampling) {
    latency += seconds * 1e3
    latencyByKind.getOrElseUpdate(kind, mutable.ArrayBuffer[Double]()) += seconds * 1e3
  }

  /** Sample count and median latency per kind of operation, as JSON. */
  def latencyByKindJson: String = Json.value(latencyByKind.map { case (k, xs) =>
    k -> Map("n" -> xs.length, "p50_ms" -> Stats.median(xs.toSeq))
  }.toMap)

  def rowsPerS: Double = Stats.median(throughput.toSeq)
  def rowsSamples: Int = throughput.length
  def latencySamples: Seq[Double] = latency.toSeq
  def latencyMs(q: Double): Double = Stats.quantile(latency.toSeq, q)

  def absorbChecks(other: Recorder): Unit = {
    attempted += other.attempted
    failed += other.failed
    failures ++= other.failures
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear interpolation between closest ranks; NaN when empty. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

object Checks {
  /** (rows, order-independent hash) of every column; one Spark job. */
  def checksum(df: DataFrame): (Long, Long) = {
    val r = df.select(count(lit(1)),
      coalesce(sum(pmod(xxhash64(df.columns.map(c => df.col(s"`$c`")).toIndexedSeq: _*),
        lit(1000000007L))), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Same hash over chosen columns, in the given order. */
  def checksum(df: DataFrame, cols: Seq[String]): (Long, Long) =
    checksum(df.select(cols.map(c => col(s"`$c`")): _*))

  /** Digest of collected rows, independent of row order and column order. */
  def rowsDigest(rows: Array[Row]): String = {
    if (rows.isEmpty) return "0:"
    val names = rows.head.schema.fieldNames.sorted
    val lines = rows.map(r => names.map(n => String.valueOf(r.get(r.fieldIndex(n)))).mkString("\t")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    s"${rows.length}:" + md.digest().map("%02x".format(_)).mkString
  }
}

object Files {
  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(delete))
    f.delete()
  }

  def sizeOf(f: File): Long =
    if (!f.exists) 0L
    else if (f.isDirectory) Option(f.listFiles).map(_.map(sizeOf).sum).getOrElse(0L)
    else f.length
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def value(v: Any): String = v match {
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case s: String => str(s)
    case m: Map[_, _] => m.map { case (k, x) => s"${str(k.toString)}:${value(x)}" }.mkString("{", ",", "}")
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(String.valueOf(other))
  }

  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")

  def arr(xs: Seq[Any]): String = value(xs)
}
