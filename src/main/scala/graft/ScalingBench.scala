package graft

import graft.model.Synth
import graft.ops.{AsOfJoin, TextOps, WindowFeatures}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dedicated scaling-efficiency probe (north_rule: throughput scaling
  * >= 0.8 from N to 4N executors; sandbox evidence = local[N] vs local[4N]
  * on identical input).
  *
  * Measurement discipline (every clause below maps to a concrete artifact
  * observed and fixed in rounds 1-2 — see BASELINE.md "methodology"):
  *  - tmpfs shuffle dirs, DELETED before every run (a populated tmpfs from
  *    a previous run steals page cache and skews the next arm);
  *  - fresh SparkSession per run; arms ALTERNATE small/big so environment
  *    drift spreads across both arms instead of biasing one;
  *  - one FULL-SIZE warmup per arm (C2 JIT + codegen compile), excluded;
  *  - reps >= 3 with a TRUE odd-count median (median-of-2 = max — the
  *    round-1 bug that reported 0.28 for a 0.8-scaling job);
  *  - raw per-run arrays always reported next to the medians;
  *  - full-column xxhash64 checksum output action: Catalyst cannot prune
  *    the feature columns the probe claims to measure, and the checksum
  *    doubles as a cross-parallelism determinism check.
  *
  * Two workloads spanning the engine's profile:
  *  - `window`: sessionize+backfill+lag/lead+rolling+as-of — shuffle/sort
  *    bound (worst case for single-box strong scaling: all threads share
  *    one memory bus, unlike a real 4N-node cluster);
  *  - `tokens`: tokenize+fingerprint+quality over generated docs —
  *    compute bound (best case, embarrassingly parallel).
  */
object ScalingBench {

  /** Recursively delete a scratch dir (tmpfs spill hygiene between runs). */
  def cleanDir(path: String): Unit = {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) { val fs = f.listFiles(); if (fs != null) fs.foreach(rm) }
      f.delete(): Unit
    }
    rm(new java.io.File(path))
  }

  private def spillDir(cores: Int): String =
    if (new java.io.File("/dev/shm").isDirectory) s"/dev/shm/graft_spill_$cores"
    else System.getProperty("java.io.tmpdir") + s"/graft_spill_$cores"

  /** Two deployment shapes for the N-vs-4N evidence:
    *  - `local` : local[N] vs local[4N] threads, one JVM;
    *  - `cluster` (default): local-cluster[N,1,4608] — N SEPARATE
    *    single-core executor JVMs, shuffle over netty, per-executor heaps
    *    and GC. The LITERAL north_rule shape: N executors vs 4N executors,
    *    not N threads vs 4N threads inside one heap. Each executor runs
    *    with -XX:ActiveProcessorCount=1 so its GC/netty/compiler thread
    *    pools are sized for the 1 core it owns — in `local` mode the
    *    2-core arm silently borrows up to 30 machine-wide GC/IO threads a
    *    real 2-core box would not have, inflating the small arm and
    *    DEFLATING every efficiency number (BASELINE.md r2 "bias worth
    *    naming"; measured 0.68-0.87 band in local vs the cluster arms).
    * Fixed shuffle-partition count across arms: partitioning is a property
    * of the data layout, not the cluster size — otherwise the small arm
    * gets wider partitions, spills, and fakes super-linear "scaling".
    */
  def mode: String = sys.props.get("graft.scale.mode")
    .orElse(sys.env.get("SPARK_GRAFT_MODE")).getOrElse("cluster")

  def session(cores: Int): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val master =
      if (mode == "cluster") s"local-cluster[$cores,1,4608]"
      else s"local[$cores]"
    val b = SparkSession.builder()
      .master(master)
      .appName(s"graft-scaling-$cores")
      // fixed partition count across arms (a property of the data layout,
      // not the cluster size — otherwise the small arm gets wider
      // partitions, spills, and fakes super-linear "scaling")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTS", "64"))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", spillDir(cores))
    if (mode == "cluster") {
      // ship our compiled classes + the full Spark jar dir to the executor
      // JVMs (the worker launches them with a bare java, not spark-submit)
      val classesDir = new java.io.File("target/scala-2.13/classes").getAbsolutePath
      val addOpens = Seq(
        "java.base/java.lang", "java.base/java.lang.invoke",
        "java.base/java.lang.reflect", "java.base/java.io",
        "java.base/java.net", "java.base/java.nio",
        "java.base/java.util", "java.base/java.util.concurrent",
        "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs",
        "java.base/sun.security.action", "java.base/sun.util.calendar")
        .map(p => s"--add-opens=$p=ALL-UNNAMED").mkString(" ")
      b.config("spark.executor.extraClassPath", s"$classesDir:/opt/spark/jars/*")
        .config("spark.executor.memory", "4g")
        .config("spark.executor.extraJavaOptions",
          s"-XX:ActiveProcessorCount=1 $addOpens")
        // the worker's in-JVM command builder calls getScalaVersion(),
        // which normally comes from spark-class sourcing load-spark-env.sh;
        // without it executor launch dies with "Cannot find any build
        // directories" even though /opt/spark/jars is a binary distro
        .config("spark.executorEnv.SPARK_SCALA_VERSION", "2.13")
    }
    b.getOrCreate()
  }

  /** Shuffle/sort-bound: the flagship windowed feature-engineering job
    * (the fused single-WindowExec stack — see WindowFeatures.stack).
    */
  def windowJob(spark: SparkSession, n: Long): Long = {
    val ev = Synth.events(spark, n, nEntities = 4096)
    val feat = WindowFeatures.stack(ev, lagCol = "value", lagOffsets = Seq(1, 2),
      backfillCol = "value", rollCol = "event_time", rollN = 8, gap = 1000L,
      tiebreak = "event_id")
    val dim = Synth.events(spark, n / 16, nEntities = 4096, seed = 99L)
      .groupBy(col("entity"), col("event_time").as("t"))
      .agg(max("value").as("dim_v"))
    val probes = feat.withColumnRenamed("event_time", "t")
    val out = AsOfJoin.windowed(probes, dim)
    // checksum over EVERY column: defeats Catalyst column pruning so the
    // probe actually measures all feature computations, and doubles as a
    // cross-parallelism determinism check (order-insensitive sum of hashes)
    out.agg(count(lit(1)), sum(pmod(xxhash64(out.columns.map(col): _*), lit(1000000007L))))
      .collect()(0).getLong(0)
  }

  /** Compute-bound: token/text feature extraction over generated docs. */
  def tokenJob(spark: SparkSession, n: Long): Long = {
    val docs = Synth.tokenSeqs(spark, n)
      .withColumn("text", concat_ws(" ", expr("transform(tokens, t -> CAST(t AS STRING))")))
      .select(col("doc_id"), col("text"), col("source"))
    val t = TextOps.tokenize(docs)
    val f = TextOps.fingerprint(docs)
    val q = TextOps.quality(docs)
    val out = t.join(f, "doc_id").join(q, "doc_id")
    out.agg(count(lit(1)), sum(pmod(xxhash64(out.columns.map(col): _*), lit(1000000007L))))
      .collect()(0).getLong(0)
  }

  private def timed(body: => Long): (Long, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Hypervisor steal fraction over an interval, from /proc/stat (field 8
    * of the aggregate cpu line). This sandbox VM shares a host: bursts of
    * 17-53% steal were observed landing on single reps (asymmetrically —
    * the 8-executor arm absorbs a burst the 2-core arm schedules around),
    * which is exactly the round-2 "0.68-0.87 band" and the round-3
    * tokens-arm 16 s -> 45 s flips. Steal is measured around every timed
    * run; contaminated reps are re-sampled and the per-rep fractions ship
    * in the JSON.
    */
  def cpuJiffies(): (Long, Long) = {
    val f = scala.io.Source.fromFile("/proc/stat").getLines().next()
      .trim.split("\\s+").drop(1).map(_.toLong)
    (f(7), f.sum)
  }

  /** Steal threshold above which a rep is considered contaminated. Quiet
    * periods measure 0-1%; neighbor bursts 17-53%.
    */
  val StealClean = 0.02

  /** Relative host-state threshold for the weather filter: a sample whose
    * bracketing gauge reading (bandwidth or single-thread boost clock,
    * HostCalib.{copy,boost}Gauge) sits below this fraction of the best
    * reading THIS PROCESS has seen is weather-dirty. 0.85 clears the
    * quiet-period gauge noise (±5-8%) while catching the 15-40% episodes
    * that skewed the round-4 afternoon runs.
    */
  val WeatherClean = 0.85

  /** Process-global best-host-state tracker. Every gauge reading (pre-
    * flight polls included) raises the bests, so a probe's weather filter
    * is anchored on the cleanest minute the process has witnessed — a
    * result-independent instrument reference.
    *
    * The bests are SEEDED from (and saved back to) a host-local
    * calibration file (ADVICE r4: a process whose entire lifetime runs
    * under uniformly degraded weather would otherwise normalize against
    * its own degraded best and read every sample as clean). Absolute
    * best-gauge values also ship in every probe JSON so downstream
    * analysis can detect an all-degraded run even without the file.
    */
  object Weather {
    private val calibPath = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_GAUGE_CALIB", "/tmp/graft_gauge_calib.json"))
    @volatile var bestCopy = 0.0
    @volatile var bestBoost = 0.0
    locally {
      try {
        val s = new String(java.nio.file.Files.readAllBytes(calibPath), "UTF-8")
        val re = """"copy":([0-9.eE+\-]+),"boost":([0-9.eE+\-]+)""".r
        re.findFirstMatchIn(s).foreach { m =>
          bestCopy = m.group(1).toDouble
          bestBoost = m.group(2).toDouble
        }
      } catch { case _: Throwable => }
    }
    private def save(): Unit =
      try java.nio.file.Files.write(calibPath,
        s"""{"copy":$bestCopy,"boost":$bestBoost}""".getBytes("UTF-8")): Unit
      catch { case _: Throwable => }
    /** One reading of both gauges (~2-3 s); updates (and persists) the bests. */
    def reading(): (Double, Double) = {
      val c = HostCalib.copyGauge()
      val b = HostCalib.boostGauge()
      synchronized {
        if (c > bestCopy || b > bestBoost) {
          if (c > bestCopy) bestCopy = c
          if (b > bestBoost) bestBoost = b
          save()
        }
      }
      (c, b)
    }
    /** Worst-case relative host state across two bracket readings, vs the
      * process bests (1.0 = as good as the best minute seen).
      */
    def relative(pre: (Double, Double), post: (Double, Double)): Double = {
      val c = math.min(pre._1, post._1) / math.max(bestCopy, 1e-9)
      val b = math.min(pre._2, post._2) / math.max(bestBoost, 1e-9)
      math.min(c, b)
    }
  }

  final case class Result(job: String, rowsIn: Long, rowsOut: Long,
      smallSec: Double, bigSec: Double,
      smallRaw: Seq[Double] = Nil, bigRaw: Seq[Double] = Nil,
      hostCeiling: Double = 0.0, ceilingJob: String = "",
      smallSteal: Seq[Double] = Nil, bigSteal: Seq[Double] = Nil,
      droppedSmall: Int = 0, droppedBig: Int = 0,
      ceilingDirty: Boolean = false,
      priorAttempts: Seq[(Double, Double)] = Nil,
      smallWeather: Seq[Double] = Nil, bigWeather: Seq[Double] = Nil,
      weatherDroppedSmall: Int = 0, weatherDroppedBig: Int = 0,
      truncated: Boolean = false) {
    /** Fraction of all samples measured under degraded host weather
      * (bracketing gauges below WeatherClean x the process best) — the
      * instrument-quality number gated() keys retry/selection on. Counted
      * from the arrays, not the dropped fields, so a probe that had to
      * FALL BACK to dirty samples (every sample degraded) still reads
      * dirty here.
      */
    def weatherDirtyFrac: Double = {
      val all = smallWeather ++ bigWeather
      if (all.isEmpty) 0.0
      else all.count(_ < ScalingBench.WeatherClean).toDouble / all.length
    }
    def efficiency: Double =
      if (ScalingBench.weak) smallSec / bigSec
      else (smallSec / bigSec) / (ScalingBench.nBig.toDouble / ScalingBench.nSmall)
    /** Second estimator: median of per-rep small/big ratios. Arms alternate
      * (small_k runs adjacent to big_k), so slow-host periods hit both runs
      * of a rep and CANCEL in the ratio — robust to the ±40% wall-clock
      * drift this box shows across hours, where independent per-arm medians
      * can pair a slow small rep with a fast big rep. Both ship; read them
      * together.
      */
    def efficiencyPaired: Double = {
      // pairs where EITHER run was steal-contaminated OR weather-degraded
      // are excluded (both are asymmetric across arm widths, so they do
      // NOT cancel in the ratio the way common-mode host drift does);
      // falls back to steal-clean-only, then to all pairs
      val all = smallRaw.zip(bigRaw).zipAll(
        smallSteal.zip(bigSteal), (0.0, 0.0), (0.0, 0.0)).zipAll(
        smallWeather.zip(bigWeather), (((0.0, 0.0)), (0.0, 0.0)), (1.0, 1.0))
        .map { case (((t, st), w)) => (t, st, w) }
      val stealClean = all.filter { case (_, (ss, bs), _) =>
        ss <= ScalingBench.StealClean && bs <= ScalingBench.StealClean }
      val clean = stealClean.filter { case (_, _, (sw, bw)) =>
        sw >= ScalingBench.WeatherClean && bw >= ScalingBench.WeatherClean }
      val use =
        if (clean.nonEmpty) clean
        else if (stealClean.nonEmpty) stealClean
        else all
      val ratios = use.map { case ((s, b), _, _) => s / b }.sorted
      val m =
        if (ratios.isEmpty) smallSec / bigSec
        else if (ratios.length % 2 == 1) ratios(ratios.length / 2)
        else (ratios(ratios.length / 2 - 1) + ratios(ratios.length / 2)) / 2.0
      if (ScalingBench.weak) m else m / (ScalingBench.nBig.toDouble / ScalingBench.nSmall)
    }
    private def f3(d: Double): String = f"$d%.3f"
    def json: String = {
      // ceiling-normalized efficiency: measured efficiency relative to what
      // THIS host's hardware allows for the job's bound resource at the
      // same thread pair (1.0 = the job scales as well as raw hardware
      // does). Only meaningful alongside the raw efficiency — both ship.
      // A ceiling whose every calibration attempt was steal-contaminated
      // ships FLAGGED and without the derived efficiency_vs_ceiling (a
      // dirty >1 "ceiling" would make the derived number nonsense).
      val ceil =
        if (hostCeiling > 0 && !ceilingDirty)
          s""","host_${ceilingJob}_ceiling":${f3(hostCeiling)},""" +
            s""""efficiency_vs_ceiling":${f3(efficiency / hostCeiling)}"""
        else if (hostCeiling > 0)
          s""","host_${ceilingJob}_ceiling":${f3(hostCeiling)},"ceiling_steal_dirty":true"""
        else ""
      s"""{"job":"$job","mode":"${if (ScalingBench.weak) "weak" else "strong"}",
         |"deploy":"${ScalingBench.mode}",
         |"rows_in":$rowsIn,"rows_out":$rowsOut,
         |"n_small":${ScalingBench.nSmall},"n_big":${ScalingBench.nBig},
         |"small_raw":${smallRaw.map(f3).mkString("[", ",", "]")},
         |"big_raw":${bigRaw.map(f3).mkString("[", ",", "]")},
         |"small_steal":${smallSteal.map(f3).mkString("[", ",", "]")},
         |"big_steal":${bigSteal.map(f3).mkString("[", ",", "]")},
         |"steal_clean_threshold":${f3(ScalingBench.StealClean)},
         |"weather_small":${smallWeather.map(f3).mkString("[", ",", "]")},
         |"weather_big":${bigWeather.map(f3).mkString("[", ",", "]")},
         |"weather_clean_threshold":${f3(ScalingBench.WeatherClean)},
         |"weather_dropped_small":$weatherDroppedSmall,
         |"weather_dropped_big":$weatherDroppedBig,
         |"dropped_small":$droppedSmall,"dropped_big":$droppedBig,
         |"small_sec":${f3(smallSec)},"big_sec":${f3(bigSec)},
         |"small_rows_per_sec":${f3(rowsIn / smallSec)},"big_rows_per_sec":${f3(rowsIn / bigSec)},
         |"speedup":${f3(smallSec / bigSec)},"efficiency":${f3(efficiency)},
         |"efficiency_paired":${f3(efficiencyPaired)},
         |"gauge_best_copy":${f3(Weather.bestCopy)},
         |"gauge_best_boost":${f3(Weather.bestBoost)}$trunc$ceil$attemptsJson}"""
        .stripMargin.replace("\n", "")
    }

    /** Flag for a probe the global bench budget cut short: the medians are
      * over fewer samples than planned — still honest numbers, shipped in
      * preference to nothing (the round-4 rc=124 lesson).
      */
    private def trunc: String = if (truncated) ""","truncated":true""" else ""

    /** Non-shipped attempts of an instrument-gated probe (see main()'s
      * `gated`): each retry's (efficiency, same-minute ceiling), so the
      * selection is auditable — nothing measured disappears.
      */
    private def attemptsJson: String =
      if (priorAttempts.isEmpty) ""
      else {
        val others = priorAttempts.map { case (e, c) =>
          s"""{"efficiency":${f3(e)},"ceiling":${f3(c)}}""" }.mkString("[", ",", "]")
        s""","attempts":${priorAttempts.length + 1},"other_attempts":$others"""
      }

    /** Tail-window-sized summary for the driver-visible artifact: the
      * BENCH capture keeps only the LAST ~2 KB of output, and rounds 2-3
      * lost q01-q34 to raw/steal arrays bloating the final JSON line past
      * it. Everything here also ships, un-truncated, in BENCH_DETAIL.json.
      */
    def compactJson: String = {
      val ceil =
        if (hostCeiling > 0 && !ceilingDirty)
          s""","ceiling":${f3(hostCeiling)},"eff_vs_ceiling":${f3(efficiency / hostCeiling)}"""
        else if (hostCeiling > 0) s""","ceiling":${f3(hostCeiling)},"ceiling_dirty":true"""
        else ""
      val att = if (priorAttempts.isEmpty) "" else s""","attempts":${priorAttempts.length + 1}"""
      val wx =
        if (weatherDroppedSmall + weatherDroppedBig == 0) ""
        else s""","wx_dropped":[$weatherDroppedSmall,$weatherDroppedBig]"""
      s"""{"deploy":"${ScalingBench.mode}","n_small":${ScalingBench.nSmall},""" +
        s""""n_big":${ScalingBench.nBig},"small_sec":${f3(smallSec)},""" +
        s""""big_sec":${f3(bigSec)},"efficiency":${f3(efficiency)},""" +
        s""""efficiency_paired":${f3(efficiencyPaired)},""" +
        s""""dropped":[$droppedSmall,$droppedBig]$trunc$wx$ceil$att}"""
    }
  }

  def nSmall: Int = sys.env.getOrElse("SPARK_GRAFT_SMALL", "2").toInt
  def nBig: Int = sys.env.getOrElse("SPARK_GRAFT_BIG", "8").toInt

  /** Absolute wall-clock deadline for THIS probe process (epoch ms), set
    * by Bench's global probe budget (round 4: the gated probes legally
    * consumed the driver's whole bench budget and shipped NOTHING — rc=124,
    * parsed null). The probe self-truncates at the deadline: it stops
    * scheduling visit pairs, skips retries, and ships whatever samples
    * exist flagged `"truncated":true` — a flagged 4-sample number beats an
    * absent one. Unset = no deadline (standalone runs).
    */
  def probeDeadlineMs: Long = sys.env.get("SPARK_GRAFT_PROBE_DEADLINE_EPOCH_MS")
    .map(_.toLong).getOrElse(Long.MaxValue)
  def msLeft: Long =
    if (probeDeadlineMs == Long.MaxValue) Long.MaxValue
    else probeDeadlineMs - System.currentTimeMillis()

  /** Weak-scaling mode: the 4N arm processes 4x the rows; efficiency =
    * small_sec / big_sec (ideal: the bigger cluster absorbs 4x the data in
    * the same wall clock — the standard cluster-throughput criterion).
    */
  def weak: Boolean = sys.env.getOrElse("SPARK_GRAFT_WEAK", "0") == "1"

  final case class RunSample(rowsOut: Long, sec: Double, steal: Double)

  /** Measured runs per session visit (after the visit's two full-size
    * warmups). Amortizing the warmups over several in-session runs makes
    * many samples affordable: the host shows multi-minute ±15% drift modes
    * that are NOT hypervisor steal (neighbor memory-bandwidth pressure,
    * per-core turbo shifts with arm width), and only a larger, finely
    * interleaved sample defeats them.
    */
  def perVisit: Int = sys.env.getOrElse("SPARK_GRAFT_SCALE_PER_VISIT", "3").toInt

  def measure(job: (SparkSession, Long) => Long, name: String, n: Long,
      reps: Int): Result = {
    val ratio = nBig / nSmall
    val small = scala.collection.mutable.ArrayBuffer[RunSample]()
    val big = scala.collection.mutable.ArrayBuffer[RunSample]()
    // visit-0 stash: normally discarded (driver-JIT warm-up), PROMOTED
    // when the deadline kills every measured visit — a flagged 1-sample
    // number beats the round-4 nothing
    val v0Small = scala.collection.mutable.ArrayBuffer[RunSample]()
    val v0Big = scala.collection.mutable.ArrayBuffer[RunSample]()
    var truncated = false
    // per-arm wall-clock estimate of ONE full-size run (warmups included
    // — they run the same job), updated after every run: the basis for
    // every per-run deadline decision below
    val estSec = scala.collection.mutable.Map[Int, Double]()
    // margin covers the bracketing gauge reading, session stop, JSON
    // emission and JVM exit; the parent's kill-with-grace is the backstop
    def room(needSec: Double): Boolean =
      msLeft == Long.MaxValue || msLeft > (needSec * 1000).toLong + 25000L
    def runVisit(cores: Int, visit: Int): Seq[RunSample] = {
      // PER-RUN deadline governance (round-5 fix: the round-4 fail-safe
      // truncated only BETWEEN visit pairs, and preflight + visit 0 +
      // visit 1 alone can exceed slice+grace at ~50 s/run — all three
      // cluster probes of the first round-5 dress died to the parent's
      // SIGKILL mid-visit-1 with zero samples shipped). Contract: the
      // FIRST warmup and FIRST run of a session are mandatory once the
      // session starts (the parent's grace is sized for exactly that);
      // the second warmup and every further run must individually fit
      // the remaining slice, and a whole session is skipped when even
      // its minimum cannot fit — unless the arm has NO sample yet at a
      // measured visit, where the mandatory minimum is exactly what the
      // parent's grace covers. An unmeasured small arm's cost is seeded
      // from the measured big arm scaled by the core ratio (pessimistic
      // ~linear prior), so visit 0 can skip its expensive small half
      // when the slice clearly cannot also fit a MEASURED small visit —
      // spending the time on visit 1's real samples instead of a
      // discarded warmup (three dress runs lost the tokens 2-core
      // measured visit by ~60-90 s to exactly that warmup).
      val est0 = estSec.getOrElse(cores,
        if (cores == nSmall)
          estSec.get(nBig).map(_ * nBig / nSmall * 0.8).getOrElse(0.0)
        else 0.0)
      // MEASURED samples only: a visit-0 stash is a last-resort fallback,
      // not a reason to skip the arm's one mandatory measured visit — the
      // tokens probe missed its measured pair by 23 s in a dress run
      // because the stash counted as "have any". A mandatory minimum that
      // starts just before the deadline ends ~(warmup + run + teardown)
      // past it, which is exactly what the parent's grace covers.
      val haveAny = if (cores == nSmall) small.nonEmpty else big.nonEmpty
      val mustAttempt = visit != 0 && !haveAny
      // a v0 small-arm skip must leave room for v1's mandatory minimum
      // (2 runs) plus its own 2 would-be runs — i.e. skip when < 4 runs fit
      val needSec = if (visit == 0) 4 * est0 + 30 else 2 * est0 + 15
      if (!mustAttempt && est0 > 0 && !room(needSec)) {
        // a skipped visit-0 arm must NOT flag truncation: visit 0 is the
        // discarded warmup, and the flag ends the measurement loop — it
        // ended it before visit 1's mandatory minimums in one dress run,
        // leaving an arm with zero samples (shipped as an error entry)
        if (visit != 0) truncated = true
        System.err.println(s"[scaling] $name cores=$cores visit=$visit skipped: " +
          s"${msLeft / 1000} s left < ${needSec.toInt} s session cost")
        return Nil
      }
      cleanDir(spillDir(cores))
      val s = session(cores)
      s.sparkContext.setLogLevel("WARN")
      val rows = if (weak && cores == nBig) n * ratio else n
      try {
        def one(): Unit = {
          val t0 = System.nanoTime()
          job(s, rows)
          estSec(cores) = (System.nanoTime() - t0) / 1e9
        }
        // TWO full-size warmups per measured session: every cluster session
        // spawns fresh executor JVMs whose SINGLE C2 compiler thread (under
        // -XX:ActiveProcessorCount=1) needs both before steady state
        // (one-warmup sessions measured 2x slow on identical input). The
        // discarded visit-0 exists for DRIVER-side classloading/JIT only —
        // one warmup + one thrown-away run is enough there. The second
        // warmup is cut under deadline pressure (flagged).
        one()
        if (visit != 0) {
          if (room(2 * estSec(cores))) one() else truncated = true
        }
        val k = if (visit == 0) 1 else perVisit
        val buf = scala.collection.mutable.ArrayBuffer[RunSample]()
        var i = 0
        var stop = false
        while (i < k && !stop) {
          if (i > 0 && !room(estSec(cores))) {
            truncated = true
            stop = true
            System.err.println(s"[scaling] $name cores=$cores visit=$visit: " +
              s"${msLeft / 1000} s left < one more ~${estSec(cores).toInt} s run " +
              "— truncating mid-visit")
          } else {
            // each measured run starts from a collected heap: prior-run
            // garbage otherwise bleeds G1 pauses into the measurement
            System.gc()
            val (st0, tot0) = cpuJiffies()
            val r = timed(job(s, rows))
            val (st1, tot1) = cpuJiffies()
            val steal = if (tot1 > tot0) (st1 - st0).toDouble / (tot1 - tot0) else 0.0
            estSec(cores) = r._2
            System.err.println(f"[scaling] $name cores=$cores visit=$visit run=$i " +
              f"t=${r._2}%.2f s steal=${steal * 100}%.1f%%")
            buf += RunSample(r._1, r._2, steal)
            i += 1
          }
        }
        buf.toSeq
      } finally s.stop()
    }
    // Visits ALTERNATE arms (small, big, small, big, ...) every ~1-2 min
    // so host drift modes spread across both arms. The ENTIRE first visit
    // per arm is warm-up-only and discarded (the JVM's first session is
    // ~10% slow even after its two in-session warmups — driver-side
    // classloading/JIT; the round-2 rep-0 rule, widened). ADAPTIVE: extra
    // visits while an arm lacks enough steal-clean samples, bounded.
    val baseVisits = math.max(3, reps)
    // +1, not 2x (round-4 fix): each extra visit pair costs ~2-6 min of
    // full-size runs, and under the global bench budget a marginally
    // steal-dirty sample is not worth two of them
    val maxVisits = baseVisits + 1
    // one short of the full 2-visit sample count: a SINGLE marginally
    // steal-dirty sample must not force a whole extra ~2-4 min visit
    // (median over 5 clean samples is already stable; the round-4 dress
    // run paid 2 extra visits, ~8 min, to one 2.1% sample each)
    val targetClean = 2 * perVisit - 1
    // per-block gauge brackets: (pre, post, samples-in-block); each
    // reading closes one block and opens the next, so the weather cost is
    // one ~2.5 s reading per arm block
    type Brk = ((Double, Double), (Double, Double), Int)
    val smallBr = scala.collection.mutable.ArrayBuffer[Brk]()
    val bigBr = scala.collection.mutable.ArrayBuffer[Brk]()
    val v0SmallBr = scala.collection.mutable.ArrayBuffer[Brk]()
    val v0BigBr = scala.collection.mutable.ArrayBuffer[Brk]()
    def cleanN(xs: Seq[RunSample]) = xs.count(_.steal <= StealClean)
    var v = 0
    var lastPairSec = 0.0
    var lastPairRuns = 0
    var gauge = Weather.reading()
    while (!truncated && v < maxVisits && (v < baseVisits ||
        cleanN(small.toSeq) < targetClean || cleanN(big.toSeq) < targetClean)) {
      // global-budget check BEFORE committing to a visit pair: estimate the
      // next pair's cost from the last pair's per-run wall clock, and stop
      // (flagging `truncated`) once at least one measured visit landed —
      // partial samples SHIP; only a pathological first pair relies on the
      // parent's kill-with-grace backstop
      val nextRuns = if (v == 0) 4 else 2 * (2 + perVisit)
      val estMs =
        if (lastPairRuns == 0) 0L
        else (lastPairSec * 1000.0 * nextRuns / lastPairRuns).toLong
      if (small.nonEmpty && big.nonEmpty && estMs + 30000 > msLeft) {
        truncated = true
        System.err.println(s"[scaling] $name: probe deadline in ${msLeft / 1000} s < " +
          s"estimated next visit pair ${estMs / 1000} s — truncating at $v visits")
      } else {
        val tp0 = System.nanoTime()
        // BIG arm first within each visit (round-5): the big arm is ~4x
        // cheaper per run, so when the slice deadline cuts a visit short
        // it is the expensive SMALL arm that loses runs — the cheap arm's
        // samples are already banked and the probe still ships a measured
        // PAIR. (Small-first measured pairs died to "big arm skipped" in
        // the second composed dress.)
        val bv = runVisit(nBig, v)
        val gMid = Weather.reading()
        val sv = runVisit(nSmall, v)
        val gEnd = Weather.reading()
        if (v != 0) {
          big ++= bv; bigBr += ((gauge, gMid, bv.length))
          small ++= sv; smallBr += ((gMid, gEnd, sv.length))
        } else {
          v0Big ++= bv; v0BigBr += ((gauge, gMid, bv.length))
          v0Small ++= sv; v0SmallBr += ((gMid, gEnd, sv.length))
        }
        gauge = gEnd
        lastPairSec = (System.nanoTime() - tp0) / 1e9
        lastPairRuns = nextRuns
        v += 1
      }
    }
    // every measured visit fell to the deadline: promote the discarded
    // visit-0 warm-up samples for whichever arm is empty — biased ~10%
    // slow (driver-side classloading/JIT), but flagged `truncated` and
    // infinitely better than the round-4 empty artifact
    if (small.isEmpty && v0Small.nonEmpty) {
      truncated = true
      small ++= v0Small; smallBr ++= v0SmallBr
      System.err.println(s"[scaling] $name: promoting ${v0Small.length} " +
        "visit-0 small-arm sample(s) — no measured visit fit the slice")
    }
    if (big.isEmpty && v0Big.nonEmpty) {
      truncated = true
      big ++= v0Big; bigBr ++= v0BigBr
      System.err.println(s"[scaling] $name: promoting ${v0Big.length} " +
        "visit-0 big-arm sample(s) — no measured visit fit the slice")
    }
    // normalize AFTER the loop: Weather.relative reads the process-best
    // gauges, which only settle once every block has been bracketed
    val smallWx = smallBr.toSeq.flatMap { case (pre, post, k) =>
      Seq.fill(k)(Weather.relative(pre, post)) }
    val bigWx = bigBr.toSeq.flatMap { case (pre, post, k) =>
      Seq.fill(k)(Weather.relative(pre, post)) }
    // true median: odd count -> middle element; even -> mean of middle 2
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2)
      else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
    }
    // contamination only ever INFLATES a time: beyond the steal filter,
    // samples slower than 1.5x the arm's MEDIAN are residual slow-mode
    // draws, dropped before the final median. Median-anchored (ADVICE r3:
    // a min-anchored cutoff is biased by one anomalously fast run silently
    // shrinking the keep window), one-sided (slow only — contamination
    // never makes a run faster), and the dropped count ships in the JSON.
    def steady(xs: Seq[Double]): Seq[Double] = {
      val m = median(xs)
      xs.filter(_ <= 1.5 * m)
    }
    // medians over the steal-clean AND weather-clean subset when one
    // exists; degrades to steal-clean-only, then to all samples, only
    // when every run was dirty — visible in the shipped steal/weather
    // arrays. Weather drops are counted separately (wx_dropped): steal is
    // the hypervisor taking cycles; weather is the neighbor degrading
    // bandwidth or boost clocks, which steal cannot see.
    def usable(xs: Seq[RunSample], wx: Seq[Double]): (Seq[Double], Int) = {
      val stealClean = xs.zip(wx).filter(_._1.steal <= StealClean)
      val clean = stealClean.filter(_._2 >= WeatherClean)
      if (clean.nonEmpty) (clean.map(_._1.sec), stealClean.length - clean.length)
      else if (stealClean.nonEmpty) (stealClean.map(_._1.sec), 0)
      else (xs.map(_.sec), 0)
    }
    val rowsOut = small.head.rowsOut
    if (!weak) require((small.toSeq ++ big.toSeq).forall(_.rowsOut == rowsOut),
      "runs diverged across parallelism levels")
    val (smallUse, smallWxDrop) = usable(small.toSeq, smallWx)
    val (bigUse, bigWxDrop) = usable(big.toSeq, bigWx)
    val smallSteady = steady(smallUse)
    val bigSteady = steady(bigUse)
    Result(name, n, rowsOut,
      median(smallSteady), median(bigSteady),
      small.toSeq.map(_.sec), big.toSeq.map(_.sec),
      smallSteal = small.toSeq.map(_.steal), bigSteal = big.toSeq.map(_.steal),
      droppedSmall = smallUse.length - smallSteady.length,
      droppedBig = bigUse.length - bigSteady.length,
      smallWeather = smallWx, bigWeather = bigWx,
      weatherDroppedSmall = smallWxDrop, weatherDroppedBig = bigWxDrop,
      truncated = truncated)
  }

  /** Result-BLIND instrument-quality check (ADVICE r4 / VERDICT r4 #3) —
    * the ONLY input to the gated-probe retry/stop decision. A probe is
    * re-measured iff its instrument was degraded: steal-contaminated
    * ceiling calibration, same-minute host ceiling below the bar, or more
    * than a third of its samples bracketed by degraded weather gauges. The
    * measured efficiency NEVER appears here — the old `efficiency >= 0.8`
    * early-out shipped good numbers from degraded instruments unexamined
    * while retrying bad ones, a one-sided filter on the published headline.
    */
  def instrumentClean(ceilingDirty: Boolean, hostCeiling: Double,
      weatherDirtyFrac: Double, ceilBar: Double): Boolean =
    ceilBar <= 0 ||
      (!ceilingDirty && hostCeiling >= ceilBar && weatherDirtyFrac <= 0.33)

  /** Skew probe (north rule: "skew handled explicitly" — demonstrated by
    * MEASUREMENT, not construction): the same interval-join sweep over an
    * input where ONE entity holds half of all rows, run with
    *  (a) the engine's range-binned partitioning — the hot entity's rows
    *      spread across all its coordinate bins (entity, bin keys), and
    *  (b) per-entity hash partitioning (the round-1 strawman: binSize
    *      wider than the coordinate range collapses every interval into
    *      bin 0, so the shuffle key degenerates to the entity alone and
    *      one task owns the hot entity).
    * Identical input, identical sweep kernel, identical output checksum —
    * the ONLY difference is the partitioning key space. Runs on the big
    * arm only (skew is a parallelism property; the 1-core arm can't show
    * stragglers).
    */
  def skewProbe(spark: SparkSession, n: Long): ((Long, Long), Double, Double) = {
    import graft.ops.{IntervalJoin, Overlap}
    val probes = Synth.skewedProbes(spark, n)
    val feats = Synth.featureIntervals(spark, n / 4, nEntities = 64)
      .drop("group_id", "ftype", "attr")
    // checksum = (row count, order-insensitive content hash sum) — BOTH
    // aggregates are read and compared across the two partitioning paths
    // (ADVICE r3: reading only the count let the paths diverge in VALUES
    // and still pass the "identical output" require)
    def run(binSize: Long): ((Long, Long), Double) = {
      // steal-guarded: re-measure (once) if a hypervisor burst landed on
      // this run — the probe is comparative, but a burst on ONE side would
      // fake (or mask) the skew effect
      var out: ((Long, Long), Double) = null
      var attempt = 0
      var clean = false
      while (attempt < 2 && !clean) {
        val (st0, tot0) = cpuJiffies()
        val t0 = System.nanoTime()
        val r = {
          val o = IntervalJoin.sweepJoin(probes, feats, Overlap, binSize)
          val row = o.agg(count(lit(1)),
            sum(pmod(xxhash64(o.columns.map(col): _*), lit(1000000007L)))).collect()(0)
          (row.getLong(0), if (row.isNullAt(1)) 0L else row.getLong(1))
        }
        out = (r, (System.nanoTime() - t0) / 1e9)
        val (st1, tot1) = cpuJiffies()
        clean = tot1 <= tot0 || (st1 - st0).toDouble / (tot1 - tot0) <= StealClean
        attempt += 1
      }
      out
    }
    run(4096L); run(1L << 40) // warmup both paths (JIT + codegen)
    val (kBinned, tBinned) = run(4096L)
    val (kEntity, tEntity) = run(1L << 40)
    require(kBinned == kEntity,
      s"skew probe paths diverged: binned (rows, hash)=$kBinned vs entity-hash $kEntity")
    (kBinned, tBinned, tEntity)
  }

  /** Standalone main: run one or both probes and print `SCALING {json}`
    * lines. `SPARK_GRAFT_SCALE_JOB` = all | window | tokens | skew (`all`
    * runs window and tokens; skew runs only when named). Bench spawns
    * this in a FRESH JVM per job so the 160-s query sweep's heap/GC state
    * can't contaminate the measurement (the round-1 failure mode).
    */
  def main(args: Array[String]): Unit = {
    System.err.println(s"[scaling] heap max ${Runtime.getRuntime.maxMemory / (1 << 20)} MiB, " +
      s"deploy=$mode, " +
      s"args ${java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments}")
    val nWin = sys.env.getOrElse("SPARK_GRAFT_SCALE_ROWS", "8000000").toLong
    val nTok = sys.env.getOrElse("SPARK_GRAFT_SCALE_DOCS", "400000").toLong
    val nSkew = sys.env.getOrElse("SPARK_GRAFT_SCALE_SKEW_ROWS", "4000000").toLong
    val reps = sys.env.getOrElse("SPARK_GRAFT_SCALE_REPS", "5").toInt
    val which = sys.env.getOrElse("SPARK_GRAFT_SCALE_JOB", "all")
    require(Set("all", "window", "tokens", "skew")(which),
      s"SPARK_GRAFT_SCALE_JOB must be all | window | tokens | skew, got '$which'")
    // per-run host ceiling calibration in THIS fresh JVM (pure threads, no
    // Spark): what the hardware itself scales at for the job's bound
    // resource, shipped inside the JSON next to the measured efficiency.
    // Retried under hypervisor steal — a burst during calibration produced
    // a nonsensical >1 "ceiling" in one observed run.
    def withCeiling(r: Result, job: String): Result = {
      var ceiling = 0.0
      var attempt = 0
      var clean = false
      while (attempt < 3 && !clean) {
        val (st0, tot0) = cpuJiffies()
        ceiling = HostCalib.pairEfficiency(job, nSmall, nBig)
        val (st1, tot1) = cpuJiffies()
        clean = tot1 <= tot0 || (st1 - st0).toDouble / (tot1 - tot0) <= StealClean
        attempt += 1
      }
      // every attempt contaminated -> the ceiling ships FLAGGED (ADVICE
      // r3: a dirty ceiling must not feed efficiency_vs_ceiling silently)
      r.copy(hostCeiling = ceiling, ceilingJob = job, ceilingDirty = !clean)
    }
    // One steal-guarded ceiling reading (seconds of pure-thread work).
    def calibOnce(job: String): (Double, Boolean) = {
      val (st0, tot0) = cpuJiffies()
      val c = HostCalib.pairEfficiency(job, nSmall, nBig)
      val (st1, tot1) = cpuJiffies()
      (c, tot1 <= tot0 || (st1 - st0).toDouble / (tot1 - tot0) <= StealClean)
    }
    // INSTRUMENT GATE (round 4). The steal filter cannot see neighbor
    // memory-bandwidth pressure, and under it the same-minute hardware
    // ceiling drops below the 0.8 criterion — at that point a probe
    // measures the neighbor, not the engine (round 3 shipped exactly such
    // a number). Two defenses, both bounded and fully audited:
    //  - PRE-FLIGHT: before paying a ~10-min probe, poll the cheap ceiling
    //    reading until it clears `ceilBar` (the level below which the box
    //    cannot evidence 0.8 for ANY computation of that bound resource)
    //    or the wait budget runs out. Clean weather costs one ~5-s
    //    reading; a burst is waited out instead of measured.
    //  - RETRY: if a probe still lands under 0.8 WITH a degraded
    //    instrument (final ceiling < bar), re-measure once. The shipped
    //    result is the attempt whose same-minute ceiling was highest (the
    //    cleanest instrument — selection keyed on instrument quality, not
    //    on the result); every other attempt's (efficiency, ceiling) ships
    //    alongside as `other_attempts`.
    // `SPARK_GRAFT_CEIL_BAR=0` disables both (used for the stress pair,
    // whose envelope sits below the criterion by design and which is
    // judged against its own same-moment ceiling instead).
    val ceilBar = sys.env.getOrElse("SPARK_GRAFT_CEIL_BAR", "0.9").toDouble
    val maxAttempts = sys.env.getOrElse("SPARK_GRAFT_SCALE_ATTEMPTS", "2").toInt
    // 2 min (was 6 — round-4 fix): the pre-flight is a cheap courtesy wait
    // for a passing burst, not a right to consume the bench budget; a
    // still-degraded instrument after 2 min ships flagged instead of waited
    val preflightBudgetMs = sys.env.getOrElse("SPARK_GRAFT_PREFLIGHT_MS", "120000").toLong
    def preflight(job: String): Unit = {
      if (ceilBar <= 0) return
      // never let the wait eat into the time the probe itself needs: keep
      // a reserve that covers at least visit 0 + a minimal visit 1
      val budget = math.min(preflightBudgetMs, math.max(0L, msLeft - 240000L))
      val deadline = System.nanoTime() + budget * 1000000L
      // each poll also reads the absolute gauges: the bests they raise
      // anchor the probe's weather filter, and a poll measuring well
      // below an earlier poll's state is itself a reason to keep waiting
      def poll(): (Double, Boolean, Double) = {
        val (c, clean) = calibOnce(job)
        val w = Weather.reading()
        val rel = math.min(w._1 / math.max(Weather.bestCopy, 1e-9),
          w._2 / math.max(Weather.bestBoost, 1e-9))
        (c, clean, rel)
      }
      var (c, clean, rel) = poll()
      while ((c < ceilBar || !clean || rel < WeatherClean) &&
          System.nanoTime() < deadline) {
        System.err.println(f"[scaling] pre-flight: host $job ceiling $c%.3f " +
          f"(clean=$clean, weather $rel%.2f) below bar $ceilBar%.2f — waiting out the weather")
        Thread.sleep(45000)
        val n = poll(); c = n._1; clean = n._2; rel = n._3
      }
      System.err.println(f"[scaling] pre-flight done: host $job ceiling $c%.3f " +
        f"weather $rel%.2f (bar $ceilBar%.2f)")
    }
    def gated(job: (SparkSession, Long) => Long, name: String, n: Long,
        ceilJob: String): Result = {
      var attempts = List.empty[Result]
      var stop = false
      while (attempts.length < maxAttempts && !stop) {
        preflight(ceilJob)
        val t0 = System.currentTimeMillis()
        val r = withCeiling(measure(job, name, n, reps), ceilJob)
        val attemptMs = System.currentTimeMillis() - t0
        attempts ::= r
        // retry keyed ONLY on instrument quality (result-blind — see
        // instrumentClean); a budget-truncated attempt never retries
        stop = instrumentClean(r.ceilingDirty, r.hostCeiling,
          r.weatherDirtyFrac, ceilBar) || r.truncated
        // ... and a retry must fit the remaining probe budget
        if (!stop && msLeft < (attemptMs * 1.2).toLong + 60000L) {
          System.err.println(s"[scaling] degraded instrument but only " +
            s"${msLeft / 1000} s of probe budget left (attempt took " +
            s"${attemptMs / 1000} s) — shipping without retry")
          stop = true
        }
        if (!stop && attempts.length < maxAttempts)
          System.err.println(f"[scaling] attempt ${attempts.length}: efficiency " +
            f"${r.efficiency}%.3f under a degraded instrument (ceiling " +
            f"${r.hostCeiling}%.3f, weather-dirty ${r.weatherDirtyFrac * 100}%.0f%%) " +
            "— re-measuring")
      }
      // selection keyed on instrument quality, never the result: fewest
      // weather-degraded samples, then the cleanest same-minute ceiling
      val best = attempts.minBy(r =>
        (r.weatherDirtyFrac, if (r.ceilingDirty) 1.0 else -r.hostCeiling))
      best.copy(priorAttempts =
        attempts.filterNot(_ eq best).map(r => (r.efficiency, r.hostCeiling)))
    }
    // two lines per probe: `SCALING {full}` (raw/steal arrays, for
    // BENCH_DETAIL.json) and `SCALINGC {compact}` (for the tail-window-
    // sized final Bench line the driver captures)
    def emit(r: Result): Unit = {
      println(s"SCALING ${r.json}")
      println(s"SCALINGC ${r.compactJson}")
    }
    // LAST-RESORT emission (round-5): whatever goes wrong inside a probe
    // — an exception, a session that cannot start, a deadline pathology —
    // the process still prints a structured SCALING/SCALINGC pair and
    // exits 0, so the parent embeds an error entry instead of rc!=0
    def emitSafe(jobName: String)(body: => Result): Unit =
      try emit(body) catch {
        case e: Throwable =>
          val msg = (s"${e.getClass.getSimpleName}: ${e.getMessage}")
            .replaceAll("[\"\\\\\\n\\r\\t]", " ").take(160)
          val j = s"""{"job":"$jobName","error":"$msg","truncated":true}"""
          System.err.println(s"[scaling] $jobName probe failed: $e — shipping error entry")
          println(s"SCALING $j")
          println(s"SCALINGC $j")
      }
    if (which == "all" || which == "window")
      emitSafe("window_features_asof")(
        gated(windowJob, "window_features_asof", nWin, "copy"))
    if (which == "all" || which == "tokens")
      emitSafe("tokenize_fingerprint_quality")(
        gated(tokenJob, "tokenize_fingerprint_quality", nTok, "compute"))
    if (which == "skew") {
      try {
        // one arm (nBig cores), comparative: binned vs entity-hash keys
        cleanDir(spillDir(nBig))
        val s = session(nBig)
        s.sparkContext.setLogLevel("WARN")
        try {
          val ((rows, hash), tBinned, tEntity) = skewProbe(s, nSkew)
          val j = f"""{"job":"skew_hot_entity","deploy":"$mode","n_cores":$nBig,""" +
            f""""rows":$nSkew,"hot_frac":0.5,"checksum_rows":$rows,"checksum_hash":$hash,""" +
            f""""binned_sec":$tBinned%.3f,"entity_hash_sec":$tEntity%.3f,""" +
            f""""binned_speedup":${tEntity / tBinned}%.3f}"""
          println(s"SCALING $j")
          // compact: drop the checksum detail, keep the comparative numbers
          println(f"""SCALINGC {"binned_sec":$tBinned%.3f,"entity_hash_sec":$tEntity%.3f,""" +
            f""""binned_speedup":${tEntity / tBinned}%.3f}""")
        } finally s.stop()
      } catch {
        case e: Throwable =>
          val msg = (s"${e.getClass.getSimpleName}: ${e.getMessage}")
            .replaceAll("[\"\\\\\\n\\r\\t]", " ").take(160)
          val j = s"""{"job":"skew_hot_entity","error":"$msg","truncated":true}"""
          System.err.println(s"[scaling] skew probe failed: $e — shipping error entry")
          println(s"SCALING $j")
          println(s"SCALINGC $j")
      }
    }
  }
}
