package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.mutable

/** One recorded call into a layer: the benchmark's own span around a
  * public engine function. `constructS` is the call's wall time; `execS`
  * is a checksum action over the call's output alone (for a sink, the
  * call itself). Jobs are attributed to the span through the
  * [[Tracer.SpanProp]] local property that [[Tracer]]'s listener reads back.
  */
final class Span(val id: Long, val name: String, val parent: Long, val startNs: Long) {
  var endNs: Long = 0L
  var constructS: Double = 0.0
  var execS: Double = 0.0
  var constructJobs: Int = 0
  /** A sink's exec is its call, so it adds no wall time of its own. */
  var sink = false
  def wallS: Double = constructS + (if (sink) 0.0 else execS)
}

/** Per-span Spark accounting filled by the listener. */
final class SpanStats {
  var jobs = 0
  var shuffleBytes = 0L
  var gcMs = 0L
  var runMs = 0L
  /** stageId -> (wall ms, task durations ms) */
  val stages = mutable.Map[Int, (Long, mutable.ArrayBuffer[Long])]()
}

/** In-memory span recorder + job attribution listener. Spans are kept in
  * memory and written out once, when the run ends.
  */
final class Tracer(spark: SparkSession, slots: Int) extends SparkListener {
  import Tracer._

  private val sc = spark.sparkContext
  private var nextId = 1L
  private var current = 0L
  val spans = mutable.ArrayBuffer[Span]()
  private val stats = mutable.Map[Long, SpanStats]()
  private val stageSpan = mutable.Map[Int, Long]()

  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val sid = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp))).map(_.toLong)
    sid.foreach { s =>
      stats.getOrElseUpdate(s, new SpanStats).jobs += 1
      e.stageInfos.foreach(si => stageSpan(si.stageId) = s)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach { s =>
      val st = stats.getOrElseUpdate(s, new SpanStats)
      val m = e.taskMetrics
      if (m != null) {
        st.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        st.gcMs += m.jvmGCTime
        st.runMs += m.executorRunTime
      }
      val (w, ds) = st.stages.getOrElseUpdate(e.stageId, (0L, mutable.ArrayBuffer[Long]()))
      ds += e.taskInfo.duration
      st.stages(e.stageId) = (w, ds)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    stageSpan.get(si.stageId).foreach { s =>
      val st = stats.getOrElseUpdate(s, new SpanStats)
      val wall = (for (a <- si.submissionTime; b <- si.completionTime) yield b - a).getOrElse(0L)
      val (_, ds) = st.stages.getOrElseUpdate(si.stageId, (0L, mutable.ArrayBuffer[Long]()))
      st.stages(si.stageId) = (wall, ds)
    }
  }

  private def withProp[T](id: Long)(body: => T): T = {
    val prev = sc.getLocalProperty(SpanProp)
    sc.setLocalProperty(SpanProp, id.toString)
    try body finally sc.setLocalProperty(SpanProp, prev)
  }

  private def jobsOf(id: Long): Int = {
    org.apache.spark.graftaccess.ListenerBusAccess.waitUntilEmpty(sc)
    synchronized(stats.get(id).map(_.jobs).getOrElse(0))
  }

  /** Run `body` (one public call) under a new span; `exec` materializes
    * its output alone (None for a sink, whose exec time is the call).
    * Returns the call's result and the seconds spent on the isolated
    * exec action, which the caller leaves out of its end-to-end timing.
    */
  def span[T](name: String)(body: => T)(exec: T => Option[DataFrame]): (T, Double) = {
    val s = new Span(nextId, name, current, System.nanoTime())
    nextId += 1
    spans += s
    val parent = current
    current = s.id
    try {
      val t0 = System.nanoTime()
      val r = withProp(s.id)(body)
      s.constructS = (System.nanoTime() - t0) / 1e9
      s.constructJobs = jobsOf(s.id)
      val isolated = exec(r) match {
        case Some(df) =>
          val t1 = System.nanoTime()
          withProp(s.id)(Checks.checksum(df))
          s.execS = (System.nanoTime() - t1) / 1e9
          s.execS
        case None =>
          s.execS = s.constructS
          s.sink = true
          0.0
      }
      s.endNs = System.nanoTime()
      (r, isolated)
    } finally current = parent
  }

  /** A grouping span with no call of its own (e.g. one rep). */
  def group[T](name: String)(body: => T): T = {
    val s = new Span(nextId, name, current, System.nanoTime())
    nextId += 1
    spans += s
    val parent = current
    current = s.id
    try body finally { s.endNs = System.nanoTime(); current = parent }
  }

  /** Median over a span name's instances of each per-layer metric. */
  def layerMetrics(): Map[String, Double] = {
    org.apache.spark.graftaccess.ListenerBusAccess.waitUntilEmpty(sc)
    synchronized {
      LayerSpans.flatMap { name =>
        val inst = spans.filter(_.name == name).toSeq
        def med(f: Span => Double): Double =
          if (inst.isEmpty) 0.0 else Stats.median(inst.map(f))
        def st(s: Span) = stats.getOrElse(s.id, new SpanStats)
        Seq(
          s"$name.construct_s" -> med(_.constructS),
          s"$name.construct_jobs" -> med(_.constructJobs.toDouble),
          s"$name.exec_s" -> med(_.execS),
          s"$name.jobs" -> med(s => st(s).jobs.toDouble),
          s"$name.shuffle_bytes" -> med(s => st(s).shuffleBytes.toDouble),
          s"$name.gc_s" -> med(s => st(s).gcMs / 1e3),
          s"$name.task_skew" -> med(s => taskSkew(st(s))),
          s"$name.sched_wait_s" -> med(s => s.wallS - st(s).runMs / 1e3 / slots))
      }.toMap
    }
  }

  /** max / median task time in the span's longest stage (1 = no skew). */
  private def taskSkew(st: SpanStats): Double =
    if (st.stages.isEmpty) 0.0
    else {
      val (_, ds) = st.stages.values.maxBy(_._1)
      if (ds.isEmpty) 0.0
      else ds.max.toDouble / math.max(Stats.median(ds.map(_.toDouble).toSeq), 1.0)
    }

  /** Spans as a JSON array (name, id, parent, start/end relative to the
    * first span, construct/exec seconds, attributed job stats). */
  def spansJson(): String = {
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    spans.map { s =>
      val st = stats.getOrElse(s.id, new SpanStats)
      Json.obj(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "start_s" -> (s.startNs - t0) / 1e9, "end_s" -> (s.endNs - t0) / 1e9,
        "construct_s" -> s.constructS, "construct_jobs" -> s.constructJobs,
        "exec_s" -> s.execS, "jobs" -> st.jobs, "shuffle_bytes" -> st.shuffleBytes,
        "gc_s" -> st.gcMs / 1e3, "task_run_s" -> st.runMs / 1e3)
    }.mkString("[", ",", "]")
  }

  def close(): Unit = sc.removeSparkListener(this)
}

object Tracer {
  val SpanProp = "perfbench.span"

  /** Every span a workload may record, one per public call the benchmark
    * makes, named `<module>.<Object>.<function>`. */
  val LayerSpans: Seq[String] = Seq(
    "sources.GffSource.parse",
    "index.IndexBuild.build", "index.IndexBuild.write", "index.IndexBuild.load",
    "index.GffOps.extract", "index.GffOps.searchExact", "index.GffOps.intersect",
    "index.GffOps.intersect.typed",
    "ops.WindowFeatures.stack", "ops.AsOfJoin.join", "ops.IntervalJoin.join",
    "ops.Coverage.depth", "ops.Coverage.breadth",
    "plans.IntervalBinRule",
    "runtime.Checkpoint.runPartitioned")
}
