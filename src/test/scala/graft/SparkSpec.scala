package graft

import org.apache.spark.graftaccess.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.atomic.AtomicInteger

/** One shared local SparkSession for the whole test JVM. */
object TestSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  /** The call sites of the jobs started while `body` runs, and how many
    * jobs ended, with the listener bus drained. */
  protected def jobsOf[T](body: => T): (T, Seq[String], Int) = {
    val sc = spark.sparkContext
    val started = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val ended = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        started.add(e.stageInfos.maxBy(_.stageId).name)
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.incrementAndGet()
    }
    ListenerBusAccess.waitUntilEmpty(sc)
    sc.addSparkListener(l)
    try {
      val r = try body finally ListenerBusAccess.waitUntilEmpty(sc)
      (r, started.toArray(Array.empty[String]).toSeq, ended.get)
    } finally sc.removeSparkListener(l)
  }
}
