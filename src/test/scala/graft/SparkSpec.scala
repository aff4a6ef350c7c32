package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session base for all suites: one local session per JVM. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sf = SparkSpec.sf
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = GraftSession
      .builder(master = "local[4]", appName = "graft-test", shufflePartitions = 4)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sf = "/root/testdata/sf0.001"

  /** `f`'s value and the Spark jobs started while it ran, counted by a
    * listener attached for the length of `f` only. */
  def countingJobs[T](f: => T): (T, Int) = {
    val sc = session.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      val value = f
      ListenerBusDrain(sc)
      (value, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}
