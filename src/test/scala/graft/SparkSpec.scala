package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.GraftSession

/** Shared local session for all suites (one JVM under Test/fork). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("graft-test", "4").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Spark jobs `body` runs, counted with the listener bus drained before
    * and after. */
  def jobsRun(body: => Unit): Int = {
    @volatile var n = 0
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n += 1
    }
    val sc = spark.sparkContext
    org.apache.spark.graftx.ListenerDrain(sc)
    sc.addSparkListener(counter)
    try { body; org.apache.spark.graftx.ListenerDrain(sc) }
    finally sc.removeSparkListener(counter)
    n
  }
}
