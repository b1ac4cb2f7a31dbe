package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (build.sbt forks one test JVM). */
object TestSpark {
  lazy val spark: SparkSession = Sessions.local(4)

  /** Blocks until the listener bus has delivered every posted event
    * (`waitUntilEmpty` is private[spark], public in bytecode). */
  private def drainListenerBus(): Unit = {
    val bus = classOf[org.apache.spark.SparkContext]
      .getMethod("listenerBus").invoke(spark.sparkContext)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    ()
  }

  /** Spark jobs started by `body` — from its thread, or from threads
    * that inherit its local properties (AQE's broadcast and subquery
    * threads do). */
  def jobsOf(body: => Unit): Int = {
    val tag = s"spec-jobs-${System.nanoTime()}"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("graft.spec.tag") == tag))
          jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    spark.sparkContext.setLocalProperty("graft.spec.tag", tag)
    try { body; drainListenerBus() }
    finally {
      spark.sparkContext.setLocalProperty("graft.spec.tag", null)
      spark.sparkContext.removeSparkListener(listener)
    }
    jobs.get
  }
}
