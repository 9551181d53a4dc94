package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM-wide session, lazily built). */
object SparkTestBase {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

abstract class GraftSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.spark
  val sf = "/root/testdata/sf0.001"

  /** Wait until every queued listener event is delivered (`listenerBus`
    * is Spark-private in Scala, public in bytecode). */
  protected def drainListeners(): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  /** Spark jobs started by `body`. Listener delivery is asynchronous, so
    * the bus is drained before and after. */
  protected def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val started = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        started.incrementAndGet()
    }
    drainListeners()
    sc.addSparkListener(listener)
    try { body; drainListeners(); started.get }
    finally sc.removeSparkListener(listener)
  }

  /** The executed plans of the Dataset actions `body` runs (a memo
    * build's `localCheckpoint` among them), in completion order. */
  protected def actionPlans(body: => Unit): Seq[String] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    drainListeners()
    spark.listenerManager.register(listener)
    try { body; drainListeners(); plans.toArray(Array.empty[String]).toSeq }
    finally spark.listenerManager.unregister(listener)
  }
}
