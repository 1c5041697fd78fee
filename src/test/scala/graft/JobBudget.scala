package graft

import org.apache.spark.GraftSparkInternals
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.scalatest.Suite

/** Counts the Spark work a call does, for specs that pin an operator's
  * job and stage budget: a change that adds a job or a stage fails the
  * spec rather than only showing in a benchmark trace.
  */
trait JobBudget { self: Suite with SparkFixture =>

  /** Jobs started and stages executed (skipped stages excluded) by `body`,
    * counted for this thread's jobs only through a local property.
    */
  def budget[T](body: => T): (T, Int, Int) = {
    val sc = spark.sparkContext
    val key = "graft.spec.budget"
    val tag = java.util.UUID.randomUUID().toString
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val stages = new java.util.concurrent.atomic.AtomicInteger
    val ours = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(key) == tag)) {
          jobs.incrementAndGet()
          e.stageIds.foreach(ours.add)
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (ours.contains(e.stageInfo.stageId) && e.stageInfo.submissionTime.isDefined)
          stages.incrementAndGet()
    }
    GraftSparkInternals.drainListenerBus(sc)
    sc.addSparkListener(listener)
    sc.setLocalProperty(key, tag)
    try {
      val out = body
      GraftSparkInternals.drainListenerBus(sc)
      (out, jobs.get, stages.get)
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(listener)
    }
  }
}
