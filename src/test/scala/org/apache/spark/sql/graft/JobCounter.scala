package org.apache.spark.sql.graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

/** Test-only: the number of Spark jobs started and of stages completed
  * while `body` runs (a stage a job skips because its shuffle output
  * already exists is not counted). The listener bus is drained on both
  * sides, so events of earlier work are not counted and events of `body`
  * are not missed. Suites run one at a time in the forked test JVM, so no
  * other test's jobs interleave.
  */
object JobCounter {
  case class Counts(jobs: Int, stages: Int)

  def apply[T](sc: SparkContext)(body: => T): (T, Counts) = {
    val jobs = new AtomicInteger()
    val stages = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(listener)
    try {
      val result = body
      sc.listenerBus.waitUntilEmpty()
      (result, Counts(jobs.get, stages.get))
    } finally sc.removeSparkListener(listener)
  }
}
