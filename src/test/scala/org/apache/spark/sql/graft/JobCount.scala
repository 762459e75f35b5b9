package org.apache.spark.sql.graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Test-only: the number of Spark jobs `body` starts, counted by a
  * listener once the listener bus has delivered every event (the drain
  * is private[spark]). Only jobs carrying this call's job tag count; the
  * tag is a thread-local property, so jobs from threads `body` spawns
  * count too, while jobs of anything else sharing the context do not.
  */
object JobCount {
  def of[A](spark: SparkSession)(body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val tag = s"jobcount-${java.util.UUID.randomUUID}"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties)
            .flatMap(p => Option(p.getProperty(SparkContext.SPARK_JOB_TAGS)))
            .exists(_.split(SparkContext.SPARK_JOB_TAGS_SEP).contains(tag)))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.addJobTag(tag)
    try {
      val a = body
      sc.listenerBus.waitUntilEmpty()
      (a, jobs.get)
    } finally {
      sc.removeJobTag(tag)
      sc.removeSparkListener(listener)
    }
  }
}
