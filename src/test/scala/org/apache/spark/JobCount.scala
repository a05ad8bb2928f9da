package org.apache.spark

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs `body` starts. Lives in Spark's package for the
  * listener bus's `waitUntilEmpty`, so the count holds every event of
  * the jobs `body` ran rather than the ones delivered in time.
  */
object JobCount {
  def of[T](sc: SparkContext)(body: => T): (T, Int) = {
    var jobs = 0
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        synchronized { jobs += 1 }
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(l)
    try {
      val r = body
      sc.listenerBus.waitUntilEmpty()
      (r, l.synchronized(jobs))
    } finally sc.removeSparkListener(l)
  }
}
