package org.apache.spark {
  /** Waits until every posted scheduler event has reached the listeners.
   * The listener bus is private to Spark, hence this package. */
  object TestListenerDrain {
    def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  }
}

package graft.operators {
  import java.util.concurrent.atomic.AtomicInteger
  import org.apache.spark.TestListenerDrain
  import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
  import org.apache.spark.sql.SparkSession

  /**
   * Number of Spark jobs a block starts — e.g. 0 for building a
   * DataFrame whose reads need no schema inference. The listener bus is
   * drained before the listener is added (so an earlier block's late
   * events are not counted) and before it is read (so none of this
   * block's are missed).
   */
  object JobCount {
    def apply[A](spark: SparkSession)(body: => A): (A, Int) = {
      val sc = spark.sparkContext
      TestListenerDrain(sc)
      val started = new AtomicInteger
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = started.incrementAndGet()
      }
      sc.addSparkListener(listener)
      try {
        val result = body
        TestListenerDrain(sc)
        (result, started.get)
      } finally sc.removeSparkListener(listener)
    }
  }
}
