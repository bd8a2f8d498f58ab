package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block of code starts. */
object SparkJobs {

  /** Spark jobs started by `body`, counted between two sentinel jobs:
    * listener events arrive in order, so once the closing sentinel's
    * start is seen, every job `body` started has been counted.
    */
  def count[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val count = new AtomicInteger
    val closed = new CountDownLatch(1)
    @volatile var open = false
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case "jobcount.open" => open = true
          case "jobcount.close" => open = false; closed.countDown()
          case _ => if (open) count.incrementAndGet()
        }
    }
    def sentinel(group: String): Unit = {
      sc.setJobGroup(group, "job count sentinel")
      try spark.range(1).count() finally sc.clearJobGroup()
    }
    sc.addSparkListener(listener)
    try {
      sentinel("jobcount.open")
      val r = body
      sentinel("jobcount.close")
      assert(closed.await(30, TimeUnit.SECONDS), "closing sentinel never observed")
      (r, count.get)
    } finally sc.removeSparkListener(listener)
  }
}
