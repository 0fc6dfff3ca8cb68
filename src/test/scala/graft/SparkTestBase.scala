package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for all suites (sbt forks one test JVM). */
object SparkTestBase {
  lazy val spark: SparkSession = graft.util.Sessions.local(4, "graft-test")

  /** Runs `body` under the job group `label` and returns its result with the number
    * of Spark jobs it started. A fence job in another group follows the body: the
    * listener bus delivers events in order, so once the fence is seen every job of
    * `label` has been counted. */
  def jobsStarted[T](label: String)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val fence = s"$label-fence"
    val started = new AtomicInteger
    val fenced = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))) match {
          case Some(`label`) => started.incrementAndGet()
          case Some(`fence`) => fenced.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(label, label)
      val result = try body finally sc.clearJobGroup()
      sc.setJobGroup(fence, fence)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      if (!fenced.await(60, TimeUnit.SECONDS))
        throw new IllegalStateException(s"fence job of $label never reached the listener")
      (result, started.get)
    } finally sc.removeSparkListener(listener)
  }
}

trait SparkTest {
  implicit lazy val spark: SparkSession = SparkTestBase.spark
}
