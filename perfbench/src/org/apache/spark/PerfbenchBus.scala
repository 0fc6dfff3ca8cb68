package org.apache.spark

/** Bridge to two package-private Spark members the tracer needs. */
object PerfbenchBus {
  /** Local property naming the job group a job was submitted under. */
  val JobGroupId: String = SparkContext.SPARK_JOB_GROUP_ID

  /** Wait until every event posted so far has reached the registered listeners, so
    * a span's task metrics are complete before they are read. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
