package perfbench

import scala.collection.mutable

import org.apache.spark.{PerfbenchBus, SparkContext}
import org.apache.spark.scheduler._

/** Per-label aggregate of the engine's task metrics. A label is the job group a
  * [[Tracer]] span runs under; jobs outside any span count under "-". */
final class LabelStats {
  var jobs = 0L
  var tasks = 0L
  var runMs = 0L       // Σ executorRunTime
  var cpuNs = 0L       // Σ executorCpuTime
  var gcMs = 0L        // Σ jvmGCTime
  var shuffleWriteBytes = 0L
  var spillBytes = 0L  // memory + disk spill
  val intervals = mutable.ArrayBuffer.empty[(Long, Long)] // task launch/finish, epoch ms

  /** Wall time during which at least one task of this label ran. */
  def busyMs: Long = {
    var covered = 0L
    var reach = Long.MinValue
    intervals.sortBy(_._1).foreach { case (b0, e) =>
      val b = math.max(b0, reach)
      if (e > b) { covered += e - b; reach = e }
    }
    covered
  }
}

/** SparkListener that attributes every task to the job group its job ran under. */
final class Listener extends SparkListener {
  private val stageLabel = mutable.HashMap.empty[Int, String]
  private val stats = mutable.HashMap.empty[String, LabelStats]

  private def labelOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty(PerfbenchBus.JobGroupId)))
      .getOrElse("-")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val label = labelOf(e.properties)
    e.stageIds.foreach(stageLabel(_) = label)
    stats.getOrElseUpdate(label, new LabelStats).jobs += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stats.getOrElseUpdate(stageLabel.getOrElse(e.stageId, "-"), new LabelStats)
    s.tasks += 1
    s.intervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    Option(e.taskMetrics).foreach { m =>
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Stats of one label, after every event posted so far has been delivered. */
  def of(sc: SparkContext, label: String): LabelStats = {
    org.apache.spark.PerfbenchBus.drain(sc)
    synchronized(stats.getOrElse(label, new LabelStats))
  }
}

/** One timed public call: its label, wall-clock window and forced output rows. */
final case class Span(label: String, startMs: Long, endMs: Long, wallNs: Long, rows: Long)

/** Runs calls under their own job labels and keeps their spans in memory. */
final class Tracer(sc: SparkContext) {
  val listener = new Listener
  sc.addSparkListener(listener)
  val spans = mutable.ArrayBuffer.empty[Span]

  /** Run `body` under job group `label`; `body` returns its result and the row count
    * of the output it forced. */
  def span[T](label: String)(body: => (T, Long)): T = {
    sc.setJobGroup(label, label)
    val (startMs, t0) = (System.currentTimeMillis(), System.nanoTime())
    try {
      val (out, rows) = body
      spans += Span(label, startMs, System.currentTimeMillis(), System.nanoTime() - t0, rows)
      out
    } finally sc.clearJobGroup()
  }

  def get(label: String): Span = spans.find(_.label == label).getOrElse(
    throw new NoSuchElementException(s"no span '$label'"))

  def stats(label: String): LabelStats = listener.of(sc, label)
}
