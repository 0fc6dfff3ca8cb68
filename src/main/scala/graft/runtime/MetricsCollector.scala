package graft.runtime

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/**
 * Live job counters via `Dataset.observe`, collected by name for a whole session: the
 * in-flight counters a cluster operator watches while the job runs (the commit
 * records of [[StageCheckpoint]] and [[graft.sink.Materialize]] are the durable
 * record). Code that reads back the count of its own write uses an
 * `org.apache.spark.sql.Observation`; this collector receives every named observation
 * of a session, such as the commit's one `Observation`, which
 * [[graft.sink.Materialize]] names [[graft.pipeline.KGPipeline.CanonicalMetric]] in the
 * KG job.
 *
 * `observe` metrics are computed BY THE RUNNING QUERY itself — accumulator-style,
 * piggybacked on the rows the job already processes — so unlike a `count()` they cost
 * zero extra jobs, zero extra scans, and work identically on a 1000-executor cluster
 * (partial aggregates merge on the driver). Constraints inherited from Spark:
 * aggregate expressions only, no distinct aggregates (use approx_count_distinct).
 * The reference keeps equivalent counters in its status tables, polled over JDBC
 * (/root/reference/src/msa/IEDriver.java status machine); here they stream off the
 * listener bus with no store round-trip.
 *
 * Semantics: live counters measure work PERFORMED by this run. A
 * [[graft.sink.Materialize.writeResumable]] over a complete record starts no query, so
 * the counters it names never fire; its commit record holds the counts. Zero work →
 * zero counters (MetricsSpec pins this contract).
 *
 * As a [[QueryExecutionListener]] it keeps, per observation name, the latest metric
 * row plus how many actions fired it (a multi-action pipeline executes a shared stage
 * more than once unless it is checkpointed — the firing count makes that visible).
 * Delivery is asynchronous (Spark posts on the listener bus); [[await]] polls until
 * an expected observation arrives or the timeout elapses.
 */
final class MetricsCollector(spark: SparkSession) extends QueryExecutionListener {

  private val seen = new ConcurrentHashMap[String, (Long, Row)]()
  spark.listenerManager.register(this)

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    qe.observedMetrics.foreach { case (name, row) =>
      // keep the firing count, but never let a TRIVIAL re-observation (all counters
      // zero/null — a cache-served or AQE-collapsed re-execution that saw no rows)
      // overwrite a real metric row already collected for this name
      seen.merge(name, (1L, row),
        (a, b) => (a._1 + b._1, if (trivialRow(b._2) && !trivialRow(a._2)) a._2 else b._2))
    }

  /** A metric row carrying no evidence of work: every field zero or null. */
  private[graft] def trivialRow(row: Row): Boolean =
    (0 until row.length).forall { i =>
      row.isNullAt(i) || (row.get(i) match {
        case n: java.lang.Number => n.doubleValue() == 0.0
        case _ => false
      })
    }

  override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit = ()

  /** observation name -> (firing count, metric column -> value). */
  def snapshot: Map[String, (Long, Map[String, Any])] =
    seen.asScala.toMap.map { case (name, (n, row)) =>
      name -> (n -> row.schema.fieldNames.zipWithIndex.map { case (f, i) =>
        f -> row.get(i)
      }.toMap)
    }

  /** Block until `name` has been observed (or timeout); returns its metrics if seen. */
  def await(name: String, timeoutMs: Long = 10000L): Option[Map[String, Any]] = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    while (!seen.containsKey(name) && System.nanoTime() < deadline) Thread.sleep(20)
    Option(seen.get(name)).map(_._2).map(row =>
      row.schema.fieldNames.zipWithIndex.map { case (f, i) => f -> row.get(i) }.toMap)
  }

  def clear(): Unit = seen.clear()

  def close(): Unit = spark.listenerManager.unregister(this)
}
