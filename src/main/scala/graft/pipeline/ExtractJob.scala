package graft.pipeline

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.extract.PageKernel
import graft.model.Page

/**
 * The production extraction path in isolation: the job that runs over the full
 * 10^12-page corpus at scale (learning runs on a small validated sample by design —
 * exactly the reference's split: learning on status-1 docs only, extraction on status-0,
 * /root/reference/src/msa/IEDriver.java:441-450; SURVEY.md §7.4.2).
 *
 * It is `KGPipeline`'s corpus pass ([[KGPipeline.pageTriples]]: the learned
 * [[graft.extract.PageKernel]] — pair gate, prior veto, dictionary pass, same-span
 * dedup, W4 merge, subject resolution — inside ONE narrow mapPartitions), followed by a
 * dedup on the mention site (subj, pred, obj, url, begin) and a parquet write. There
 * is no shuffle before that dedup, so wall-clock scales ~linearly with cores: this is
 * the job the N-vs-4N scaling gate times. Its triples are mention-level rows, not the
 * distinct facts `RunKG` commits after linking and canonicalization.
 */
object ExtractJob {

  final case class Result(nTriples: Long, outputHash: Long)

  def run(pages: Dataset[Page], kernel: PageKernel, outPath: String)(
      implicit spark: SparkSession): Result = {
    val out = KGPipeline.pageTriples(pages, kernel).toDF()
      .dropDuplicates("subj", "pred", "obj", "url", "begin")
    // count + order-insensitive hash ride the WRITE itself via Dataset.observe —
    // zero extra jobs, zero read-back scan (the job used to re-read the parquet it
    // just wrote only to aggregate identity, a whole extra job inside every timed
    // scaling window)
    val collector = new graft.runtime.MetricsCollector(spark)
    try {
      graft.runtime.Metrics.observed(out, "extract_job_identity",
          count(lit(1)).as("triples"),
          coalesce(expr("bit_xor(xxhash64(subj, pred, obj, url, begin, end))"),
            lit(0L)).as("hash"))
        .write.mode("overwrite").parquet(outPath)
      val m = collector.await("extract_job_identity", timeoutMs = 60000L)
        .getOrElse(sys.error("extract_job identity metrics were not delivered"))
      Result(m("triples").asInstanceOf[Long], m("hash").asInstanceOf[Long])
    } finally collector.close()
  }
}
