package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/**
 * spark-submit entry point for the composed corpus-curation job
 * ([[graft.corpus.CuratePipeline]]): quality gate → dedup-canonical →
 * decontaminate → redact → sample/quota/budget mixing, over a documents table.
 *
 * Usage: CurateRun [sfDir] [outDir] [cores] [stageDir]
 * Reads `<sfDir>/documents.parquet`; the eval set for decontamination is a
 * deterministic slice of the corpus itself (doc_id % 97 == 0 → guaranteed shingle
 * overlap, so the decontamination stage demonstrably removes rows). With a 4th arg
 * `stageDir`, runs the RESUMABLE path — each stage commits a record of the rows its
 * write counted, and a re-submitted run resumes at its first incomplete stage.
 *
 * Prints one JSON line with per-stage surviving-row counts and wall time.
 */
object CurateRun {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val outDir = if (args.length > 1) args(1) else "/tmp/graft_curate_out"
    val cores = if (args.length > 2) args(2).toInt
                else sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val stageDir = if (args.length > 3) Some(args(3)) else None
    implicit val spark: SparkSession = graft.util.Sessions.local(cores, "graft-curate")

    val t0 = System.nanoTime()
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
    val evalSet = docs.filter(col("doc_id") % 97 === 0).select("doc_id", "text")
    val cfg = graft.corpus.CuratePipeline.Config(
      minTokens = 10L, maxDupBp = 9000L,
      sampleRatesBp = Map("en" -> 8000L), sampleDefaultBp = 10000L,
      quotaK = 1000, budgets = Map.empty, defaultBudget = Long.MaxValue / 4)

    val curated = stageDir match {
      case Some(sd) => graft.corpus.CuratePipeline.runCheckpointed(
        docs, evalSet, cfg, sd, s"documents@$sfDir")
      case None => graft.corpus.CuratePipeline.run(docs, evalSet, cfg)
    }
    // write FIRST, then audit the written table — the un-checkpointed path is a lazy
    // 5-stage plan (incl. iterative CC) and must not execute twice
    curated.write.mode("overwrite").partitionBy("lang").parquet(outDir)
    val agg = spark.read.parquet(outDir).agg(
      count(lit(1)), coalesce(sum("n_toks"), lit(0L)),
      coalesce(sum("n_emails") + sum("n_ips") + sum("n_phones"), lit(0L))).head()
    val (nOut, toksOut, piiOut) = (agg.getLong(0), agg.getLong(1), agg.getLong(2))
    val nIn = docs.count()
    val sec = (System.nanoTime() - t0) / 1e9
    val mode = if (stageDir.isDefined) "curate-checkpointed" else "curate"
    println(f"""{"job":"$mode","docs_in":$nIn,"docs_out":$nOut,""" +
      f""""tokens_out":$toksOut,"pii_redacted":$piiOut,"sec":$sec%.2f,""" +
      f""""docs_per_sec":${nIn / sec}%.1f,"cores":$cores}""")
    spark.stop()
  }
}
