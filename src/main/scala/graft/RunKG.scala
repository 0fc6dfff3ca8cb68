package graft

import org.apache.spark.sql.SparkSession

/**
 * spark-submit entry point for the full KG-construction job (north rule: "run via
 * spark-submit ... at two cluster sizes").
 *
 * Usage: RunKG [nPages] [outDir] [cores] [stageDir]
 * Synthesizes the deterministic corpus (seed 42), runs the full pipeline
 * (annotate → learn → gate → extract → link → canonicalize), materializes
 * 16-bucket subject-partitioned triples under outDir and their commit record under
 * `<outDir>_checkpoints` (a full write: a previous table there is replaced), then
 * prints one JSON metrics line read from that commit record: the committed triples
 * and, under `observed`, the counters the commit's write observed. Reading them starts
 * no Spark job. The job takes no configuration beyond these arguments: KGPipeline
 * fixes the learning configs and the bucket count.
 *
 * With a 4th arg `stageDir`, runs the RESUMABLE production path instead
 * ([[graft.pipeline.KGPipeline.runCheckpointed]]): the raw_triples stage (learning
 * runs inside it) materializes through [[graft.runtime.StageCheckpoint]] under
 * stageDir with a commit record of the rows its write counted, and the output commit
 * is keyed by the run's fingerprint (nPages and the training size): a re-submission
 * over an output its fingerprint completely committed returns without work; any other
 * run (a crashed or partly lost commit, or another nPages) resumes its stage and
 * replaces the table — the north rule's long-corpus spark-submit shape. A
 * re-submission prints the counters its record holds, the same as the run that
 * committed it.
 */
object RunKG {
  def main(args: Array[String]): Unit = {
    val nPages = if (args.length > 0) args(0).toInt else 500
    val outDir = if (args.length > 1) args(1) else "/tmp/graft_kg_out"
    val cores = if (args.length > 2) args(2).toInt
                else sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val stageDir = if (args.length > 3) Some(args(3)) else None
    implicit val spark: SparkSession = graft.util.Sessions.local(cores, "graft-kg")
    import spark.implicits._

    val t0 = System.nanoTime()
    val nTrain = math.min(nPages / 4, 200)
    // corpus generated on executors (no driver materialization, no input shuffle)
    val pages = graft.testgen.CorpusGen.pagesDS(nPages, partitions = cores * 4)
    val goldAnnots = spark.createDataset(graft.testgen.CorpusGen.pages(nTrain)
      .flatMap(graft.testgen.CorpusGen.goldAnnotations))

    stageDir match {
      case Some(sd) =>
        // fingerprint = the full input/config identity of this synthetic run
        graft.pipeline.KGPipeline.runCheckpointed(
          pages, goldAnnots, graft.testgen.CorpusGen.gazetteer,
          sd, s"corpusgen-seed42-n$nPages-train$nTrain-v1", outDir)
      case None =>
        graft.pipeline.KGPipeline.runAndWrite(
          pages, goldAnnots, graft.testgen.CorpusGen.gazetteer, outDir)
    }
    // the commit's counters, read from its record: a file read, no Spark job
    val rec = graft.sink.Materialize.record(outDir)
      .getOrElse(sys.error(s"no commit record under $outDir"))
    val sec = (System.nanoTime() - t0) / 1e9
    val mode = if (stageDir.isDefined) "kg-checkpointed" else "kg"
    val rows = rec.triples
    println(f"""{"job":"$mode","pages":$nPages,"triples":$rows,"sec":$sec%.2f,""" +
      f""""docs_per_sec":${nPages / sec}%.1f,"triples_per_sec":${rows / sec}%.1f,"cores":$cores""" +
      s""","observed":{"triples":$rows,"subjects_approx":${rec.subjectsApprox},""" +
      s""""docs_approx":${rec.docsApprox}}}""")
    spark.stop()
  }
}
