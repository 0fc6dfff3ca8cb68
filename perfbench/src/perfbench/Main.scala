package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.{col, typedLit}

import graft.model.{Annotation, Page}
import graft.nlp.Gazetteer
import graft.pipeline.KGPipeline

/**
 * One benchmark run in a fresh JVM: set up, run the workload's KG job through its
 * public entry point once, check the committed output, print one result line.
 *
 * Usage: perfbench.Main <workload> <seed> <trace 0|1> <inputDir> <workDir> <spawnEpochNs>
 *
 * `spawnEpochNs` is the wall clock just before the launcher started this JVM, so
 * `setup_s` covers JVM start, SparkSession, opening the input and building the
 * gazetteer and gold. The last stdout line is `RESULT {json}`: a flat object of
 * metrics plus `ok` and, on failure, `error`.
 */
object Main {

  final case class Input(pages: Dataset[Page], gold: Dataset[Annotation], gaz: Gazetteer,
      nPages: Long)

  /** A committed table's distinct facts and their order-insensitive SHA-256. */
  final case class Committed(facts: Set[(String, String, String)], hash: String)

  def epochNs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }

  def processCpuNs(): Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Peak resident set of this JVM so far (VmHWM), in MB. */
  def peakRssMb(): Double = scala.io.Source.fromFile("/proc/self/status").getLines()
    .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
    .getOrElse(throw new IllegalStateException("VmHWM not found in /proc/self/status"))

  def open(dir: Path)(implicit spark: SparkSession): Input = {
    import spark.implicits._
    val pages = spark.read.parquet(dir.resolve("pages").toString).as[Page]
    val gold = spark.read.parquet(dir.resolve("gold").toString)
      .withColumn("features", typedLit(Map.empty[String, String])).as[Annotation]
    val nPages = "\"pages\":(\\d+)".r
      .findFirstMatchIn(new String(Files.readAllBytes(dir.resolve("meta.json")), UTF_8))
      .map(_.group(1).toLong).get
    Input(pages, gold, graft.testgen.CorpusGen.gazetteer, nPages)
  }

  /** The gold facts the generator wrote beside the input. */
  def goldFacts(dir: Path)(implicit spark: SparkSession): Set[(String, String, String)] = {
    import spark.implicits._
    spark.read.parquet(dir.resolve("facts").toString).as[(String, String, String)]
      .collect().toSet
  }

  /** Read the committed table back: distinct (subj, pred, obj) and their hash. */
  def readBack(path: String)(implicit spark: SparkSession): Committed = {
    import spark.implicits._
    // a read-back is a check, not part of any traced span: run it under its own label
    val sc = spark.sparkContext
    val enclosing = sc.getLocalProperty(org.apache.spark.PerfbenchBus.JobGroupId)
    sc.setJobGroup("check", "check")
    val facts = try spark.read.parquet(path).select(col("subj"), col("pred"), col("obj"))
      .distinct().as[(String, String, String)].collect()
    finally if (enclosing == null) sc.clearJobGroup() else sc.setJobGroup(enclosing, enclosing)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    facts.map { case (s, p, o) => s"$s\t$p\t$o\n" }.sorted.foreach(l => md.update(l.getBytes(UTF_8)))
    Committed(facts.toSet, md.digest().map(b => f"$b%02x").mkString)
  }

  /** Fact P/R against gold; both must reach 0.95. */
  def checkPR(got: Set[(String, String, String)], gold: Set[(String, String, String)],
      out: mutable.LinkedHashMap[String, Any]): Unit = {
    val tp = got.intersect(gold).size.toDouble
    val (p, r) = (if (got.isEmpty) 0.0 else tp / got.size, tp / gold.size)
    out("facts") = got.size; out("precision") = p; out("recall") = r
    if (p < 0.95 || r < 0.95)
      throw new CheckFailed(f"fact P/R below 0.95: P=$p%.4f R=$r%.4f " +
        s"extra=${got.diff(gold).take(3)} missing=${gold.diff(got).take(3)}")
  }

  /** The committed hash must equal the one first recorded for this (workload, seed). */
  def checkReference(refFile: Path, hash: String): Unit =
    if (Files.exists(refFile)) {
      val ref = new String(Files.readAllBytes(refFile), UTF_8).trim
      if (ref != hash) throw new CheckFailed(s"output hash $hash differs from the " +
        s"hash $ref of an earlier run of the same seed")
    } else {
      Files.createDirectories(refFile.getParent)
      Files.write(refFile, hash.getBytes(UTF_8))
    }

  final class CheckFailed(msg: String) extends RuntimeException(msg)

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_)) finally s.close()
  }

  def fingerprint(w: Workload, seed: Long) = s"perfbench-${w.name}-seed$seed-v1"

  /**
   * The workload's job as a user submits it. Plain: `runAndWrite`. Checkpointed:
   * `runCheckpointed` into a fresh stage directory, then the identical call again
   * over the completed directory. Puts the job's wall and process CPU seconds into
   * `out` (read-backs between the two submissions excluded) and returns the committed
   * output of its last submission.
   */
  def runJob(w: Workload, seed: Long, in: Input, runDir: Path,
      out: mutable.LinkedHashMap[String, Any])(implicit spark: SparkSession): Committed = {
    val outPath = runDir.resolve("kg").toString
    var cpuNs = 0L
    def timed(body: => Unit): Double = {
      val (t0, c0) = (System.nanoTime(), processCpuNs())
      body
      cpuNs += processCpuNs() - c0
      (System.nanoTime() - t0) / 1e9
    }
    if (!w.checkpointed) {
      out("wall_s") = timed(KGPipeline.runAndWrite(in.pages, in.gold, in.gaz, outPath).collect())
      out("cpu_s") = cpuNs / 1e9
      readBack(outPath)
    } else {
      val stageDir = runDir.resolve("stages").toString
      def submit() = KGPipeline.runCheckpointed(in.pages, in.gold, in.gaz, stageDir,
        fingerprint(w, seed), outPath).collect()
      val fresh = timed(submit())
      val first = readBack(outPath)
      val resumed = timed(submit())
      val second = readBack(outPath)
      if (second.hash != first.hash) throw new CheckFailed(
        s"resumed hash ${second.hash} differs from fresh hash ${first.hash}")
      out("fresh_s") = fresh; out("resume_s") = resumed; out("wall_s") = fresh + resumed
      out("cpu_s") = cpuNs / 1e9
      second
    }
  }

  def json(m: collection.Map[String, Any]): String = m.map { case (k, v) =>
    val s = v match {
      case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
      case n: Long => n.toString
      case n: Int => n.toString
      case b: Boolean => b.toString
      case x => "\"" + x.toString.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => " "; case c => c.toString
      } + "\""
    }
    "\"" + k + "\":" + s
  }.mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    val Array(name, seedArg, traceArg, inputArg, workArg, spawnArg) = args
    val (w, seed, trace) = (Workloads(name), seedArg.toLong, traceArg == "1")
    val (inputDir, workDir, spawnNs) = (Paths.get(inputArg), Paths.get(workArg), spawnArg.toLong)
    val out = mutable.LinkedHashMap.empty[String, Any]
    val code = try {
      implicit val spark: SparkSession = graft.util.Sessions.local(
        Runtime.getRuntime.availableProcessors(), "perfbench")
      val tracer = if (trace) Some(new Tracer(spark.sparkContext)) else None
      val in = open(inputDir)
      out("setup_s") = (epochNs() - spawnNs) / 1e9
      out("pages") = in.nPages
      // this JVM's own output directory: nothing else in the checkout writes there
      val runDir = Files.createTempDirectory(Files.createDirectories(workDir.resolve("run")),
        s"${w.name}-seed$seed-")
      val committed = tracer.fold(runJob(w, seed, in, runDir, out))(
        _.span("job")((runJob(w, seed, in, runDir, out), 0L)))
      out("jvm.peak_rss_mb") = peakRssMb()
      out("docs_per_s") = in.nPages / out("wall_s").asInstanceOf[Double]
      out("hash") = committed.hash
      checkPR(committed.facts, goldFacts(inputDir), out)
      checkReference(workDir.resolve("ref").resolve(s"${w.name}-seed$seed.sha256"),
        committed.hash)
      tracer.foreach { tr =>
        Trace.run(w, seed, in, runDir, committed, tr, out)
        Trace.writeSpans(tr, workDir.resolve("trace").resolve(s"${w.name}-seed$seed.json"))
      }
      out("ok") = true
      spark.stop()
      deleteTree(runDir)
      0
    } catch {
      case e: Throwable =>
        out("ok") = false
        out("error") = s"${e.getClass.getName}: ${e.getMessage}"
        e.printStackTrace()
        1
    }
    println("RESULT " + json(out))
    System.out.flush()
    sys.exit(code)
  }
}
