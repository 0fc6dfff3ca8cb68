package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

import graft.align.Grid
import graft.canon.ConnectedComponents
import graft.extract.{Extract, PatternMatcher}
import graft.learn.{GenMSA, PatternStats, ValueProbs}
import graft.link.EntityLink
import graft.mention.Sentences
import graft.model.{Annotation, Mention, Page, Pattern, Provenance, SentenceAnnots, Triple}
import graft.nlp.Annotate
import graft.pipeline.KGPipeline
import graft.runtime.StageCheckpoint
import graft.sink.Materialize
import graft.streaming.StreamExtract

import Main.{Committed, Input}

/**
 * The traced run: per-layer numbers for one workload, taken from outside the program
 * by timing calls into each module's public functions.
 *
 *  1. Engine metrics of the untraced job [[Main]] just ran (job group "job").
 *  2. A replica of `KGPipeline.run`'s stage order built from the same public calls,
 *     each under its own job group with its output forced, committed through
 *     `Materialize.write`.
 *  3. The `runCheckpointed` commit paths over the replica's stage outputs: every
 *     `StageCheckpoint` stage, `Materialize.writeResumable`, then a re-submission
 *     over the completed stage directory.
 *  4. The untraced job again, in the now-warm JVM, for the tracing overhead.
 *  5. Single-thread page kernels over a fixed sample of the workload's own pages.
 *
 * Every committed table of 2 and 3 must hash like the untraced job's, or the replica
 * no longer matches the program: the run then fails as stale and publishes no layer
 * table.
 */
object Trace {
  private val GoldProvenances = Set("gold", "dup-propagated")
  private val Buckets = 16
  val CheckpointStages = Seq("sentences", "patterns", "pair_stats", "raw_triples")
  /** Spans of the replica of `KGPipeline.run` + `Materialize.write`, in stage order. */
  val PlainSpans = Seq("learn.msa", "learn.stats", "nlp.annotate", "learn.priors",
    "extract.match", "extract.resolve", "link.edges", "canon.cc", "sink.commit")

  final case class Replica(allSents: Dataset[SentenceAnnots], learned: Seq[Pattern],
      plainPatterns: Seq[Pattern], relPatterns: Seq[Pattern], needSyntax: Boolean,
      allowed: DataFrame, pairsKeptFrac: Double, rawTriples: Dataset[Triple],
      rawCount: Long, canonical: Dataset[Triple])

  /** `KGPipeline.goldTriplesOf`: triples from the gold spans themselves. */
  private def goldTriples(trainSents: Dataset[SentenceAnnots], gold: Dataset[Annotation])(
      implicit spark: SparkSession): Dataset[Triple] = {
    import spark.implicits._
    Seq("gold" -> Provenance.Gold, "dup-propagated" -> Provenance.Propagated)
      .filter { case (src, _) => GoldProvenances.contains(src) }
      .map { case (src, prov) =>
        val ms = gold.filter(_.provenance == src).map(a =>
          Mention(a.url, a.annotType, a.begin, a.end, a.value, -1L, a.score))
        Extract.triples(trainSents, ms, provenance = prov)
      }
      .reduceOption(_ unionByName _).getOrElse(spark.emptyDataset[Triple])
  }

  private def allowedMap(allowed: DataFrame): Map[(Long, Long), Double] =
    allowed.collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap

  /** Link + CC + canonical subjects, shared by both commit paths. */
  private def canonicalOf(raw: Dataset[Triple], tr: Option[Tracer])(
      implicit spark: SparkSession): Dataset[Triple] = {
    import spark.implicits._
    def span[T](label: String)(body: => (T, Long)): T =
      tr.fold(body._1)(_.span(label)(body))
    val edges = span("link.edges") {
      val e = EntityLink.candidateEdges(raw.select($"subj".as("form")), minJaccard = 0.6)
        .select($"src", $"dst").persist(MEMORY_AND_DISK)
      (e, e.count())
    }
    val comp = span("canon.cc") {
      val c = ConnectedComponents.runAdaptive(edges).persist(MEMORY_AND_DISK)
      (c, c.count())
    }
    raw.toDF()
      .join(comp, raw("subj") === comp("node"), "left")
      .withColumn("subj2", coalesce(col("component"), col("subj")))
      .select(col("subj2").as("subj"), col("pred"), col("obj"), col("url"),
        col("begin"), col("end"), col("profileId"), col("score"), col("provenance"))
      .as[Triple]
  }

  /** Replica of `KGPipeline.run`, one span per stage, then `Materialize.write`. */
  def replica(in: Input, outPath: String, tr: Tracer)(implicit spark: SparkSession): Replica = {
    import spark.implicits._
    val statsCfg = PatternStats.Config()
    val priorsCfg = ValueProbs.Config()

    val (trainSents, patterns, learned) = tr.span("learn.msa") {
      val goldByUrl = in.gold.collect().toSeq.groupBy(_.url)
      val goldUrls = in.gold.select($"url").distinct()
      val trainPages = in.pages.join(goldUrls, Seq("url"), "left_semi").as[Page]
      val ts = Annotate.annotateSentences(trainPages, in.gaz, goldByUrl).persist(MEMORY_AND_DISK)
      val ps = GenMSA.learn(ts, GoldProvenances, GenMSA.Config())
      val l = ps.collect().toSeq
      ((ts, ps, l), l.size.toLong)
    }
    val ctxPatterns = GenMSA.subsumptionFilter(
      learned.filter(p => p.profileType == 0 || p.profileType == 3))
    val tgtPatterns = learned.filter(_.profileType == 1)

    val (pairStats, allowed, allowedPairs) = tr.span("learn.stats") {
      val matches = PatternStats.applyPatternsPaired(trainSents, ctxPatterns, tgtPatterns,
        statsCfg)
      val tokenSpans = trainSents.flatMap(s =>
          s.annots.filter(_.annotType == "Token").map(a => (a.url, a.begin, a.end)))
        .toDF("url", "begin", "end")
      val gold = PatternStats.snapGoldToTokens(
        in.gold.toDF().select($"url", $"annotType", $"begin", $"end"), tokenSpans)
      val ps = PatternStats.scorePairs(matches, gold, patterns, statsCfg)
        .persist(MEMORY_AND_DISK)
      val a = PatternStats.keptPairs(ps, statsCfg)
        .join(PatternStats.activeProfiles(ps, statsCfg), Seq("profileId"), "left_semi")
        .select($"profileId", $"targetId", $"prec")
      val m = allowedMap(a)
      ((ps, a, m), m.size.toLong)
    }
    val keptCtxIds = allowedPairs.keySet.map(_._1)
    val finalPatterns = ctxPatterns.filter(p => keptCtxIds.contains(p.profileId)).map { p =>
      val pairPrecs = allowedPairs.collect { case ((c, _), prec) if c == p.profileId => prec }
      p.copy(score = pairPrecs.max)
    }
    val scoredPairs = tr.span("aux.scored_pairs")((pairStats.count(), 0L))

    val needSyntax = (finalPatterns ++ tgtPatterns)
      .exists(_.toks.exists(_.startsWith(":syntaxtreenode")))
    val allSents = tr.span("nlp.annotate") {
      val s = Annotate.annotateSentences(in.pages, in.gaz, withChunks = needSyntax)
        .persist(MEMORY_AND_DISK)
      (s, s.count())
    }
    val upgraded = finalPatterns.map(p => p -> Extract.toRelationPattern(p))
    val relPatterns = upgraded.collect { case (_, Some(rel)) => rel }
    val plainPatterns = upgraded.collect { case (p, None) => p }

    val priorRows = tr.span("learn.priors") {
      val rows = ValueProbs.compute(trainSents, in.gold.toDF(), priorsCfg).collect()
      (rows, rows.length.toLong)
    }
    val priorVeto = priorRows.map(r => ((r.getString(0), r.getString(1)), r.getLong(4))).toMap
    val dictEntries = priorRows.toSeq
      .filter(_.getLong(4) >= math.round(priorsCfg.dictThreshold * 10000))
      .map(r => (r.getString(0), r.getString(1), r.getLong(4)))

    val (relTriples, candidates) = tr.span("extract.match") {
      val rel = Extract.relationTriplesPaired(allSents, relPatterns, tgtPatterns,
        allowedPairs, statsCfg.matcher).persist(MEMORY_AND_DISK)
      val patMentions = Extract.applyPriors(
        Extract.mentionsPaired(allSents, plainPatterns, tgtPatterns, allowedPairs,
          statsCfg.matcher), priorVeto)
      val cands = patMentions.unionByName(Extract.dictionaryMentions(allSents, dictEntries))
        .persist(MEMORY_AND_DISK)
      ((rel, cands), rel.count() + cands.count())
    }

    val (rawTriples, rawCount) = tr.span("extract.resolve") {
      val mentions = Extract.mergeAdjacent(Extract.dedupMentions(candidates))
      val raw = Extract.triples(allSents, mentions).unionByName(relTriples)
        .unionByName(goldTriples(trainSents, in.gold))
        .persist(MEMORY_AND_DISK)
      val n = raw.count()
      ((raw, n), n)
    }

    val canonical = canonicalOf(rawTriples, Some(tr))
    tr.span("sink.commit") {
      val cps = Materialize.write(canonical, outPath, Buckets, Some(KGPipeline.CanonicalMetric))
      ((), cps.agg(coalesce(sum("rows_out"), lit(0L))).head().getLong(0))
    }
    Replica(allSents, learned, plainPatterns, relPatterns, needSyntax, allowed,
      allowedPairs.size.toDouble / scoredPairs, rawTriples, rawCount, canonical)
  }

  /** The `runCheckpointed` commit paths over the replica's stage outputs: each
    * `StageCheckpoint` stage, then `Materialize.writeResumable`. The sentence stage
    * carries chunk labels, as `runCheckpointed` writes it by default. */
  def checkpoint(in: Input, rep: Replica, stageDir: Path, fp: String, outPath: String,
      tr: Tracer, out: mutable.Map[String, Any])(implicit spark: SparkSession): Unit = {
    import spark.implicits._
    val chunked = if (rep.needSyntax) rep.allSents else tr.span("aux.chunked_sentences") {
      val s = Annotate.annotateSentences(in.pages, in.gaz, withChunks = true)
        .persist(MEMORY_AND_DISK)
      (s, s.count())
    }
    val cp = StageCheckpoint(stageDir.toString)
    val stages = Seq[(String, () => DataFrame)](
      "sentences" -> (() => chunked.toDF()),
      "patterns" -> (() => spark.createDataset(rep.learned).toDF()),
      "pair_stats" -> (() => rep.allowed),
      "raw_triples" -> (() => rep.rawTriples.toDF()))
    stages.foreach { case (name, df) =>
      tr.span(s"runtime.checkpoint.$name")((cp.materialize(name, fp)(df()), 0L))
      out(s"runtime.checkpoint.$name.bytes") =
        du(stageDir.resolve(name)) + du(stageDir.resolve(s"${name}__lineage"))
    }
    tr.span("sink.commit_resumable") {
      val cps = Materialize.writeResumable(rep.canonical, outPath, Buckets,
        Some(KGPipeline.CanonicalMetric))
      ((), cps.agg(coalesce(sum("rows_out"), lit(0L))).head().getLong(0))
    }
    if (chunked ne rep.allSents) chunked.unpersist()
  }

  /** Re-submission over the completed stage directory, in `runCheckpointed`'s order.
    * Every stage must resume: a stage that would recompute fails the run. */
  def resume(stageDir: Path, fp: String, outPath: String, tr: Tracer)(
      implicit spark: SparkSession): Unit = {
    import spark.implicits._
    def notResumed: DataFrame = throw new IllegalStateException(
      s"re-submission did not resume a stage under $stageDir")
    tr.span("runtime.resume") {
      val cp = StageCheckpoint(stageDir.toString)
      cp.materialize("sentences", fp)(notResumed)
      // runCheckpointed collects both before it reaches the raw-triple stage
      cp.materialize("patterns", fp)(notResumed).as[Pattern].collect()
      allowedMap(cp.materialize("pair_stats", fp)(notResumed))
      val raw = cp.materialize("raw_triples", fp)(notResumed).as[Triple]
      val cps = Materialize.writeResumable(canonicalOf(raw, None), outPath, Buckets,
        Some(KGPipeline.CanonicalMetric))
      ((), cps.agg(coalesce(sum("rows_out"), lit(0L))).head().getLong(0))
    }
  }

  /** Single-thread page kernels over a fixed sample of the workload's own extraction
    * pages (url order, up to [[SampleBytes]] of normalized text), each timed on the
    * previous kernel's output after warmup, in ns per KB of normalized text. */
  val SampleBytes = 256 * 1024

  def kernels(in: Input, rep: Replica, out: mutable.Map[String, Any])(
      implicit spark: SparkSession): Unit = {
    import spark.implicits._
    val trainUrls = in.gold.select($"url").distinct().as[String].collect().toSet
    val all = in.pages.select($"url", $"html").as[(String, Array[Byte])].collect()
      .filterNot(p => trainUrls.contains(p._1)).sortBy(_._1)
    val texts = {
      var n = 0L
      all.iterator.map { case (u, h) => (u, h, graft.ingest.HtmlText.extractNormalized(h).get) }
        .takeWhile { p => val before = n; n += p._3.getBytes(UTF_8).length; before < SampleBytes }
        .toVector
    }
    val kb = texts.map(_._3.getBytes(UTF_8).length).sum / 1024.0
    val gaz = in.gaz
    val index = PatternMatcher.buildIndex(rep.plainPatterns)
    val relIndex = PatternMatcher.buildIndex(rep.relPatterns)

    var sink = 0L // consumed below, so no pass can be optimized away
    def time(name: String)(pass: => Int): Unit = {
      (0 until 2).foreach(_ => sink += pass)
      val perKb = mutable.ArrayBuffer.empty[Double]
      val until = System.nanoTime() + 500000000L
      while (perKb.size < 5 || (System.nanoTime() < until && perKb.size < 200)) {
        val t0 = System.nanoTime()
        sink += pass
        perKb += (System.nanoTime() - t0) / kb
      }
      out(s"$name.ns_per_kb") = median(perKb.toSeq)
    }
    val raws = texts.map { case (_, h, _) => graft.ingest.HtmlText.extract(h) }
    val annots = texts.map { case (u, _, t) => Annotate.annotateOne(u, t, gaz, rep.needSyntax) }
    val sents = texts.zip(annots).map { case ((u, _, _), a) => Sentences.group(u, a) }
    val grids = sents.flatten.map(s => Grid.build(s.url, s.sentBegin, s.sentEnd, s.annots))
      .filterNot(PatternMatcher.isAllCapsSentence)
    time("ingest.html_text")(texts.map(p => graft.ingest.HtmlText.extract(p._2).length).sum)
    time("ingest.normalize")(raws.map(r => graft.ingest.Normalize.normalize(r).get.length).sum)
    time("nlp.annotate_one")(texts.map { case (u, _, t) =>
      Annotate.annotateOne(u, t, gaz, rep.needSyntax).size }.sum)
    time("mention.group")(texts.zip(annots).map { case ((u, _, _), a) =>
      Sentences.group(u, a).size }.sum)
    time("align.grid")(sents.flatten.map(s =>
      Grid.build(s.url, s.sentBegin, s.sentEnd, s.annots).size).sum)
    time("extract.match_all")(grids.map(g =>
      PatternMatcher.matchAll(g, relIndex).size + PatternMatcher.matchAll(g, index).size).sum)
    time("streaming.extract_page")(texts.map { case (u, _, t) =>
      StreamExtract.extractPage(u, t, gaz, index, relIndex = relIndex).size }.sum)
    out("kernel.sample_kb") = kb
    out("kernel.checksum") = sink
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Layer table of one workload into `out`; see the object doc for the steps. */
  def run(w: Workload, seed: Long, in: Input, runDir: Path, untraced: Committed,
      tr: Tracer, out: mutable.Map[String, Any])(implicit spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val wall = out("wall_s").asInstanceOf[Double]
    val job = tr.stats("job")
    out("spark.jobs") = job.jobs
    out("spark.tasks") = job.tasks
    out("spark.executor_busy_frac") = job.runMs / 1000.0 / (wall * sc.defaultParallelism)
    out("spark.driver_gap_s") = wall - job.busyMs / 1000.0
    out("spark.gc_s") = job.gcMs / 1000.0
    out("spark.spill_bytes") = job.spillBytes
    out("spark.shuffle_write_bytes") = job.shuffleWriteBytes

    def guard(what: String, path: String): Unit = {
      val h = Main.readBack(path).hash
      if (h != untraced.hash) throw new Main.CheckFailed(s"stale replica: $what committed " +
        s"hash $h, the untraced job committed ${untraced.hash}; publishing no layer table")
    }
    val plainOut = runDir.resolve("replica").toString
    val rep = replica(in, plainOut, tr)
    guard("Materialize.write", plainOut)
    val stageDir = runDir.resolve("replica_stages")
    val resumableOut = runDir.resolve("replica_resumable").toString
    val fp = Main.fingerprint(w, seed)
    checkpoint(in, rep, stageDir, fp, resumableOut, tr, out)
    guard("Materialize.writeResumable", resumableOut)
    val cp = StageCheckpoint(stageDir.toString)
    out("runtime.resume.stages_skipped") = CheckpointStages.count(cp.wouldResume(_, fp))
    resume(stageDir, fp, resumableOut, tr)
    guard("the re-submission", resumableOut)

    PlainSpans.foreach { l =>
      val (span, st) = (tr.get(l), tr.stats(l))
      out(s"$l.wall_s") = span.wallNs / 1e9
      out(s"$l.cpu_s") = st.cpuNs / 1e9
      out(s"$l.rows_out") = span.rows
      out(s"$l.shuffle_bytes") = st.shuffleWriteBytes
    }
    out("canon.cc.jobs") = tr.stats("canon.cc").jobs
    out("learn.stats.pairs_kept_frac") = rep.pairsKeptFrac
    out("sink.commit.bytes") = du(java.nio.file.Paths.get(plainOut))
    out("sink.facts_per_raw_triple") = untraced.facts.size.toDouble / rep.rawCount
    CheckpointStages.foreach(n =>
      out(s"runtime.checkpoint.$n.wall_s") = tr.get(s"runtime.checkpoint.$n").wallNs / 1e9)
    out("runtime.checkpoint.wall_s") =
      CheckpointStages.map(n => tr.get(s"runtime.checkpoint.$n").wallNs).sum / 1e9
    out("runtime.checkpoint.bytes") =
      CheckpointStages.map(n => out(s"runtime.checkpoint.$n.bytes").asInstanceOf[Long]).sum
    out("sink.commit_resumable.wall_s") = tr.get("sink.commit_resumable").wallNs / 1e9
    out("runtime.resume.wall_s") = tr.get("runtime.resume").wallNs / 1e9

    // the replica of this workload's own job, against the same job untraced in the
    // same (now warm) JVM
    val replicaLabels = if (!w.checkpointed) PlainSpans
      else PlainSpans.filterNot(_ == "sink.commit") ++
        CheckpointStages.map(n => s"runtime.checkpoint.$n") ++
        Seq("sink.commit_resumable", "runtime.resume")
    val replicaWall = replicaLabels.map(tr.get(_).wallNs).sum / 1e9
    spark.catalog.clearCache() // the warm job starts without the replica's cached stages
    val warm = mutable.LinkedHashMap.empty[String, Any]
    val warmRun = tr.span("job.warm")((Main.runJob(w, seed, in, runDir.resolve("warm"), warm), 0L))
    if (warmRun.hash != untraced.hash) throw new Main.CheckFailed(
      s"warm re-run committed hash ${warmRun.hash}, first run ${untraced.hash}")
    val warmWall = warm("wall_s").asInstanceOf[Double]
    out("trace.replica_wall_s") = replicaWall
    out("trace.untraced_warm_wall_s") = warmWall
    out("trace.overhead_s") = replicaWall - warmWall

    kernels(in, rep, out)
  }

  /** The spans kept in memory during the run, with their listener aggregates. */
  def writeSpans(tr: Tracer, file: Path): Unit = {
    val rows = tr.spans.map { s =>
      val st = tr.stats(s.label)
      Main.json(mutable.LinkedHashMap[String, Any]("label" -> s.label,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "wall_s" -> s.wallNs / 1e9,
        "rows" -> s.rows, "jobs" -> st.jobs, "tasks" -> st.tasks,
        "cpu_s" -> st.cpuNs / 1e9, "gc_s" -> st.gcMs / 1000.0,
        "shuffle_write_bytes" -> st.shuffleWriteBytes, "spill_bytes" -> st.spillBytes))
    }
    Files.createDirectories(file.getParent)
    Files.write(file, rows.mkString("[\n", ",\n", "\n]\n").getBytes(UTF_8))
  }

  /** Bytes of every regular file under `p`. */
  def du(p: Path): Long = if (!Files.exists(p)) 0L else {
    val s = Files.walk(p)
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
  }
}
