package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.OutputMode
import graft.align.Grid
import graft.extract.{Extract, PatternMatcher}
import graft.model.{Page, Pattern, Triple}
import graft.streaming.{StreamExtract, TimedTriple}
import graft.testgen.CorpusGen

/**
 * Structured Streaming coverage (SURVEY.md §2.10): the per-page streaming path must be
 * byte-identical to the batch path (parity), dedup state must span micro-batches
 * (flatMapGroupsWithState) and expire by event time, and a file-source run must
 * resume from its checkpoint processing only new input.
 */
class StreamingSpec extends AnyFunSuite with SparkTest {

  /** The learned extraction model every corpus job runs (relation patterns, pair
    * gate, veto, dictionary). */
  private def kernel = LearnedModel.model.kernel

  test("parity: streaming per-page path == batch join/window path on the same corpus") {
    import spark.implicits._
    val m = LearnedModel.model
    val pages = spark.createDataset(CorpusGen.pages(120).map(_.page))

    // batch path: the relational paired chain (joins + windows) over the sentence table,
    // annotated as the kernel annotates
    val sents = graft.nlp.Annotate.annotateSentences(pages, CorpusGen.gazetteer,
      withChunks = m.withChunks).cache()
    val batch = PageKernelSpec.sorted(m.relational(sents))
    sents.unpersist()

    // streaming-legal path (narrow ops only), run on the same batch Dataset
    val streamShaped = PageKernelSpec.sorted(StreamExtract.triples(pages, m.kernel)
      .collect().toSeq.map(t => Triple(t.subj, t.pred, t.obj, t.url, t.begin, t.end,
        t.profileId, t.score, t.provenance)))

    val relIds = m.rel.map(_.profileId).toSet
    def gotham(t: Triple) = t.pred == "hq-city" && t.obj == "Gotham"
    assert(batch.exists(t => relIds(t.profileId)), "no relation triple")
    assert(batch.exists(t => gotham(t) && t.profileId == -2L), "no dictionary triple")
    assert(!batch.exists(t => gotham(t) && t.profileId >= 0), "the veto did not apply")
    assert(streamShaped === batch,
      s"paths diverged; only-batch=${batch.diff(streamShaped).take(3)} " +
        s"only-stream=${streamShaped.diff(batch).take(3)}")
  }

  test("extractPage per page == the unpaired relational chain on the same corpus") {
    import spark.implicits._
    // hand-seeded patterns matching the CorpusGen grammar; the last has an entity
    // literal before its target, so it upgrades to a two-slot relation pattern
    val seedPatterns = Seq(
      Pattern(1L, Seq(":token|string|founded", ":token|string|in", Grid.Target),
        "founded-year", 0, "seed", 1.0, 0, 0, 0),
      Pattern(2L, Seq(":token|string|headquartered", ":token|string|in", Grid.Target),
        "hq-city", 0, "seed", 1.0, 0, 0, 0),
      Pattern(3L, Seq(":token|string|employs", Grid.Target, ":token|string|people"),
        "employee-count", 0, "seed", 1.0, 0, 0, 0),
      Pattern(4L, Seq(":lookup|majortype|org", ":token|string|employs", Grid.Target),
        "employer-rel", 0, "seed", 1.0, 0, 0, 0))
    val gen = CorpusGen.pages(40)
    val pages = spark.createDataset(gen.map(_.page))

    // batch path (joins + windows), with the plain/relation pattern split
    val sents = graft.nlp.Annotate.annotateSentences(pages, CorpusGen.gazetteer)
    val upgraded = seedPatterns.map(p => p -> Extract.toRelationPattern(p))
    val plain = upgraded.collect { case (p, None) => p }
    val rel = upgraded.collect { case (_, Some(r)) => r }
    assert(rel.nonEmpty, "parity test must exercise the relation path")
    val batch = Extract.triples(sents,
        Extract.mergeAdjacent(RelationSpec.mentions(sents, plain)))
      .unionByName(RelationSpec.relationTriples(sents, rel))
      .collect().map(t => (t.subj, t.pred, t.obj, t.url, t.begin, t.end)).toSet

    val (index, relIndex) = (PatternMatcher.buildIndex(plain), PatternMatcher.buildIndex(rel))
    val perPage = gen.flatMap { gp =>
      graft.nlp.Annotate.pageText(gp.page).toSeq.flatMap(t =>
        StreamExtract.extractPage(gp.page.url, t, CorpusGen.gazetteer, index,
          relIndex = relIndex))
    }.map(t => (t.subj, t.pred, t.obj, t.url, t.begin, t.end)).toSet

    assert(batch.nonEmpty, "no triples extracted at all")
    assert(perPage === batch,
      s"paths diverged; only-batch=${(batch -- perPage).take(3)} " +
        s"only-page=${(perPage -- batch).take(3)}")
  }

  test("flatMapGroupsWithState dedup holds state across micro-batches") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val input = MemoryStream[Page]
    val out = StreamExtract.dedupedTriples(
      StreamExtract.triples(input.toDS(), kernel))
    val q = out.writeStream.format("memory").queryName("dedup_t")
      .outputMode(OutputMode.Append()).start()
    try {
      val gen = CorpusGen.pages(10)
      input.addData(gen.map(_.page))
      q.processAllAvailable()
      val n1 = spark.table("dedup_t").count()
      assert(n1 > 0)
      // same pages again: every triple is a duplicate → nothing new emitted
      input.addData(gen.map(_.page))
      q.processAllAvailable()
      val n2 = spark.table("dedup_t").count()
      assert(n2 === n1, s"duplicates leaked: $n1 -> $n2")
      // new pages → new triples still flow
      input.addData(CorpusGen.pages(14).drop(10).map(_.page))
      q.processAllAvailable()
      assert(spark.table("dedup_t").count() > n1)
    } finally q.stop()
  }

  test("streaming latest-capture log compacts to the batch latestSnapshot") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    def cap(url: String, ts: Long, text: String): Page =
      Page(url, new java.sql.Timestamp(ts), Array.emptyByteArray, text, "en")
    val input = MemoryStream[Page]
    val out = StreamExtract.latestCaptures(input.toDS(), stateTtlMs = None)
    val q = out.writeStream.format("memory").queryName("latest_caps")
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1: first captures emit; in-batch older capture swallowed
      input.addData(cap("u1", 3000L, "u1v3"), cap("u1", 1000L, "u1v1"),
        cap("u2", 1000L, "u2v1"))
      q.processAllAvailable()
      // batch 2: newer u1 emits; stale + duplicate captures swallowed across batches
      input.addData(cap("u1", 5000L, "u1v5"), cap("u1", 2000L, "u1v2"),
        cap("u2", 1000L, "u2v1"))
      q.processAllAvailable()
      val emitted = spark.table("latest_caps").as[Page].collect()
      assert(emitted.map(p => (p.url, p.text)).toSet ==
        Set(("u1", "u1v3"), ("u2", "u2v1"), ("u1", "u1v5")),
        "monotone improvement log per url")
      // compaction of the emitted log == batch latestSnapshot over ALL captures
      val all = Seq(cap("u1", 3000L, "u1v3"), cap("u1", 1000L, "u1v1"),
        cap("u2", 1000L, "u2v1"), cap("u1", 5000L, "u1v5"), cap("u1", 2000L, "u1v2"))
        .toDF().select(col("url"), col("warc_ts"), col("text"))
      val compacted = graft.kg.Temporal.latestSnapshot(
        emitted.toSeq.toDF().select(col("url"), col("warc_ts"), col("text")),
        "url", "warc_ts").collect().map(r => r.getString(0) -> r.getString(2)).toMap
      val batch = graft.kg.Temporal.latestSnapshot(all, "url", "warc_ts")
        .collect().map(r => r.getString(0) -> r.getString(2)).toMap
      assert(compacted == batch && batch == Map("u1" -> "u1v5", "u2" -> "u2v1"))
    } finally q.stop()
  }

  test("latest-capture timestamp ties break like the batch operator (xxhash64)") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    def cap(url: String, ts: Long, text: String): Page =
      Page(url, new java.sql.Timestamp(ts), Array.emptyByteArray, text, "en")
    // two captures of u1 share warc_ts but differ in content — one in the same
    // micro-batch, one across batches; the surviving capture must be the one the
    // batch latestSnapshot elects (max xxhash64 on the tie), not arrival order
    val input = MemoryStream[Page]
    val out = StreamExtract.latestCaptures(input.toDS(), stateTtlMs = None)
    val q = out.writeStream.format("memory").queryName("latest_tie")
      .outputMode(OutputMode.Append()).start()
    val all = Seq(cap("u1", 1000L, "vA"), cap("u1", 1000L, "vB"), cap("u1", 1000L, "vC"))
    try {
      input.addData(all(0), all(1))
      q.processAllAvailable()
      input.addData(all(2))
      q.processAllAvailable()
      val compacted = graft.kg.Temporal.latestSnapshot(
        spark.table("latest_tie"), "url", "warc_ts")
        .collect().map(r => r.getAs[String]("url") -> r.getAs[String]("text")).toMap
      val batch = graft.kg.Temporal.latestSnapshot(all.toDF(), "url", "warc_ts")
        .collect().map(r => r.getAs[String]("url") -> r.getAs[String]("text")).toMap
      assert(compacted == batch, s"tie winner diverged: stream=$compacted batch=$batch")
    } finally q.stop()
  }

  test("latest-capture with TTL survives very-late captures; late data is dropped") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    def cap(url: String, ts: Long, text: String): Page =
      Page(url, new java.sql.Timestamp(ts), Array.emptyByteArray, text, "en")
    val input = MemoryStream[Page]
    // TTL = 1 s (doubles as the watermark delay). Batch 1 drives the watermark to
    // ~99 s; batch 2's captures at event times 1 s / 50 s are behind it. Spark's
    // FlatMapGroupsWithStateExec filters those late rows before the state function
    // (they must neither emit nor create state), and the operator's timeout clamp
    // guards the residual path where a row would compute a timeout at-or-before the
    // watermark (which would throw and kill the query).
    val out = StreamExtract.latestCaptures(input.toDS(), stateTtlMs = Some(1000L))
    val q = out.writeStream.format("memory").queryName("latest_ttl")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(cap("u1", 100000L, "u1v1"))
      q.processAllAvailable()
      // very-late first capture of u2 AND a stale late capture of u1
      input.addData(cap("u2", 1000L, "u2late"), cap("u1", 50000L, "u1stale"))
      q.processAllAvailable()
      assert(q.exception.isEmpty, s"query died: ${q.exception}")
      val mid = spark.table("latest_ttl").as[Page].collect()
        .map(p => (p.url, p.text)).toSet
      assert(mid == Set(("u1", "u1v1")), s"late capture leaked or query stalled: $mid")
      // a live (non-late) first capture of u2 still flows after the late one was cut
      input.addData(cap("u2", 200000L, "u2v2"))
      q.processAllAvailable()
      assert(q.exception.isEmpty, s"query died: ${q.exception}")
      val emitted = spark.table("latest_ttl").as[Page].collect()
        .map(p => (p.url, p.text)).toSet
      assert(emitted == Set(("u1", "u1v1"), ("u2", "u2v2")), emitted.toString)
    } finally q.stop()
  }

  test("state expiry then re-arrival: both stateful operators re-emit after the TTL " +
      "horizon and compaction-at-rest restores the exact contract") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    def cap(url: String, ts: Long, text: String): Page =
      Page(url, new java.sql.Timestamp(ts), Array.emptyByteArray, text, "en")
    def tt(key: String, ts: Long): TimedTriple =
      TimedTriple(key, "hq-city", "Gotham", s"https://x/$key", 0, 1, 1L, 1.0,
        new java.sql.Timestamp(ts))
    // --- latestCaptures: k1 emits, its state EXPIRES (watermark passes its timeout
    // and a later batch fires the hasTimedOut path → state.remove), then k1
    // RE-ARRIVES with a newer live capture: it must re-emit from empty state (not
    // throw, not drop), and compacting the log still elects the newest capture.
    val capIn = MemoryStream[Page]
    val q1 = StreamExtract.latestCaptures(capIn.toDS(), stateTtlMs = Some(1000L))
      .writeStream.format("memory").queryName("expiry_caps")
      .outputMode(OutputMode.Append()).start()
    try {
      capIn.addData(cap("k1", 10000L, "v1"))
      q1.processAllAvailable() // k1 state live; timeout armed at ~11 s
      capIn.addData(cap("other", 1000000L, "x1"))
      q1.processAllAvailable() // watermark → ~999 s, far past k1's timeout
      capIn.addData(cap("other", 1001000L, "x2"))
      q1.processAllAvailable() // k1's hasTimedOut fires here → state.remove
      capIn.addData(cap("k1", 1002000L, "v2"))
      q1.processAllAvailable() // re-arrival on EMPTY state: must emit again
      assert(q1.exception.isEmpty, s"query died: ${q1.exception}")
      val k1 = spark.table("expiry_caps").as[Page].collect().filter(_.url == "k1")
      assert(k1.map(_.text).toSeq.sorted == Seq("v1", "v2"),
        s"expected re-emission after expiry, got ${k1.toSeq}")
      val winner = graft.kg.Temporal.latestSnapshot(
        spark.table("expiry_caps"), "url", "warc_ts")
        .filter(col("url") === "k1").head.getAs[String]("text")
      assert(winner == "v2", "compaction must elect the newest capture")
    } finally q1.stop()
    // --- dedupedTriples: the SAME duplicate key re-emits once its state expired
    // (the documented TTL tradeoff), and exact dedup-at-rest removes it again.
    val tIn = MemoryStream[TimedTriple]
    val q2 = StreamExtract.dedupedTriples(tIn.toDS(), stateTtlMs = Some(1000L))
      .writeStream.format("memory").queryName("expiry_dedup")
      .outputMode(OutputMode.Append()).start()
    try {
      tIn.addData(tt("k1", 10000L))
      q2.processAllAvailable()
      tIn.addData(tt("other", 1000000L))
      q2.processAllAvailable()
      tIn.addData(tt("other2", 1001000L))
      q2.processAllAvailable() // k1's timeout fires → state gone
      tIn.addData(tt("k1", 1002000L)) // duplicate key, state expired → re-emits
      q2.processAllAvailable()
      assert(q2.exception.isEmpty, s"query died: ${q2.exception}")
      val log = spark.table("expiry_dedup").as[TimedTriple].collect()
      assert(log.count(_.subj == "k1") === 2,
        s"expected the post-expiry duplicate to re-emit: ${log.toSeq}")
      // dedup at rest (the documented downstream contract) restores exactly-once
      assert(spark.table("expiry_dedup")
        .select("subj", "pred", "obj", "url").distinct()
        .filter(col("subj") === "k1").count() === 1L)
    } finally q2.stop()
  }

  test("dedup with TTL survives very-late triples (hostile timeline: duplicates, " +
      "3xTTL stragglers, equal-timestamp ties)") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    def tt(key: String, ts: Long): TimedTriple =
      TimedTriple(key, "hq-city", "Gotham", s"https://x/$key", 0, 1, 1L, 1.0,
        new java.sql.Timestamp(ts))
    val input = MemoryStream[TimedTriple]
    // TTL = 1 s (doubles as the watermark delay). Batch 1 drives the watermark to
    // ~99 s; batch 2's rows at event times 1 s / 50 s are > 3xTTL behind it. The
    // round-4 verdict flagged that dedupedTriples' renew() lacked latestCaptures'
    // watermark clamp: a key whose newest event time lags the watermark by more
    // than the TTL would compute setTimeoutTimestamp at-or-before the watermark —
    // an IllegalArgumentException that kills the whole query. This pins the clamp
    // (and Spark's pre-state late-row filter) on THIS operator too.
    val out = StreamExtract.dedupedTriples(input.toDS(), stateTtlMs = Some(1000L))
    val q = out.writeStream.format("memory").queryName("dedup_ttl")
      .outputMode(OutputMode.Append()).start()
    try {
      // equal-timestamp duplicate pair in the first batch: exactly one emission
      input.addData(tt("k1", 100000L), tt("k1", 100000L))
      q.processAllAvailable()
      assert(q.exception.isEmpty, s"query died: ${q.exception}")
      assert(spark.table("dedup_ttl").count() === 1L)
      // 3xTTL stragglers: a brand-new key AND a duplicate of the live key, both
      // far behind the watermark — neither may emit, and neither may kill the query
      input.addData(tt("k2", 1000L), tt("k1", 50000L))
      q.processAllAvailable()
      assert(q.exception.isEmpty, s"query died on the straggler batch: ${q.exception}")
      assert(spark.table("dedup_ttl").count() === 1L,
        "late straggler leaked an emission")
      // a live row for the straggler key still flows afterwards
      input.addData(tt("k2", 200000L))
      q.processAllAvailable()
      assert(q.exception.isEmpty, s"query died: ${q.exception}")
      assert(spark.table("dedup_ttl").as[TimedTriple].collect()
        .map(_.subj).toSet === Set("k1", "k2"))
    } finally q.stop()
  }

  test("file-source ingest resumes from checkpoint, processing only new files") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_stream").toString
    val (srcDir, outDir, cpDir) = (s"$dir/src", s"$dir/out", s"$dir/cp")
    val gen = CorpusGen.pages(20)

    spark.createDataset(gen.take(10).map(_.page)).write.mode("append").parquet(srcDir)
    def stream = spark.readStream
      .schema(implicitly[org.apache.spark.sql.Encoder[Page]].schema)
      .parquet(srcDir).as[Page]

    val q1 = StreamExtract.run(stream, kernel, outDir, cpDir)
    q1.awaitTermination()
    val n1 = spark.read.parquet(outDir).count()
    assert(n1 > 0)

    // second run, same checkpoint: only the newly appended files are processed
    spark.createDataset(gen.drop(10).map(_.page)).write.mode("append").parquet(srcDir)
    val q2 = StreamExtract.run(stream, kernel, outDir, cpDir)
    q2.awaitTermination()
    val out = spark.read.parquet(outDir)
    val n2 = out.count()
    assert(n2 > n1, "resume did not process the new files")
    // exactly-once: no (subj,pred,obj,url,begin) duplicates across the two runs
    assert(out.dropDuplicates("subj", "pred", "obj", "url", "begin").count() === n2,
      "resume reprocessed old files (duplicates in sink)")
  }
}
