package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import graft.extract.{PageKernel, PatternMatcher}
import graft.mention.Sentences
import graft.model.{Mention, Page, Triple}
import graft.nlp.{Annotate, Gazetteer}

/** A triple carrying its page's event time (warc_ts), for watermarked windowed aggs. */
final case class TimedTriple(
    subj: String,
    pred: String,
    obj: String,
    url: String,
    begin: Int,
    end: Int,
    profileId: Long,
    score: Double,
    warcTs: java.sql.Timestamp,
    provenance: String = graft.model.Provenance.Auto)

/**
 * Structured Streaming ingest: continuous extraction over an unbounded stream of pages.
 *
 * The reference "streams" by polling a status table every 5 s
 * (/root/reference/src/msa/IEDriver.java:887,1340-1353); this module is the native
 * replacement: `readStream` over the pages source → the SAME per-page read
 * ([[graft.nlp.Annotate.pageText]]) and learned page kernel
 * ([[graft.extract.PageKernel]]: pair-gated matching, prior veto, dictionary pass,
 * same-span dedup, W4 merge, subject resolution) as the batch corpus pass, every
 * operator narrow (no joins, no windows) and therefore legal in a streaming plan.
 * StreamingSpec asserts the streaming path equals the relational paired chain in
 * [[graft.extract.Extract]] on the same corpus.
 *
 * Three capabilities:
 *  - [[triples]]: stateless per-page extraction, works on batch AND streaming Datasets;
 *  - [[dedupedTriples]]: exactly-once (subj,pred,obj,url) emission via
 *    flatMapGroupsWithState (KeyValueGroupedDataset custom state);
 *  - [[windowedPredCounts]]: event-time tumbling-window counts with a watermark on
 *    warc_ts (late pages beyond the watermark are dropped, state is bounded).
 *
 * At scale: the per-page path has no shuffle, so the micro-batch DAG is a single narrow
 * stage; state in dedup/window stages is partitioned by key across executors (RocksDB
 * state store in production); the parquet/file sink commits per micro-batch through the
 * checkpoint log → exactly-once, resumable from `checkpointLocation` after a crash.
 */
object StreamExtract {

  /** Unpaired per-page extraction (annotate → sentences → `matchAll` → W4 adjacent
    * merge → sentence-local subject resolution, plus direct two-slot relation
    * matches): no pair gate, no prior veto, no dictionary pass. No job runs it; it is
    * the per-page mirror of Extract.mentions/mergeAdjacent/triples ∪
    * Extract.relationTriples, kept for that parity test and the benchmark's kernel
    * table. Jobs run [[graft.extract.PageKernel.extract]]. */
  def extractPage(url: String, text: String, gaz: Gazetteer,
      index: PatternMatcher.Index, prm: PatternMatcher.Params = PatternMatcher.Params(),
      subjectMajorType: String = "entity",
      relIndex: PatternMatcher.Index = StreamExtract.EmptyIndex): Vector[Triple] = {
    // chunking costs a per-page scan; skip it unless some pattern can match its labels
    val annots = Annotate.annotateOne(url, text, gaz,
      withChunks = index.needsSyntax || relIndex.needsSyntax)
    val sents = Sentences.group(url, annots.toVector)

    // ONE grid per sentence, shared by the relation and mention passes (building
    // the per-column label streams is the page kernel's single largest allocation —
    // building them twice cost ~a third of the whole extractPage budget); all-caps
    // sentences are skipped for both passes, as before
    val grids = sents.flatMap(s => PageKernel.matchableGrid(s).map((s, _)))

    // two-slot relation patterns: subject bound by the match, emitted directly
    // (local mirror of Extract.relationTriples)
    val relTriples = grids.flatMap { case (s, grid) =>
      PatternMatcher.matchAll(grid, relIndex, prm)
        .filter(_.subjBegin >= 0)
        .map(h => Triple(h.subjValue, h.pattern.annotType,
          PatternMatcher.trimTrailingPunct(h.value),
          s.url, h.targetBegin, h.targetEnd, h.pattern.profileId, h.pattern.score))
    }

    val mentions = grids.flatMap { case (s, grid) =>
      PatternMatcher.matchAll(grid, index, prm).map { h =>
        Mention(s.url, h.pattern.annotType, h.targetBegin, h.targetEnd,
          PatternMatcher.trimTrailingPunct(h.value), h.pattern.profileId,
          h.pattern.score)
      }
    }

    // W4 adjacent merge and sentence-local subject resolution, shared with the batch
    // kernel
    val subjects = PageKernel.Subjects(url, sents, subjectMajorType)
    val resolved = PageKernel.mergeAdjacent(mentions)
      .sortBy(m => (m.annotType, m.begin, m.end)).map(subjects.resolve(_))
    resolved ++ relTriples
  }

  /** Shared empty pattern index (no-op relation pass). */
  val EmptyIndex: PatternMatcher.Index = PatternMatcher.buildIndex(Nil)

  /** Stateless streaming-legal extraction: Dataset[Page] → Dataset[TimedTriple], each
    * page read by [[Annotate.pageText]] and mapped by the broadcast `kernel`. Works
    * identically on a batch Dataset (used by StreamingSpec for parity). */
  def triples(pages: Dataset[Page], kernel: PageKernel)(
      implicit spark: SparkSession): Dataset[TimedTriple] = {
    import spark.implicits._
    val kernelB = spark.sparkContext.broadcast(kernel)
    pages.mapPartitions { it =>
      val k = kernelB.value
      it.flatMap { p =>
        Annotate.pageText(p).toVector.flatMap(t => k.extract(p.url, t)).map(tr =>
          TimedTriple(tr.subj, tr.pred, tr.obj, tr.url, tr.begin, tr.end,
            tr.profileId, tr.score, p.warc_ts, tr.provenance))
      }
    }
  }

  /** Exactly-once triple emission across micro-batches: flatMapGroupsWithState keyed by
    * (subj, pred, obj, url) emits only first occurrences; later duplicates are dropped.
    * State per key is a single boolean, and — critically for an UNBOUNDED stream — it
    * EXPIRES via an EVENT-TIME timeout `stateTtlMs` past the key's newest warc_ts
    * (driven by the watermark, so no extra empty micro-batches are scheduled — a
    * processing-time timer would make low-latency triggers spin): without a timeout the
    * per-key state grows with distinct-triple cardinality forever. The tradeoff is
    * explicit: a duplicate whose key was last seen more than the TTL before the
    * watermark re-emits (downstream Materialize.dedup removes it at rest). Pass None
    * for the unbounded-state exact mode (bounded inputs / backfills). */
  def dedupedTriples(ts: Dataset[TimedTriple],
      stateTtlMs: Option[Long] = Some(24L * 3600 * 1000))(
      implicit spark: SparkSession): Dataset[TimedTriple] = {
    import spark.implicits._
    val timeout = if (stateTtlMs.isDefined) GroupStateTimeout.EventTimeTimeout()
                  else GroupStateTimeout.NoTimeout()
    val streaming = ts.isStreaming
    val src = stateTtlMs match {
      case Some(ms) if streaming => ts.withWatermark("warcTs", s"$ms milliseconds")
      case _ => ts
    }
    src.groupByKey(t => (t.subj, t.pred, t.obj, t.url))
      .flatMapGroupsWithState[Boolean, TimedTriple](OutputMode.Append(), timeout) {
        case (_, _, state: GroupState[Boolean]) if state.hasTimedOut =>
          state.remove(); Iterator.empty
        case (_, rows, state: GroupState[Boolean]) =>
          val batch = rows.toVector
          // sliding TTL anchored on the key's newest event time in this batch
          // (watermark-relative; batch runs have no watermark → no timers).
          // Clamped strictly after the current watermark — same defense as
          // latestCaptures below: a key whose newest capture lags the global
          // watermark by more than the TTL would otherwise compute a timeout
          // at-or-before the watermark, an IllegalArgumentException that kills
          // the whole streaming query. A clamped key's state simply becomes
          // eligible to expire at the next trigger — correct TTL semantics for
          // data already older than the horizon.
          def renew(): Unit = for (ms <- stateTtlMs if streaming)
            state.setTimeoutTimestamp(math.max(
              batch.iterator.map(_.warcTs.getTime).max + ms,
              state.getCurrentWatermarkMs() + 1))
          if (state.exists) {
            renew()
            Iterator.empty
          } else {
            state.update(true)
            renew()
            // deterministic winner within the batch: min (begin, end)
            batch.sortBy(t => (t.begin, t.end)).headOption.iterator
          }
      }
  }

  /**
   * Streaming latest-capture dedup — the continuous-ingest analog of
   * [[graft.kg.Temporal.latestSnapshot]]: keyed by url, a capture is emitted iff its
   * warc_ts is strictly newer than the newest capture already seen for that url, so
   * the emitted stream is a monotone improvement log per url (append-mode legal — no
   * retractions). Compacting the emitted table with the batch `latestSnapshot` yields
   * exactly the newest capture per url; out-of-order and duplicate captures are
   * swallowed here.
   *
   * State per url is ONE (timestamp-micros, tie-break hash) pair, and (same contract as
   * [[dedupedTriples]]) it EXPIRES via an event-time timeout `stateTtlMs` past the
   * url's newest capture — without it, state grows with distinct-url cardinality
   * forever on an unbounded crawl. After expiry a later stale capture can re-emit;
   * the batch compaction removes it at rest. Pass None for the unbounded-state exact
   * mode.
   *
   * Captures are compared at MICROSECOND precision (TimestampType's resolution,
   * matching the batch operator's struct comparison — ms-truncated getTime would
   * swallow a sub-millisecond-newer capture as a tie) and equal-timestamp captures
   * are ordered by the SAME xxhash64-over-the-full-row tie-break the batch operator
   * uses, so the winner is deterministic at any parallelism and the compaction
   * invariant holds even on timestamp ties.
   */
  def latestCaptures(pages: Dataset[Page],
      stateTtlMs: Option[Long] = Some(30L * 24 * 3600 * 1000))(
      implicit spark: SparkSession): Dataset[Page] = {
    import spark.implicits._
    val timeout = if (stateTtlMs.isDefined) GroupStateTimeout.EventTimeTimeout()
                  else GroupStateTimeout.NoTimeout()
    val streaming = pages.isStreaming
    val rowCols = pages.columns.toSeq.map(col)
    val flat = pages.select(col("url"), col("warc_ts"), col("html"), col("text"),
      col("lang"), xxhash64(rowCols: _*).as("tb"))
    val src = stateTtlMs match {
      case Some(ms) if streaming => flat.withWatermark("warc_ts", s"$ms milliseconds")
      case _ => flat
    }
    val ord = Ordering.Tuple2[Long, Long]
    def micros(ts: java.sql.Timestamp): Long =
      ts.getTime * 1000L + (ts.getNanos / 1000L) % 1000L
    src.as[(String, java.sql.Timestamp, Array[Byte], String, String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long), Page](OutputMode.Append(), timeout) {
        case (_, _, state: GroupState[(Long, Long)]) if state.hasTimedOut =>
          state.remove(); Iterator.empty
        case (_, rows, state: GroupState[(Long, Long)]) =>
          val best = state.getOption.getOrElse((Long.MinValue, Long.MinValue))
          // single pass over the iterator — a hot url's captures are never
          // buffered (each row carries the full html payload)
          val newest = rows.maxBy(c => (micros(c._2), c._6))(ord)
          val newKey = (micros(newest._2), newest._6)
          // Clamped to strictly after the current watermark: a capture whose event
          // time is far behind the global max would otherwise compute a timeout
          // at-or-before the watermark — an IllegalArgumentException that kills the
          // query. Spark's FlatMapGroupsWithStateExec already filters late rows
          // before the state function when a watermark is set (pinned by
          // StreamingSpec's very-late-capture test), so this is defense-in-depth
          // for the residual path (e.g. a stale `best` from state, or the late
          // filter changing across Spark versions); a clamped group's state is
          // simply eligible to expire at the next trigger — the correct TTL
          // semantics for data already older than the horizon.
          def renew(): Unit = for (ms <- stateTtlMs if streaming)
            state.setTimeoutTimestamp(math.max(
              math.max(best._1, newKey._1) / 1000L + ms,
              state.getCurrentWatermarkMs() + 1))
          if (ord.gt(newKey, best)) {
            state.update(newKey)
            renew()
            Iterator.single(Page(newest._1, newest._2, newest._3, newest._4, newest._5))
          } else {
            renew()
            Iterator.empty
          }
      }
  }

  /** Event-time tumbling-window counts per predicate with a watermark: the streaming
    * analog of the batch q12_hourly. Late data beyond `watermark` is dropped and window
    * state is evicted — bounded state at unbounded input. */
  def windowedPredCounts(ts: Dataset[TimedTriple], windowLen: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    ts.toDF()
      .withWatermark("warcTs", watermark)
      .groupBy(window(col("warcTs"), windowLen), col("pred"))
      .agg(count(lit(1)).as("n_triples"), approx_count_distinct("subj").as("n_subjects"))

  /** Launch the continuous ingest job: stream → extract → dedup → parquet append with
    * exactly-once checkpointing. Trigger.AvailableNow drains what exists then stops —
    * the batch-backfill mode; omit for continuous micro-batches. */
  def run(pages: Dataset[Page], kernel: PageKernel, outPath: String,
      checkpointPath: String, availableNow: Boolean = true)(
      implicit spark: SparkSession): StreamingQuery = {
    val out = dedupedTriples(triples(pages, kernel))
    val writer = out.writeStream
      .format("parquet")
      .option("path", outPath)
      .option("checkpointLocation", checkpointPath)
      .outputMode(OutputMode.Append())
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer).start()
  }
}
