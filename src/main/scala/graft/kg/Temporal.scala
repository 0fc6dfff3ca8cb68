package graft.kg

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Temporal operators over re-crawled pages and versioned triples — the other half of
 * incremental maintenance ([[Incremental]] diffs two snapshots; these operate on the
 * raw multi-version history a crawl archive actually delivers).
 *
 * The reference processes one fixed document set per run (status-table gating,
 * /root/reference/src/msa/IEDriver.java) and has no notion of a page existing at many
 * capture timestamps; a Common-Crawl-shaped corpus is the opposite — every url appears
 * once per crawl, and both the corpus (latest capture wins) and the KG (when was this
 * fact first/last observed?) need the version dimension collapsed deliberately.
 *
 * Scale shapes: both operators are ONE url/triple-keyed hash aggregation with map-side
 * partial merge — no window over the crawl history (a url's captures never co-sort),
 * no driver state. The winning row in [[latestSnapshot]] is picked ATOMICALLY
 * (`max_by` over one ordered struct, tie-broken by a content hash) so the surviving
 * capture is identical at any parallelism even when two captures share a timestamp.
 */
object Temporal {

  /**
   * Latest-capture dedup: ONE row per url — the capture with the greatest `tsCol`,
   * all other columns taken from that same winning row (never a per-column chimera).
   * Timestamp ties break on xxhash64 of the full row, so the result is deterministic
   * and engine-portable without requiring a unique capture id.
   */
  def latestSnapshot(crawls: DataFrame, urlCol: String, tsCol: String): DataFrame = {
    val others = crawls.columns.filterNot(_ == urlCol).toSeq
    crawls.groupBy(col(urlCol))
      .agg(max_by(struct(others.map(col): _*),
        struct(col(tsCol), xxhash64(crawls.columns.map(col).toSeq: _*))).as("w"))
      .select(col(urlCol) +: others.map(c => col(s"w.$c").as(c)): _*)
  }

  /**
   * Fact observation history: per (subj, pred, obj), when the fact was first and last
   * observed and how many captures assert it. The serving-side inputs for fact
   * freshness/decay scoring and for expiring facts no crawl has asserted since a
   * watermark.
   */
  def factHistory(triples: DataFrame, subjCol: String, predCol: String,
      objCol: String, tsCol: String): DataFrame =
    triples.groupBy(col(subjCol).as("subj"), col(predCol).as("pred"),
        col(objCol).as("obj"))
      .agg(min(col(tsCol)).as("first_seen"), max(col(tsCol)).as("last_seen"),
        count(lit(1)).as("n_observations"))
}
