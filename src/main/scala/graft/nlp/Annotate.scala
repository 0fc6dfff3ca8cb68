package graft.nlp

import org.apache.spark.sql.{Dataset, SparkSession}
import graft.model.{Annotation, Page}
import graft.ingest.HtmlText

/**
 * Page → Annotation stage: the Spark-native replacement for the reference's GATE batch
 * (/root/reference/src/gate/GateBatch.java:247-509). One typed flatMap per page:
 * html → normalized text (byte-identity invariant) → Token/Sentence/Number annotations →
 * gazetteer Lookups from a broadcast Aho-Corasick automaton.
 *
 * Declarative Dataset op: Catalyst plans the scan (column pruning pushes only url/html),
 * the flatMap runs as one narrow stage — no shuffle, scales linearly with input splits.
 */
object Annotate {

  /** One page's normalized text: its `text` column when set, else the text of its
    * html; None when it has neither or fails the alnum gate, exactly like the
    * reference's regex gate (src/gate/GateBatch.java:346). Every corpus job reads its
    * pages through this. */
  def pageText(p: Page): Option[String] = {
    val raw = if (p.text != null && p.text.nonEmpty) Some(p.text)
              else Option(p.html).map(HtmlText.extract)
    raw.flatMap(graft.ingest.Normalize.normalize)
  }

  /** (url, normalized text) per page ([[pageText]]); gated pages are dropped. */
  def extractText(pages: Dataset[Page])(implicit spark: SparkSession): Dataset[(String, String)] = {
    import spark.implicits._
    pages.flatMap(p => pageText(p).map(t => (p.url, t)))
      .toDF("url", "text").as[(String, String)]
  }

  /**
   * Fused page → sentence pass: extract+normalize, tokenize, gazetteer, AND sentence
   * grouping in ONE narrow stage. A page's annotations are born co-located in its
   * task, so they are grouped into sentences there ([[graft.mention.Sentences.group]])
   * and no annotation row is shuffled.
   *
   * @param extraByUrl additional per-url annotations (e.g. the gold spans of the
   *        validated training slice — small and broadcastable by design) merged in
   *        before sentence grouping.
   */
  def annotateSentences(pages: Dataset[Page], gaz: Gazetteer,
      extraByUrl: Map[String, Seq[Annotation]] = Map.empty,
      withChunks: Boolean = true)(
      implicit spark: SparkSession): Dataset[graft.model.SentenceAnnots] = {
    import spark.implicits._
    val gazB = spark.sparkContext.broadcast(gaz)
    val extraB = spark.sparkContext.broadcast(extraByUrl)
    extractText(pages).mapPartitions { it =>
      val g = gazB.value
      val extra = extraB.value
      it.flatMap { case (url, text) => sentences(url, text, g, extra, withChunks) }
    }
  }

  /** One page's sentences: [[annotateOne]] with `extraByUrl`'s annotations of the page
    * merged in, grouped by [[graft.mention.Sentences.group]]. */
  def sentences(url: String, text: String, gaz: Gazetteer,
      extraByUrl: Map[String, Seq[Annotation]],
      withChunks: Boolean): Vector[graft.model.SentenceAnnots] =
    graft.mention.Sentences.group(url,
      annotateOne(url, text, gaz, withChunks) ++ extraByUrl.getOrElse(url, Nil))

  /** Deterministic per-page annotation: tokens/sentences/numbers, gazetteer Lookups,
    * then shallow syntax chunks (NP/VP/PP SyntaxTreeNode annotations — the feeder for
    * syntax-anchored patterns and the MSA syntax/phrase gates; `withChunks = false`
    * reproduces the chunker-less grids). */
  def annotateOne(url: String, text: String, gaz: Gazetteer,
      withChunks: Boolean = true): Vector[Annotation] = {
    val toks = Tokenizer.scan(text)
    val base = Tokenizer.annotate(url, text, toks)
    val lookups = gaz.annotate(url, text, toks, firstId = base.length)
    val chunks =
      if (withChunks) Chunker.annotate(url, text, base.length + lookups.length, toks)
      else Vector.empty
    base ++ lookups ++ chunks
  }
}
