package graft

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

/**
 * Property-based checks of the pure kernels (SURVEY.md §5 test plan): invariants that
 * must hold for ANY input, not just fixtures. Pure JVM — no SparkSession.
 */
object KernelProps extends Properties("kernels") {

  private val textGen: Gen[String] = Gen.oneOf(
    Gen.asciiPrintableStr,
    Gen.listOf(Gen.oneOf(Gen.alphaNumStr, Gen.const(" "), Gen.const("\n"),
      Gen.const("\r"), Gen.const("."), Gen.const("\t"))).map(_.mkString),
    Gen.const(""), Gen.const("   \r\n  "))

  property("normalize idempotent: clean(clean(x)) == clean(x)") =
    forAll(textGen) { s =>
      val once = graft.ingest.Normalize.clean(s)
      once.forall(t => graft.ingest.Normalize.clean(t).contains(t))
    }

  property("normalized text has no \\r and ends with exactly one \\n") =
    forAll(textGen) { s =>
      graft.ingest.Normalize.normalize(s).forall(t =>
        !t.contains('\r') && t.endsWith("\n") && !t.endsWith("\n\n"))
    }

  property("tokenizer: offsets in bounds, ascending, non-overlapping, cover non-ws") =
    forAll(textGen) { s =>
      val toks = graft.nlp.Tokenizer.scan(s)
      val inBounds = toks.forall(t => t.begin >= 0 && t.end <= s.length && t.begin < t.end)
      val ordered = toks.sliding(2).forall {
        case Vector(a, b) => a.end <= b.begin
        case _ => true
      }
      val coverage = s.zipWithIndex.forall { case (c, i) =>
        Character.isWhitespace(c) == !toks.exists(t => t.begin <= i && i < t.end)
      }
      inBounds && ordered && coverage
    }

  property("sentence spans: in bounds, ascending, non-overlapping, trimmed") =
    forAll(textGen) { s =>
      val sp = graft.nlp.Tokenizer.sentences(s)
      sp.forall { case (b, e) => b >= 0 && e <= s.length && b < e &&
        !Character.isWhitespace(s.charAt(b)) && !Character.isWhitespace(s.charAt(e - 1)) } &&
      sp.sliding(2).forall {
        case Vector((_, e1), (b2, _)) => e1 <= b2
        case _ => true
      }
    }

  private val wordsGen: Gen[String] =
    Gen.listOf(Gen.oneOf("the", "cat", "sat", "on", "a", "Mat", "DOG", "x1"))
      .map(_.mkString(" "))

  property("word_shingles kernel == naive reference") =
    forAll(wordsGen, Gen.choose(1, 5)) { (s, n) =>
      val got = {
        val arr = graft.functions.WordShingles.run(s, n)
        (0 until arr.numElements()).map(arr.getUTF8String(_).toString).toVector
      }
      val toks = s.trim.toLowerCase.split("\\s+").filter(_.nonEmpty).toVector
      val want = if (toks.length < n) Vector.empty[String]
        else toks.sliding(n).map(_.mkString(" ")).toVector.distinct
      got == want
    }

  private val dictGen: Gen[List[List[String]]] =
    Gen.listOfN(4, Gen.nonEmptyListOf(Gen.oneOf("a", "b", "c")).map(_.take(3)))

  property("aho-corasick == naive multi-pattern scan (all occurrences)") =
    forAll(dictGen, Gen.listOf(Gen.oneOf("a", "b", "c", "d"))) { (dict, stream) =>
      val ac = graft.nlp.AhoCorasick.build(dict)
      val got = ac.findAll(stream.toIndexedSeq).toSet
      val want = (for {
        (p, id) <- dict.zipWithIndex
        i <- 0 to stream.length - p.length
        if stream.slice(i, i + p.length) == p
      } yield (i, i + p.length, id)).toSet
      Prop(got == want) :| s"got=$got want=$want dict=$dict stream=$stream"
    }

  property("repetition_stats kernel == naive gram counting for any text and n") =
    forAll(textGen, Gen.choose(1, 4)) { (s, n) =>
      val row = graft.functions.RepetitionStats.run(s, n)
      val got = (row.getLong(0), row.getLong(1), row.getLong(2))
      val toks = s.trim.toLowerCase(java.util.Locale.ROOT)
        .split("\\s+").filter(_.nonEmpty).toSeq
      val want =
        if (toks.length < n) (0L, 0L, 0L)
        else {
          val grams = toks.sliding(n).map(_.mkString(" ")).toSeq
          val counts = grams.groupBy(identity).view.mapValues(_.size)
          (grams.size.toLong, counts.size.toLong, counts.values.max.toLong)
        }
      Prop(got == want) :| s"got=$got want=$want n=$n text=${s.take(40)}"
    }

  /** `Sentences.group` as it was before its merge loop became a binary search: every
    * sentence rescans every annotation. Kept as the oracle of the linear version. */
  private def groupOracle(url: String, all: Vector[graft.model.Annotation]) = {
    val sents = all.filter(_.annotType == "Sentence").sortBy(_.begin)
    val rest = all.filter(_.annotType != "Sentence").sortBy(a => (a.begin, a.end))
    if (sents.isEmpty) Vector.empty
    else {
      val merged = Vector.newBuilder[(Int, Int)]
      var cb = sents.head.begin
      var ce = sents.head.end
      var i = 1
      while (i < sents.length) {
        val maxAnnotEnd = rest.iterator
          .filter(a => a.begin >= cb && a.begin < ce).map(_.end).foldLeft(ce)(math.max)
        if (maxAnnotEnd > ce && sents(i).begin < maxAnnotEnd) {
          ce = math.max(maxAnnotEnd, sents(i).end)
        } else {
          merged += ((cb, ce)); cb = sents(i).begin; ce = sents(i).end
        }
        i += 1
      }
      merged += ((cb, ce))
      val out = Vector.newBuilder[graft.model.SentenceAnnots]
      var ai = 0
      merged.result().foreach { case (sb, se) =>
        while (ai < rest.length && rest(ai).begin < sb) ai += 1
        val buf = Vector.newBuilder[graft.model.Annotation]
        var k = ai
        while (k < rest.length && rest(k).begin < se) { buf += rest(k); k += 1 }
        val annots = buf.result()
        if (annots.nonEmpty) out += graft.model.SentenceAnnots(url, sb, se, annots)
        ai = k
      }
      out.result()
    }
  }

  private def annot(t: String, b: Int, e: Int) =
    graft.model.Annotation("u", 0, t, b, e, s"$t$b", Map.empty, "p", 1.0)

  // tokenizer-like sentences (ascending, disjoint) or arbitrary overlapping ones
  private val sentencesGen: Gen[Vector[graft.model.Annotation]] = Gen.oneOf(
    Gen.listOf(Gen.zip(Gen.choose(1, 30), Gen.choose(0, 4))).map { lens =>
      lens.foldLeft((0, Vector.empty[graft.model.Annotation])) { case ((at, acc), (len, gap)) =>
        (at + len + gap, acc :+ annot("Sentence", at, at + len))
      }._2
    },
    Gen.listOf(Gen.zip(Gen.choose(0, 150), Gen.choose(1, 30)))
      .map(_.map { case (b, len) => annot("Sentence", b, b + len) }.toVector))

  // tokens, and longer spans (gold, lookups) that overrun sentence boundaries
  private val othersGen: Gen[Vector[graft.model.Annotation]] = Gen.listOf(Gen.zip(
      Gen.oneOf("Token", "Lookup", "gold"), Gen.choose(0, 160), Gen.choose(1, 60)))
    .map(_.map { case (t, b, len) => annot(t, b, b + len) }.toVector)

  property("sentence grouping == full-rescan oracle, overrunning annotations included") =
    forAll(sentencesGen, othersGen) { (sents, others) =>
      val all = others ++ sents
      val got = graft.mention.Sentences.group("u", all)
      val want = groupOracle("u", all)
      Prop(got == want) :| s"got=${got.map(s => (s.sentBegin, s.sentEnd))} " +
        s"want=${want.map(s => (s.sentBegin, s.sentEnd))}"
    }

  property("adjacent-mention merge emits non-overlapping, ordered spans per type") =
    forAll(Gen.listOf(Gen.zip(Gen.choose(0, 50), Gen.choose(1, 5)))) { spans =>
      val mentions = spans.map { case (b, len) =>
        graft.model.Mention("u", "t", b, b + len, "v", 1L, 1.0)
      }.toVector
      // per-page merge of the page kernel (batch and streaming)
      val merged = graft.extract.PageKernel.mergeAdjacent(mentions)
      merged.sortBy(_.begin).sliding(2).forall {
        case Vector(a, b) => a.end + 1 < b.begin // merged spans can't be adjacent
        case _ => true
      }
    }
}
