package graft

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.{forAll, propBoolean}

import graft.extract.PageKernel
import graft.mention.Sentences
import graft.nlp.Annotate
import graft.testgen.CorpusGen

/**
 * The page kernel's token scan against the annotation path on generated text with
 * gazetteer phrases (also upper-cased and split by newlines), digits and decimals,
 * `.`, `!`, newlines, all-caps and non-ASCII words: per sentence the bounds, grid
 * columns, `lookupSpans`, all-caps decision, token stream and entity candidates, and
 * per page the raw triples of `extract` and of `apply` over the annotation path, for
 * kernels with and without a syntax pattern. Pure JVM — no SparkSession.
 */
object KernelParityProps extends Properties("kernel parity") {

  private val phrases = CorpusGen.entities ++ CorpusGen.cities

  private val word: Gen[String] = Gen.frequency(
    6 -> Gen.oneOf("the", "market", "in", "employs", "is", "was", "founded", "report",
      "growth", "shows"),
    3 -> Gen.oneOf(phrases),
    1 -> Gen.oneOf(phrases).map(_.toUpperCase),
    1 -> Gen.oneOf(phrases).map(_.replace(' ', '\n')),
    2 -> Gen.oneOf("1997", "1999", "3.14", "10.0.1", "42", "7."),
    2 -> Gen.oneOf(".", "\n", "!", ",", "...", "?!"),
    1 -> Gen.oneOf("ACME", "TITAN", "İzmir", "Straße", "ΟΔΟΣ", "x1", "A"))

  private val text: Gen[String] = for {
    n <- Gen.choose(0, 120)
    words <- Gen.listOfN(n, word)
    seps <- Gen.listOfN(n, Gen.frequency(8 -> " ", 1 -> "", 1 -> "\n", 1 -> "  "))
  } yield words.zip(seps).map { case (w, s) => w + s }.mkString

  property("scan == annotation path, sentence by sentence and triple for triple") =
    forAll(text, Gen.oneOf(false, true)) { (t, withSyntax) =>
      val url = "https://gen.example.org/p"
      val kernel = KernelParity.kernel(withSyntax)
      val diffs = KernelParity.diff(PageKernel.scan(url, t, CorpusGen.gazetteer, withSyntax),
        KernelParity.oracle(url, t, CorpusGen.gazetteer, withSyntax))
      val viaAnnots = kernel(url, Sentences.group(url,
        Annotate.annotateOne(url, t, CorpusGen.gazetteer, withSyntax)))
      (diffs.isEmpty :| diffs.take(3).mkString("; ")) &&
        (kernel.extract(url, t) == viaAnnots) :| "extract != apply"
    }
}
