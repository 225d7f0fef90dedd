package graft.core

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Differential test: the two-pass `TextExtract` against the earlier three-pass,
  * regex implementation kept in `TextExtractOracle`. Inputs are fixed-seed
  * ScalaCheck samples (same pattern as TextAnalysisPropSpec), built from atoms
  * that sit on the spec's edges, plus the synthetic web's own pages. */
class TextExtractPropSpec extends AnyFunSuite {

  private def samples[T](g: Gen[T], n: Int, seed: Long): Iterator[T] =
    Iterator.range(0, n).flatMap(i => g.apply(Gen.Parameters.default, Seed(seed + i)))

  private val atoms: Seq[String] = Seq(
    // tag syntax
    "<", ">", "/", "<!--", "-->", "<?", "<!", "<!DOCTYPE html>", "=", "'", "\"",
    "<script/>", "<1", "< p", "<p>", "</p>", "<br/>", "</",
    // whole script/style tags, closers in another case (İ lower-cases to i)
    "<script>", "<SCRIPT a='>'>", "<Style>", "</script>", "</ScRiPt>", "</STYLE>",
    "</style", "</scr\u0130pt>",
    // the six entities, and fragments a tag can split
    "&amp;", "&lt;", "&gt;", "&quot;", "&#39;", "&nbsp;",
    "&", ";", "&am", "p;", "&nb", "sp;", "&#3", "9;", "&q",
    // whitespace and String.trim edge cases
    " ", "\r", "\r\n", "\n", "\t", "\u000b", "\f", "\u0001",
    // tag names: block, script and style in mixed case, inline, non-ASCII
    "p", "P", "div", "DiV", "br", "Li", "h1", "H6", "h7", "tr", "title", "TITLE",
    "tItle", "script", "SCRIPT", "ScRiPt", "style", "STYLE", "sTyLe", "a", "em",
    "\u0130", "\u00e9", "\u00df", "t\u0130tle", "scr\u0130pt", "\u0131", "\u212a", // İ é ß ı K(elvin)
    // plain text
    "x", "a b", "7")

  private val doc: Gen[String] =
    Gen.choose(0, 24).flatMap(n => Gen.listOfN(n, Gen.oneOf(atoms)).map(_.mkString))

  private def show(s: String): String =
    s.flatMap(c => if (c < ' ' || c > '~') f"\\u${c.toInt}%04x" else c.toString)

  test("two-pass extract equals the regex oracle on 120k generated strings") {
    samples(doc, 120000, seed = 11L)
      .find(s => TextExtract.extract(s) != TextExtractOracle.extract(s))
      .foreach(s => fail(s"input ${show(s)}: got ${show(TextExtract.extract(s))}, " +
        s"oracle ${show(TextExtractOracle.extract(s))}"))
  }

  test("two-pass extract equals the regex oracle on 2,000 synthetic URLs' pages") {
    var pages = 0
    (0 until 2000).foreach { i =>
      val url = SyntheticWeb.urlFor(Hashes.mix(5L, i.toLong))
      val f = SyntheticWeb.fetch(url)
      if (f.status == 200) {
        assert(TextExtract.extract(f.html) === TextExtractOracle.extract(f.html), url)
        pages += 1
      }
    }
    assert(pages > 1900)
  }
}
