package graft.extract

import graft.util.Det
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The href scanner must agree value-for-value (order included) with
  * the retained regex reference — INCLUDING the regex's backtracking
  * behaviors: rightmost href in the pre-'>' window, fallback left when
  * a candidate's suffix fails, '>' legal inside quoted values, resume
  * after the closing quote. Fixed adversarial cases + a deterministic
  * 600-case fuzz over generated tag soup. */
class LinkExtractEquivalenceSpec extends AnyFunSuite with Matchers {

  private def both(html: String) = {
    val b = html.getBytes("UTF-8")
    (HtmlText.extractLinksFromString(html), HtmlTextReference.extractLinksRef(b))
  }

  test("fixed adversarial cases") {
    val cases = Seq(
      """<a href="x">""",
      """<A HREF='y'>""",
      """<a class="z" href="u1">""",
      // TWO hrefs in one tag: greedy backtracking takes the RIGHTMOST
      """<a href="first" href="second">""",
      // rightmost candidate fails (no closing quote) → falls back left
      """<a href="good" href="broken>""",
      // '>' inside the quoted value is legal
      """<a href="a>b">""",
      // xhref is not a word-boundary href; data-href is (- is non-word)
      """<a xhref="no">""",
      """<a data-href="yes">""",
      // <abbr is not <a\b
      """<abbr href="no">""",
      // whitespace / newlines around =
      "<a href \n =\t 'v1'>",
      // unterminated quote → no match, scan continues to the next <a
      """<a href="unterminated <a href='ok'>""",
      // empty value filtered
      """<a href="">""",
      // mixed quoting; nested quotes of the other kind inside values
      """<a href='say "hi"'>""",
      """<a href="it's">""",
      // no href at all; href after the tag's '>' does not count
      """<a id="b">href="no"""",
      // multiple anchors, duplicates de-duplicated keeping first order
      """<a href="u1"><a href="u2"><a href="u1">""",
      // '<a' at end of input shapes
      "<a", "<a ", "<a h", "",
      // href= with no quote
      """<a href=bare>""",
      // '=' missing
      """<a href "v">""")
    cases.foreach { c =>
      val (scan, ref) = both(c)
      withClue(s"html=<<$c>>: ") { scan shouldBe ref }
    }
  }

  test("600-case deterministic tag-soup fuzz") {
    val frags = Array(
      "<a ", "<A\t", "<abbr ", "<a>", " href", " HREF", "xhref", "data-href",
      "=", " = ", "=\n", "\"u%d\"", "'v%d'", "\"a>b%d\"", "\"\"", "'",
      "\"unclosed", ">", " ", "class=\"c\"", "text ", "<div>", "&amp;",
      "href=\"w%d\" href='x%d'", "<a href=\"y%d\">")
    (0 until 600).foreach { t =>
      val m = 3 + (Det.mix64(t * 31L) & 0xF).toInt
      val sb = new StringBuilder
      (0 until m).foreach { j =>
        val f = frags(Math.floorMod(Det.mix64(t * 1009L + j), frags.length.toLong).toInt)
        sb.append(if (f.contains("%d")) f.replace("%d", (t % 50).toString) else f)
      }
      val html = sb.toString
      val (scan, ref) = both(html)
      withClue(s"t=$t html=<<$html>>: ") { scan shouldBe ref }
    }
  }
}
