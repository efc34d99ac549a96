package graft.extract

import scala.util.matching.Regex

/** The ORIGINAL regex-cascade implementation of extractor-v1, retained
  * verbatim as the equivalence oracle for the fused-scanner rewrite in
  * HtmlText (same frozen policy, same VERSION). Any behavioral drift in
  * the scanners fails HtmlTextEquivalenceSpec (text) or
  * LinkExtractEquivalenceSpec (links).
  */
object HtmlTextReference {
  private val comment: Regex = "(?s)<!--.*?-->".r
  private val scriptStyle: Regex = "(?is)<(script|style)\\b[^>]*>.*?</\\1\\s*>".r
  private val blockTag: Regex =
    ("(?i)</?(?:p|div|br|h[1-6]|li|ul|ol|tr|td|th|table|title|head|body|html|" +
      "section|article|header|footer|blockquote|pre)\\b[^>]*/?>").r
  private val anyTag: Regex = "(?s)<[^>]*>".r
  private val numEntity: Regex = "&#(x[0-9a-fA-F]+|[0-9]+);".r
  private val hspace: Regex = "[ \\t\\f\\u000B\\r]+".r

  def extractFromString(raw: String): String = {
    var s = raw
    s = comment.replaceAllIn(s, "")
    s = scriptStyle.replaceAllIn(s, "")
    s = blockTag.replaceAllIn(s, "\n")
    s = anyTag.replaceAllIn(s, "")
    s = decodeEntities(s)
    normalizeWs(s)
  }

  private def decodeEntities(s: String): String = {
    val named = s
      .replace("&lt;", "<").replace("&gt;", ">")
      .replace("&quot;", "\"").replace("&apos;", "'")
      .replace("&nbsp;", " ").replace("&amp;", "&")
    numEntity.replaceAllIn(named, m => {
      val g = m.group(1)
      val cp = if (g.startsWith("x") || g.startsWith("X"))
        Integer.parseInt(g.substring(1), 16) else Integer.parseInt(g, 10)
      val out =
        if (Character.isValidCodePoint(cp)) new String(Character.toChars(cp))
        else "�"
      Regex.quoteReplacement(out)
    })
  }

  /** Regex reference for [[HtmlText.extractLinks]]: the scanner must
    * agree value-for-value, order included. */
  private val hrefRe: Regex = "(?i)<a\\b[^>]*\\bhref\\s*=\\s*(\"([^\"]*)\"|'([^']*)')".r
  def extractLinksRef(html: Array[Byte]): Seq[String] = {
    val s = HtmlText.decodeUtf8(html)
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    hrefRe.findAllMatchIn(s).foreach { m =>
      val v = if (m.group(2) != null) m.group(2) else m.group(3)
      if (v != null && v.nonEmpty) seen += v
    }
    seen.toSeq
  }

  private def normalizeWs(s: String): String =
    hspace.replaceAllIn(s, " ")
      .split('\n')
      .iterator.map(_.trim).filter(_.nonEmpty)
      .mkString("\n")
}
