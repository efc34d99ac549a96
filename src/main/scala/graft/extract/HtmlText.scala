package graft.extract

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

/** Deterministic HTML → text extraction — THE per-row invariant.
  *
  * BASELINE.json `input_hint`: "byte-identical extracted text per url".
  * This object is the generalized analog of the reference's deterministic
  * clang AST extractor (reference: compilation_parser.py:49-121): a pure
  * function applied inside a typed `Dataset.map`, never `asNondeterministic`.
  *
  * FROZEN POLICY v1 (SURVEY.md §7.4 "byte-identical extraction") — do NOT
  * change any step without bumping VERSION and re-cutting golden hashes:
  *   1. Decode bytes as UTF-8; malformed sequences become U+FFFD
  *      (java.lang.String's standard replacement decode).
  *   2. Strip HTML comments `<!-- ... -->` (non-greedy, dotall).
  *   3. Strip <script>...</script> and <style>...</style> incl. their
  *      content (case-insensitive, non-greedy, dotall).
  *   4. Replace block-level tags (p div br h1-h6 li ul ol tr td th table
  *      title head body html section article header footer blockquote pre,
  *      opening or closing, any attributes) with "\n"; all other tags
  *      with "" (inline).
  *   5. Decode entities: &amp; &lt; &gt; &quot; &apos; &nbsp; and numeric
  *      &#NNN; / &#xHH; (code points rendered via Character.toChars).
  *      &nbsp; decodes to a PLAIN SPACE (0x20), not U+00A0.
  *   6. Whitespace normalization: every run of [ \t\f\u000B\r]+ → one
  *      space; split on '\n'; trim each line; drop empty lines; join
  *      remaining lines with a single '\n'. No trailing newline.
  */
object HtmlText {
  val VERSION = "extractor-v1"

  private val BlockNames: Set[String] = {
    val names = Seq("p", "div", "br", "li", "ul", "ol", "tr", "td", "th",
      "table", "title", "head", "body", "html", "section", "article",
      "header", "footer", "blockquote", "pre") ++ (1 to 6).map(i => s"h$i")
    names.toSet
  }

  /** Step 1 alone, exposed for reuse: UTF-8 replacement decode. */
  def decodeUtf8(bytes: Array[Byte]): String =
    new String(bytes, StandardCharsets.UTF_8)

  def extract(html: Array[Byte]): String = extractFromString(decodeUtf8(html))

  /** Perf note: ALL of steps 2-6 of the frozen v1 policy are
    * implemented as single-pass scanners (excision passes as of round
    * 4, then the fused tag/entity/whitespace passes) -- output
    * byte-identical to the original regex cascade; equivalence is
    * property-tested against the retained reference implementation
    * (HtmlTextEquivalenceSpec) and the golden sha256 fixtures. */
  def extractFromString(raw: String): String =
    scanSteps(exciseSteps(raw))

  /** Steps 2-3 (comment / script-style excision). Both are hand scans
    * as of round 4 — value-identical to the original `(?s)<!--.*?-->` and
    * `(?is)<(script|style)\b[^>]*>.*?</\1\s*>` regex passes, whose
    * reference implementations are retained in test scope
    * (HtmlTextReference) and fuzz-compared (HtmlTextEquivalenceSpec:
    * corpus + 500 adversarial tag-soup cases incl. unterminated
    * openers, nested other-kind openers, case-mixed close tags). */
  private def exciseSteps(raw: String): String =
    stripScriptStyle(stripComments(raw))

  /** Scan equivalent of `(?s)<!--.*?-->` → "": each `<!--` opener
    * excises through the NEAREST following `-->` (non-greedy); an
    * opener with no close survives literally (the regex finds no
    * match). No-comment inputs return the same String instance. */
  private[extract] def stripComments(s: String): String = {
    var i = s.indexOf("<!--")
    if (i < 0) return s
    val sb = new java.lang.StringBuilder(s.length)
    var from = 0
    while (i >= 0) {
      val close = s.indexOf("-->", i + 4)
      if (close < 0) { // unterminated: keep the rest literally
        sb.append(s, from, s.length)
        return sb.toString
      }
      sb.append(s, from, i)
      from = close + 3
      i = s.indexOf("<!--", from)
    }
    sb.append(s, from, s.length)
    sb.toString
  }

  /** Scan equivalent of `(?is)<(script|style)\b[^>]*>.*?</\1\s*>` → "":
    * an opener is `<` + script|style (case-insensitive) + a non-word
    * char boundary + a '>'-free attribute run + '>'; excision runs
    * through the NEAREST following `</same-tag\s*>` (non-greedy,
    * backreference = the opener's own tag). An opener whose close never
    * comes (or that never closes its own '>') survives literally, and
    * scanning continues INSIDE it — a later other-kind opener there
    * still excises, exactly as the regex engine advancing one position
    * on failure. */
  private[extract] def stripScriptStyle(s: String): String = {
    val n = s.length
    def ciAt(i: Int, pat: String): Boolean = {
      if (i + pat.length > n) return false
      var k = 0
      while (k < pat.length) {
        if ((s.charAt(i + k) | 0x20) != pat.charAt(k)) return false
        k += 1
      }
      true
    }
    def isSp(c: Char) =
      c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'
    // nearest close `</tag\s*>` at or after `start`; -1 if none
    def findClose(start: Int, tag: String): Int = {
      var j = s.indexOf('<', start)
      while (j >= 0) {
        if (j + 1 < n && s.charAt(j + 1) == '/' && ciAt(j + 2, tag)) {
          var k = j + 2 + tag.length
          while (k < n && isSp(s.charAt(k))) k += 1
          if (k < n && s.charAt(k) == '>') return k + 1
        }
        j = s.indexOf('<', j + 1)
      }
      -1
    }
    var i = s.indexOf('<')
    if (i < 0) return s
    var sb: java.lang.StringBuilder = null
    var from = 0
    while (i >= 0) {
      val tag =
        if (ciAt(i + 1, "script")) "script"
        else if (ciAt(i + 1, "style")) "style"
        else null
      var next = i + 1
      if (tag != null) {
        val afterName = i + 1 + tag.length
        if (afterName >= n || !isWordChar(s.charAt(afterName))) {
          var g = afterName // the opener's own '>': first '>' (([^>]*>)
          while (g < n && s.charAt(g) != '>') g += 1
          if (g < n) {
            val end = findClose(g + 1, tag)
            if (end >= 0) {
              if (sb == null) sb = new java.lang.StringBuilder(n)
              sb.append(s, from, i)
              from = end
              next = end
            }
          }
        }
      }
      i = s.indexOf('<', next)
    }
    if (sb == null) s
    else { sb.append(s, from, n); sb.toString }
  }

  /** Steps 4-7 (the fused scanners). Implementation detail: the four
    * tag/entity passes run on two ping-pong char buffers (every pass
    * SHRINKS its input, so two n-sized arrays cover the whole cascade)
    * — this halves the memory traffic of the previous
    * one-StringBuilder-and-toString-per-pass shape with byte-identical
    * output (golden sha256 fixtures + the 500-case equivalence fuzz
    * against the retained v1 reference implementation pin it). */
  private def scanSteps(raw: String): String = {
    val n = raw.length
    if (n == 0) return raw
    var src = new Array[Char](n)
    raw.getChars(0, n, src, 0)
    var dst = new Array[Char](n)
    var len = n
    def swap(newLen: Int): Unit = { val t = src; src = dst; dst = t; len = newLen }
    if (idxOfChar(src, 0, len, '<') >= 0) {
      swap(stripBlockTagsArr(src, len, dst))
      if (idxOfChar(src, 0, len, '<') >= 0) swap(stripAnyTagsArr(src, len, dst))
    }
    if (idxOfChar(src, 0, len, '&') >= 0) {
      swap(decodeNamedEntitiesArr(src, len, dst))
      if (idxOfAmpHash(src, len) >= 0) swap(decodeNumericEntitiesArr(src, len, dst))
    }
    swap(normalizeWsArr(src, len, dst))
    new String(src, 0, len)
  }

  private def idxOfChar(a: Array[Char], from: Int, len: Int, c: Char): Int = {
    var i = from
    while (i < len) { if (a(i) == c) return i; i += 1 }
    -1
  }

  private def idxOfAmpHash(a: Array[Char], len: Int): Int = {
    var i = 0
    while (i + 1 < len) { if (a(i) == '&' && a(i + 1) == '#') return i; i += 1 }
    -1
  }

  private def regionIs(a: Array[Char], len: Int, i: Int, pat: String): Boolean = {
    if (i + pat.length > len) return false
    var k = 0
    while (k < pat.length) {
      if (a(i + k) != pat.charAt(k)) return false
      k += 1
    }
    true
  }

  private def isWordChar(ch: Char): Boolean =
    (ch >= 'a' && ch <= 'z') || (ch >= 'A' && ch <= 'Z') ||
      (ch >= '0' && ch <= '9') || ch == '_'

  /** Scan equivalent to the blockTag regex (optional '/', block name,
    * word boundary, anything-but-'>' run, '>'), emitting '\n'. A
    * non-matching '<' advances ONE char (regex does not consume
    * non-matches; a block tag nested inside a malformed tag must still
    * be found). A tag is a block match iff its maximal word-run name is
    * in BlockNames (equivalent to alternative-plus-word-boundary) and a
    * '>' exists. */
  private def stripBlockTagsArr(src: Array[Char], len: Int, dst: Array[Char]): Int = {
    var o = 0
    var i = 0
    while (i < len) {
      val c = src(i)
      if (c != '<') { dst(o) = c; o += 1; i += 1 }
      else {
        var j = i + 1
        if (j < len && src(j) == '/') j += 1
        var k = j
        while (k < len && isWordChar(src(k))) k += 1
        val gt = if (k < len) idxOfChar(src, k, len, '>') else -1
        if (k > j && gt >= 0 &&
          BlockNames.contains(new String(src, j, k - j)
            .toLowerCase(java.util.Locale.ROOT))) {
          dst(o) = '\n'; o += 1; i = gt + 1
        } else { dst(o) = c; o += 1; i += 1 }
      }
    }
    o
  }

  /** Scan equivalent to the anyTag regex: consume '<' to the FIRST '>';
    * a '<' with no later '>' stays literal (regex finds no match). */
  private def stripAnyTagsArr(src: Array[Char], len: Int, dst: Array[Char]): Int = {
    var o = 0
    var i = 0
    while (i < len) {
      val c = src(i)
      if (c != '<') { dst(o) = c; o += 1; i += 1 }
      else {
        val gt = idxOfChar(src, i + 1, len, '>')
        if (gt < 0) { dst(o) = c; o += 1; i += 1 }
        else i = gt + 1
      }
    }
    o
  }

  /** One scan replacing the six sequential .replace passes. Left-to-
    * right single-pass is equivalent: no decoded output creates a new
    * NAMED entity match (the &amp; replacement is '&' and the scan
    * continues after it -- exactly the sequenced-String.replace result
    * with &amp; ordered last). */
  private def decodeNamedEntitiesArr(src: Array[Char], len: Int, dst: Array[Char]): Int = {
    var o = 0
    var i = 0
    while (i < len) {
      val c = src(i)
      if (c != '&') { dst(o) = c; o += 1; i += 1 }
      else if (regionIs(src, len, i + 1, "lt;")) { dst(o) = '<'; o += 1; i += 4 }
      else if (regionIs(src, len, i + 1, "gt;")) { dst(o) = '>'; o += 1; i += 4 }
      else if (regionIs(src, len, i + 1, "quot;")) { dst(o) = '"'; o += 1; i += 6 }
      else if (regionIs(src, len, i + 1, "apos;")) { dst(o) = '\''; o += 1; i += 6 }
      else if (regionIs(src, len, i + 1, "nbsp;")) { dst(o) = ' '; o += 1; i += 6 }
      else if (regionIs(src, len, i + 1, "amp;")) { dst(o) = '&'; o += 1; i += 5 }
      else { dst(o) = c; o += 1; i += 1 }
    }
    o
  }

  /** One scan == the `&#(x[0-9a-fA-F]+|[0-9]+);` regex pass (lowercase
    * 'x' only, as in v1). Invalid code points -> U+FFFD. Digit strings
    * overflowing Int yield U+FFFD (v1 threw NumberFormatException --
    * the one deliberate divergence: decode must not crash on garbage). */
  private def decodeNumericEntitiesArr(src: Array[Char], len: Int, dst: Array[Char]): Int = {
    var o = 0
    var i = 0
    while (i < len) {
      val c = src(i)
      if (c != '&' || i + 1 >= len || src(i + 1) != '#') {
        dst(o) = c; o += 1; i += 1
      } else {
        val j = i + 2
        val hexMode = j < len && src(j) == 'x'
        val digitsStart = if (hexMode) j + 1 else j
        var k = digitsStart
        var cp = 0L
        var overflow = false
        var run = true
        while (run && k < len) {
          val ch = src(k)
          val d =
            if (ch >= '0' && ch <= '9') ch - '0'
            else if (hexMode && ch >= 'a' && ch <= 'f') ch - 'a' + 10
            else if (hexMode && ch >= 'A' && ch <= 'F') ch - 'A' + 10
            else -1
          if (d < 0) run = false
          else {
            cp = cp * (if (hexMode) 16 else 10) + d
            if (cp > Int.MaxValue) { overflow = true; cp = 0 } // keep consuming digits
            k += 1
          }
        }
        if (k > digitsStart && k < len && src(k) == ';') {
          val v = if (overflow) -1 else cp.toInt
          if (v >= 0 && Character.isValidCodePoint(v)) {
            if (v <= 0xFFFF) { dst(o) = v.toChar; o += 1 }
            else {
              dst(o) = Character.highSurrogate(v)
              dst(o + 1) = Character.lowSurrogate(v)
              o += 2
            }
          } else { dst(o) = '\uFFFD'; o += 1 }
          i = k + 1
        } else { dst(o) = c; o += 1; i += 1 }
      }
    }
    o
  }

  /** One scan replacing hspace-regex + split + trim + filter + join.
    * Policy: runs of [ \t\f\u000B\r] -> one space; lines trimmed with
    * String.trim semantics (strip chars <= 0x20 at both ends); empty
    * lines dropped; '\n' joins; no trailing newline. Uses a dedicated
    * line buffer (trim must look at a whole line before committing). */
  private def normalizeWsArr(src: Array[Char], len: Int, dst: Array[Char]): Int = {
    var o = 0 // committed output length
    val line = new Array[Char](len)
    var ll = 0
    def isH(ch: Char) = ch == ' ' || ch == '\t' || ch == '\f' || ch == '\u000B' || ch == '\r'
    def flush(): Unit = {
      var a = 0
      var b = ll
      while (a < b && line(a) <= ' ') a += 1
      while (b > a && line(b - 1) <= ' ') b -= 1
      if (b > a) {
        if (o > 0) { dst(o) = '\n'; o += 1 }
        System.arraycopy(line, a, dst, o, b - a)
        o += b - a
      }
      ll = 0
    }
    var i = 0
    while (i < len) {
      val c = src(i)
      if (c == '\n') { flush(); i += 1 }
      else if (isH(c)) {
        line(ll) = ' '; ll += 1
        i += 1
        while (i < len && isH(src(i))) i += 1
      } else { line(ll) = c; ll += 1; i += 1 }
    }
    flush()
    o
  }

  /** Outgoing links: ordered, de-duplicated href="..." / href='...' values.
    * (≙ include-edge extraction, reference: compilation_parser.py:106-111)
    *
    * Single-pass scanner, value-identical to the regex reference
    * (HtmlTextReference.extractLinksRef in the specs) INCLUDING its
    * backtracking semantics, which are part of the frozen v1 policy:
    *  - `<a\b`: 'a'/'A' followed by a non-word char;
    *  - `[^>]*\bhref`: the RIGHTMOST word-boundary "href" before the
    *    tag's first '>' wins (greedy + backtrack), falling back left
    *    when its `\s*=\s*("…"|'…')` suffix does not complete;
    *  - the quoted VALUE may contain '>' (only the pre-href run is
    *    '>'-free), and scanning resumes after the closing quote.
    * Equivalence is fuzz-pinned (LinkExtractEquivalenceSpec) and the
    * fixture goldens cover the corpus shapes. */
  def extractLinks(html: Array[Byte]): Seq[String] =
    extractLinksFromString(decodeUtf8(html))

  def extractLinksFromString(s: String): Seq[String] = {
    val n = s.length
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    def wordCh(c: Char) = isWordChar(c)
    def isSp(c: Char) = // Java regex \s (ASCII)
      c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'
    def hrefAt(p: Int): Boolean =
      (s.charAt(p) | 0x20) == 'h' && (s.charAt(p + 1) | 0x20) == 'r' &&
        (s.charAt(p + 2) | 0x20) == 'e' && (s.charAt(p + 3) | 0x20) == 'f'
    var i = 0
    while (i + 1 < n) {
      if (s.charAt(i) == '<' && (s.charAt(i + 1) | 0x20) == 'a' &&
        (i + 2 >= n || !wordCh(s.charAt(i + 2)))) {
        // first '>' bounds the [^>]* run the href must live in
        var gt = i + 2
        while (gt < n && s.charAt(gt) != '>') gt += 1
        // greedy backtracking: try candidates RIGHT-to-left
        var p = math.min(gt, n) - 4
        var matchedEnd = -1
        var value: String = null
        while (matchedEnd < 0 && p >= i + 3) {
          if (hrefAt(p) && !wordCh(s.charAt(p - 1))) {
            var k = p + 4
            while (k < n && isSp(s.charAt(k))) k += 1
            if (k < n && s.charAt(k) == '=') {
              k += 1
              while (k < n && isSp(s.charAt(k))) k += 1
              if (k < n && (s.charAt(k) == '"' || s.charAt(k) == '\'')) {
                val q = s.indexOf(s.charAt(k), k + 1)
                if (q >= 0) { value = s.substring(k + 1, q); matchedEnd = q + 1 }
              }
            }
          }
          p -= 1
        }
        if (matchedEnd >= 0) {
          if (value.nonEmpty) seen += value
          i = matchedEnd
        } else i += 1
      } else i += 1
    }
    seen.toSeq
  }

  /** Lowercase-hex SHA-256 of the extracted text's UTF-8 bytes —
    * the hash the invariant tests compare (FIXTURES.md §2.4 text_hashes). */
  def sha256Hex(text: String): String = {
    val d = MessageDigest.getInstance("SHA-256")
      .digest(text.getBytes(StandardCharsets.UTF_8))
    d.map("%02x".format(_)).mkString
  }
}
