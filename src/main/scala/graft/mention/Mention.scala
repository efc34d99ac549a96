package graft.mention

import java.util.Locale

import graft.model.{AliasRow, CandidateRow, ExtractedPage}
import org.apache.spark.sql.Dataset

/** Stage 2: mention detection + candidate generation.
  *
  * Spec (frozen — the golden oracle depends on it):
  *  - tokens(text) = text.toLowerCase(ROOT).split("[^a-z0-9]+"), empties
  *    dropped;
  *  - every token n-gram of length 1..maxAliasTokens whose space-joined
  *    surface equals a dictionary alias is a mention; overlaps between
  *    mentions are allowed (each match stands alone);
  *  - a mention has one candidate row per dictionary entry of its alias.
  *
  * Execution shape (north_star: "candidate generation via a broadcast
  * alias dictionary"): the dictionary is compiled ONCE into a token-path
  * trie and broadcast; each page walks the trie from every start
  * position, so a candidate costs a hash probe per token instead of a
  * materialized n-gram string + broadcast-hash-join probe (round 6 —
  * the n-gram explode built T×maxLen surface strings per page and was
  * ~60% of the cost of extraction at 2 cores, BENCH/BASELINE.md).
  * MentionLinkSpec fuzz-compares it with the previous
  * explode→broadcast-join shape, MentionReference.detectJoin, same
  * discipline as every scanner rewrite. ≙ reference span-lookup probe
  * (function_span_provider.py:35-82), where the spans dict is the
  * broadcast side.
  */
object Mention {

  /** Hard cap on the broadcast alias dictionary (rows). ~8M rows ≈
    * a few hundred MB broadcast + driver stats — comfortably inside one
    * executor; real entity dictionaries (Wikidata labels ~100M surface
    * forms pruned to linkable heads) land well under this. Over the cap,
    * [[detect]] fails with an actionable error instead of an opaque OOM
    * (the contract is a broadcast-dictionary design, SURVEY.md §2 J2). */
  val MaxDictRows: Int = 8 * 1000 * 1000

  /** Frozen tokenizer, scanner form: maximal runs of [a-z0-9] from the
    * Locale.ROOT-lowercased text. Exactly ≡ the frozen regex form
    * (MentionReference.tokenizeRef in the specs) for EVERY input — the
    * split class is a pure ASCII set, so a direct char test on the same
    * lowercased string cannot disagree with the regex (lowercasing
    * itself stays `String.toLowerCase`: char-by-char
    * Character.toLowerCase would diverge on one-to-many mappings like
    * İ → i+U+0307). MentionLinkSpec fuzz-compares the two — same
    * discipline as the extraction scanners. Scanner because this runs
    * once per PAGE over ~20 KB of text (ClusterPhaseBench: mention
    * detection costs as much as extraction) and per alias row. */
  def tokenize(text: String): Array[String] = {
    val lower = text.toLowerCase(Locale.ROOT)
    val n = lower.length
    val out = new scala.collection.mutable.ArrayBuffer[String](n / 6 + 4)
    var i = 0
    while (i < n) {
      val c = lower.charAt(i)
      if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) {
        val start = i
        i += 1
        while (i < n && {
          val d = lower.charAt(i)
          (d >= 'a' && d <= 'z') || (d >= '0' && d <= '9')
        }) i += 1
        out += lower.substring(start, i)
      } else i += 1
    }
    out.toArray
  }

  def aliasTokenCount(alias: String): Int = tokenize(alias).length

  /** One compiled dictionary entry at a trie terminal: the ORIGINAL
    * dictionary row (alias string kept verbatim — candidates carry it). */
  private[mention] final case class DictEntry(
      alias: String, entityId: Long, prior: Double)

  /** Token-path trie node. Children are keyed by token string; `entries`
    * holds one element per dictionary ROW whose alias equals the
    * space-joined token path to this node — duplicates preserved, so the
    * walk emits exactly one candidate per dict row, as the broadcast
    * join did. Plain java.util.HashMap: built once on the driver,
    * broadcast, probed read-only executor-side. */
  private[mention] final class TrieNode extends Serializable {
    var children: java.util.HashMap[String, TrieNode] = null
    var entries: List[DictEntry] = Nil
    def child(tok: String): TrieNode =
      if (children == null) null else children.get(tok)
  }

  /** Compile dictionary rows into the token-path trie.
    *
    * An alias can equal a space-joined surface iff it IS a sequence of
    * nonempty [a-z0-9]+ segments joined by single spaces — surfaces are
    * built from [[tokenize]] output, which yields exactly such tokens.
    * Any other alias ("Acme", "a  b", "café", "") could never match in
    * the join shape either, so skipping it here is semantics-free (the
    * agreement spec fuzzes this equivalence). */
  private[mention] def buildTrie(rows: Iterable[AliasRow]): TrieNode = {
    val root = new TrieNode
    def matchableSeg(s: String): Boolean =
      s.nonEmpty && s.forall(c => (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9'))
    rows.foreach { a =>
      val segs = a.alias.split(" ", -1)
      if (segs.forall(matchableSeg)) {
        var node = root
        segs.foreach { seg =>
          if (node.children == null)
            node.children = new java.util.HashMap[String, TrieNode](4)
          var nxt = node.children.get(seg)
          if (nxt == null) { nxt = new TrieNode; node.children.put(seg, nxt) }
          node = nxt
        }
        // append preserves dictionary row multiplicity; order of entries
        // within a node is irrelevant (candidate rows are an unordered
        // multiset and the downstream argmax is order-insensitive)
        node.entries = DictEntry(a.alias, a.entity_id, a.prior) :: node.entries
      }
    }
    root
  }

  def detect(
      extracted: Dataset[ExtractedPage],
      dict: Dataset[AliasRow],
      maxDictRows: Int = MaxDictRows): Dataset[CandidateRow] = {
    val spark = extracted.sparkSession
    import spark.implicits._

    // ONE dictionary-sized collect: the dictionary is the broadcast side
    // by contract (J2), so collecting it to compile the trie is the same
    // driver/executor footprint the broadcast hash join already paid.
    // take(cap+1), not collect(): the over-cap case must fail with a
    // diagnosis BEFORE materializing a 100-GB dictionary on the driver.
    val rows = dict.take(maxDictRows + 1)
    if (rows.length > maxDictRows)
      throw new IllegalStateException(
        s"alias dictionary exceeds Mention.MaxDictRows = $maxDictRows rows. " +
          "The linking contract (SURVEY.md §2 J2 / north_star) is a " +
          "BROADCAST dictionary: every executor holds it whole and the " +
          "driver collects per-alias stats. A dictionary this size needs " +
          "the shuffle-join variant instead — partition aliases by first " +
          "token and sort-merge against the n-gram stream — not a silent " +
          "driver/executor OOM here.")
    val root = buildTrie(rows)
    if (root.children == null) return spark.emptyDataset[CandidateRow]
    val trieB = spark.sparkContext.broadcast(root)

    // project to (url, text) BEFORE the typed boundary: the object
    // deserializer otherwise rebuilds the full ExtractedPage (links
    // array, hashes, …) per row just to read two fields
    extracted.select($"url", $"text").as[(String, String)]
      .flatMap { case (url, text) =>
        val toks = tokenize(text)
        val root = trieB.value
        val out = new scala.collection.mutable.ArrayBuffer[CandidateRow]
        var s = 0
        while (s < toks.length) {
          var node = root.child(toks(s))
          var l = 1
          while (node != null) {
            var es = node.entries
            while (es.nonEmpty) {
              val e = es.head
              out += CandidateRow(url, s, l, e.alias, e.entityId, e.prior)
              es = es.tail
            }
            node = if (s + l < toks.length) node.child(toks(s + l)) else null
            l += 1
          }
          s += 1
        }
        out
      }
  }
}
