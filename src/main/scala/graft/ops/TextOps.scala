package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline, built from
  * codegen'd `org.apache.spark.sql.functions` only (no UDFs on the hot
  * path) so predicates/projections stay inside WholeStageCodegen and
  * push down to the scan.
  */
object TextOps {

  /** Whitespace tokens of a document. Mirrors DuckDB
    * regexp_split_to_array(trim(x), '\s+') for oracle parity. */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  def tokenCount(text: Column): Column = size(tokens(text)).cast("long")

  /** BPE-ish subword count estimate: word tokens plus extra splits at
    * letter/digit boundaries and every 8 chars of long words — a cheap,
    * deterministic proxy for tokenizer load estimation. */
  def subwordCountEstimate(text: Column): Column = {
    val words = tokens(text)
    aggregate(
      transform(words, w => greatest(lit(1L), ceil(length(w) / lit(8.0)).cast("long"))),
      lit(0L), (acc, x) => acc + x)
  }

  /** BPE-ish regex piece count: word / number / punctuation-run pieces
    * with an attached leading space — the GPT-2-style pre-tokenizer
    * shape, restricted to RE2-safe syntax (no lookahead) so the SAME
    * pattern runs in Spark (Java regex) and DuckDB (RE2) for the oracle.
    * A deterministic proxy for tokenizer load estimation. */
  val BpePiecePattern = " ?\\p{L}+| ?\\p{N}+| ?[^\\p{L}\\p{N}\\s]+"

  def bpePieceCount(text: Column): Column =
    regexp_count(text, lit(BpePiecePattern)).cast("long")

  /** Document fingerprint: md5 of the first k tokens re-joined — a
    * prefix fingerprint for coarse clustering (md5 is identical across
    * engines, so it is oracle-checkable). */
  def prefixFingerprint(text: Column, k: Int): Column =
    md5(concat_ws(" ", slice(tokens(text), 1, k)).cast("binary"))

  /** Winnowing fingerprints (Schleimer et al., "Winnowing: Local
    * Algorithms for Document Fingerprinting", SIGMOD'03): positional
    * token k-gram hashes, minimum per sliding window of `w`, distinct +
    * sorted. Guarantees any shared run of >= w+k-1 tokens yields a
    * shared fingerprint — the rolling-hash dedup primitive. md5-string
    * hashes keep it portable across engines (same trick as minhash).
    * Pure column expressions — whole-stage codegen, no UDF. */
  def winnowingFingerprints(text: Column, k: Int, w: Int): Column = {
    val t = tokens(text)
    val n = size(t)
    val grams = when(n >= k,
      transform(sequence(lit(0), n - k),
        i => md5(concat_ws(" ", slice(t, i + 1, lit(k))).cast("binary"))))
      .otherwise(array().cast("array<string>"))
    val m = size(grams)
    val mins = when(m >= w,
      transform(sequence(lit(0), m - w),
        j => array_min(slice(grams, j + 1, lit(w)))))
      .otherwise(when(m > 0, array(array_min(grams)))
        .otherwise(array().cast("array<string>")))
    array_sort(array_distinct(mins))
  }

  /** Language-ID marker words (tiny deterministic n-gram heuristic).
    * Order of the CASE fallthrough is part of the spec: en,de,fr,es. */
  val Markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "a"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "fr" -> Seq("le", "la", "et", "les", "des"),
    "es" -> Seq("el", "los", "las", "una", "del"))

  /** Predicted language: argmax of marker counts, ties broken by the
    * Markers order, zero matches → "und". Native single-scan expression
    * (graft.functions.LangId); the specs pin it equal to the regex shape
    * it replaced, OpsReference.langIdSql. */
  def langId(text: Column): Column =
    graft.functions.LangId.lang_id(text)

  /** Quality features: token count, lexical diversity, chars/token,
    * stop-punctuation density. All exact integer/ratio arithmetic. */
  def qualityFeatures(text: Column): Seq[(String, Column)] = {
    val t = tokens(text)
    val n = size(t).cast("long")
    val d = size(array_distinct(t)).cast("long")
    Seq(
      "n_tokens" -> n,
      "n_distinct" -> d,
      "diversity" -> round(d.cast("double") / n, 6),
      "chars_per_token" -> round(length(trim(text)).cast("double") / n, 6))
  }
}
