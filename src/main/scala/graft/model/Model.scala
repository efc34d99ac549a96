package graft.model

import java.sql.Timestamp

/** Row types for the KG-construction pipeline (SURVEY.md §1.2).
  *
  * The input shape matches BASELINE.json `input_hint` exactly:
  * (url, warc_ts, html binary, text, lang). Downstream tables are the
  * Spark-native normalization of the reference's nested dataclasses
  * (reference: clangd_index_yaml_parser.py:30-116) — flat, typed,
  * encoder-friendly.
  */
final case class PageRow(
    url: String,
    warc_ts: Timestamp,
    html: Array[Byte],
    text: String, // null in the input; populated by the extract stage
    lang: String)

/** Output of the deterministic extraction stage (S6 analog).
  * `html_xxh64` carries the source payload's hash across the extract
  * boundary (the html body itself never does) so EVERY downstream
  * keep-latest — batch dedup, snapshot diff, and the streaming sink's
  * cross-micro-batch read — breaks warc_ts ties on the ONE frozen key
  * (warc_ts, xxhash64(html)). Defaulted for hand-built test rows. */
final case class ExtractedPage(
    url: String,
    site: String,
    warc_ts: Timestamp,
    text: String,
    lang: String,
    links: Seq[String],
    text_sha256: String,
    html_xxh64: Long = 0L)

/** One dictionary row: a surface form → candidate entity with a prior.
  * Ambiguous aliases occur as multiple rows (linking fixture). */
final case class AliasRow(alias: String, entity_id: Long, prior: Double)

/** A mention joined with one dictionary candidate. */
final case class CandidateRow(
    url: String, tok_start: Int, tok_len: Int, alias: String,
    entity_id: Long, prior: Double)

/** A mention resolved to its best-scoring entity. */
final case class LinkedMention(
    url: String, tok_start: Int, tok_len: Int, alias: String,
    entity_id: Long, score: Double)

/** Same-as edge between candidate entities (canonicalization input). */
final case class SameAsEdge(src_entity: Long, dst_entity: Long)

/** entity → canonical (min id in its connected component). */
final case class CanonRow(entity_id: Long, canon_id: Long)

/** Emitted triple — the unit correctness is judged on (FIXTURES.md §2.4). */
final case class TripleRow(subj: String, pred: String, obj: String)

final case class NodeRow(node_id: String, label: String, props: Map[String, String])

final case class AdjacencyRow(src: String, dst: String, pred: String)

/** Per-(stage, partition) lineage row (SURVEY.md §7.7; reference analog:
  * update-counter logging, clangd_symbol_nodes_builder.py:152-166). */
final case class LineageRow(
    stage: String,
    snapshot_id: String,
    partition_id: Int,
    input_split: String,
    rows_in: Long,
    rows_out: Long,
    extractor_version: String,
    wall_ms: Long,
    ts: Timestamp)

object Pred {
  val Contains = "contains"   // SITE→PAGE      ≙ (PROJECT|FOLDER)-[:CONTAINS]->
  val Mentions = "mentions"   // PAGE→ENTITY    ≙ (FILE)-[:DEFINES]->
  val LinksTo = "links_to"    // PAGE→PAGE      ≙ (FILE)-[:INCLUDES]->
  val RelatesTo = "relates_to" // ENTITY→ENTITY ≙ (FUNCTION)-[:CALLS]->
}

object Label {
  val Project = "PROJECT" // the single root node ≙ reference PROJECT
  val Site = "SITE"       // url host (hierarchy depth 1)
  val Section = "SECTION" // url path prefix below the host ≙ FOLDER
  val Page = "PAGE"
  val Entity = "ENTITY"
}
