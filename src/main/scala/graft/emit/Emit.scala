package graft.emit

import graft.model._
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Stage 5: materialize the graph — triple, node, adjacency tables.
  *
  * Triple vocabulary mirrors the reference's edge set (SURVEY.md §7.0):
  * contains ≙ CONTAINS, mentions ≙ DEFINES, links_to ≙ INCLUDES,
  * relates_to ≙ CALLS. Every triple branch is distinct by construction
  * (a distinct, a semi-join + distinct, or an explode of one sorted set
  * per url, each under its own fixed `pred`), so the triple union is
  * distinct on (subj, pred, obj) — the Spark analog of Cypher MERGE
  * idempotency (SURVEY.md Appendix B #5) — and adjacency, a reorder of
  * it, needs no further dedup.
  */
object Emit {

  def entityId(id: Long): String = s"ent:$id"

  /** The single root node above all sites — ≙ the reference's one
    * PROJECT node that anchors root folders and carries the commit hash
    * (clangd_graph_rag_builder.py:112-122,
    * clangd_symbol_nodes_builder.py:440-453). Hierarchy walks that start
    * at the root have an anchor. */
  val RootId = "graft:root"

  /** mentions resolved to canonical entities. The canon map is bounded
    * by the ENTITY VOCABULARY, not the corpus — the same
    * dictionary-sized bound the Mention stage already enforces for its
    * broadcast dictionary (Mention.MaxDictRows; canonMap's input
    * entities come from that dictionary) — so the right join is a
    * BROADCAST of canon (guide §3.1: broadcast the side that fits): the
    * Zipf-skewed mention stream is then never shuffled at all, which
    * dominates any skew mitigation (round 6 replaced a salted shuffle
    * join that exchanged every mention AND exploded canon 32×). */
  def canonicalMentions(
      linked: Dataset[LinkedMention],
      canon: Dataset[CanonRow]): DataFrame =
    linked.toDF().join(broadcast(canon.toDF()), Seq("entity_id"), "inner")

  /** Per-url SORTED-DISTINCT canonical entity ids — ONE url-keyed
    * aggregation shared by the mentions branch (explode) and the
    * relates_to branch (capped pairs). Round 6: the previous shape ran
    * a (url, canon_id) distinct exchange AND a second groupBy(url)
    * exchange inside relatesPairs over the same stream; this folds both
    * into one exchange, and the explode view is distinct by
    * construction. The collect_set buffer is bounded by the page's own
    * distinct-entity count, which is bounded by its token count (same
    * bound relatesPairs always had). */
  def pageEntitySets(
      linked: Dataset[LinkedMention],
      canon: Dataset[CanonRow]): DataFrame =
    canonicalMentions(linked, canon)
      .groupBy(col("url"))
      .agg(array_sort(collect_set(col("canon_id"))).as("es"))

  /** (url, canon_id) exploded view of [[pageEntitySets]] — the distinct
    * page-entity pairs (per-url sets are distinct by construction). */
  def explodePageEntitySets(sets: DataFrame): DataFrame =
    sets.select(col("url"), explode(col("es")).as("canon_id"))

  /** FROZEN relates_to policy: co-mention pairs on a page are generated
    * among at most this many distinct entities — the RelatesCap SMALLEST
    * canon ids on the page (deterministic under any parallelism). A
    * real-web head page (glossary, link farm) can mention thousands of
    * distinct entities; unbounded pairing is E(E−1)/2 rows out of ONE
    * input row in one task (10⁶+ at E=1500) — the cap bounds the fan-out
    * at C(64,2)=2016 pairs per page. The reference never faces this (one
    * TU, bounded symbol count), so the cap is this engine's own policy;
    * NaiveKg and the DuckDB q29 oracle encode the identical rule. */
  val RelatesCap = 64

  /** Distinct (subj, obj) relates_to pairs from the (url, canon_id)
    * page-entity table: per url, sorted-distinct canon ids capped at
    * RelatesCap, pairs generated from the capped ARRAY (never a
    * quadratic self-join — the per-row output is bounded by
    * construction). The collect_set buffer is bounded by the page's own
    * distinct-entity count, which is bounded by its token count. */
  def relatesPairs(perPage: DataFrame): DataFrame = {
    val capped = perPage.groupBy(col("url"))
      .agg(slice(array_sort(collect_set(col("canon_id"))), 1, RelatesCap)
        .as("es"))
    relatesFromCapped(capped.select(col("es")))
  }

  /** relates_to pairs from an already-aggregated per-url entity-set
    * frame ([[pageEntitySets]]) — the pipeline path: no second
    * groupBy(url) over the mention stream. Identical policy: pairs
    * among the RelatesCap SMALLEST canon ids per page. */
  def relatesFromSets(sets: DataFrame): DataFrame =
    relatesFromCapped(sets.select(slice(col("es"), 1, RelatesCap).as("es")))

  private def relatesFromCapped(capped: DataFrame): DataFrame =
    capped
      .select(explode(graft.functions.ArrayPairs.array_pairs(col("es")))
        .as("p"))
      .select(concat(lit("ent:"), col("p.x")).as("subj"),
        concat(lit("ent:"), col("p.y")).as("obj"))
      .distinct()

  /** Built-ins-only reference for ArrayPairs (nested interpreted
    * transforms; spec-pinned equal to the native expression). */
  def pairsHof(es: Column): Column =
    flatten(transform(es, (a, i) =>
      transform(slice(es, i + 2, size(es)),
        b => struct(a.as("x"), b.as("y")))))

  /** @param pageEntitySetsPre optional pre-computed (and ideally
    *        persisted — Pipeline.run/build do) [[pageEntitySets]] frame
    *        so the canon join + url aggregation run once, not once per
    *        consuming branch. */
  def triples(
      extracted: Dataset[ExtractedPage],
      linked: Dataset[LinkedMention],
      canon: Dataset[CanonRow],
      pageEntitySetsPre: Option[DataFrame] = None): Dataset[TripleRow] = {
    val spark = extracted.sparkSession
    import spark.implicits._
    val ex = extracted.toDF()

    // full path hierarchy: root → host → …sections… → page (the FOLDER
    // chain, clangd_symbol_nodes_builder.py:416-424,502-522)
    val contains = Hierarchy.containsEdges(ex.select($"url"))
      .select($"subj", lit(Pred.Contains).as("pred"), $"obj")

    val sets = pageEntitySetsPre.getOrElse(pageEntitySets(linked, canon))

    // per-url sets are distinct by construction — the explode IS the
    // distinct (url, canon_id) stream, no extra exchange
    val mentions = explodePageEntitySets(sets)
      .select($"url".as("subj"), lit(Pred.Mentions).as("pred"),
        concat(lit("ent:"), $"canon_id").as("obj"))

    // links only to pages that exist — the MATCH-must-exist FK semantics
    // of the reference's INCLUDES ingest (neo4j_manager.py:180-205).
    val linksTo = ex.select($"url".as("subj"), explode($"links").as("obj"))
      .join(ex.select($"url".as("obj")), Seq("obj"), "left_semi")
      .distinct()
      .select($"subj", lit(Pred.LinksTo).as("pred"), $"obj")

    // co-mention on a page → relates_to between canonical entities
    // (≙ CALLS: MERGE collapses multi-site pairs to one edge; self-pairs
    // excluded — a page mentioning one entity twice is not a relation).
    val relates = relatesFromSets(sets)
      .select($"subj", lit(Pred.RelatesTo).as("pred"), $"obj")

    contains.union(mentions).union(linksTo)
      .union(relates).as[TripleRow]
  }

  /** Node table BEFORE orphan cleanup. Entity rows cover EVERY canonical
    * entity in the canon map — the reference creates a node per symbol
    * and only afterwards prunes the unreferenced ones (pass 8,
    * clangd_graph_rag_builder.py:200-207, skippable via
    * --keep-orphans) — so `dropOrphans` is a real, separately-skippable
    * pass, not a no-op.
    *
    * @param snapshotId stamped onto the PROJECT root node's props —
    *        ≙ PROJECT.commit_hash (clangd_graph_rag_builder.py:112-122).
    *        None (in-memory runs) stamps nothing. */
  def nodes(
      extracted: Dataset[ExtractedPage],
      canon: Dataset[CanonRow],
      snapshotId: Option[String] = None): Dataset[NodeRow] = {
    val spark = extracted.sparkSession
    import spark.implicits._
    val ex = extracted.toDF()

    val root = rootNode(spark, snapshotId)

    // hosts are SITE, deeper path prefixes SECTION (≙ FOLDER nodes)
    val internals = Hierarchy.internalNodes(ex.select($"url"))
      .filter($"depth" >= 1)
      .select($"node".as("node_id"),
        when($"depth" === 1, Label.Site).otherwise(Label.Section).as("label"),
        map(lit("name"), $"node").as("props"))

    val pages = ex.select($"url".as("node_id"), lit(Label.Page).as("label"),
      map(lit("lang"), $"lang", lit("text_sha256"), $"text_sha256").as("props"))

    val ents = canon.toDF()
      .select(concat(lit("ent:"), $"canon_id").as("node_id")).distinct()
      .select($"node_id", lit(Label.Entity).as("label"),
        map(lit("canon"), $"node_id").as("props"))

    // dropOrphans removes the root again if there are no sites at all
    root.union(internals).union(pages).union(ents).as[NodeRow]
  }

  /** The single PROJECT root row, snapshot-stamped — separable so the
    * incremental updater can refresh ONLY the root's stamp when every
    * other node input is checksum-unchanged. */
  def rootNode(
      spark: org.apache.spark.sql.SparkSession,
      snapshotId: Option[String]): DataFrame = {
    import spark.implicits._
    val rootProps = Map("name" -> "root") ++
      snapshotId.map("snapshot_id" -> _)
    // a LocalRelation DATA row, not lit() over range(1): a foldable
    // node_id would let the optimizer degenerate dropOrphans' semi join
    // into a BroadcastNestedLoopJoin for this union branch after
    // union-pushdown (constant = col is no longer an equi predicate)
    Seq((RootId, Label.Project, rootProps))
      .toDF("node_id", "label", "props")
  }

  /** Degree-0 node cleanup, run last (reference pass 8,
    * clangd_graph_rag_builder.py:200-207) — left_anti against the set of
    * triple endpoints. */
  def dropOrphans(
      nodes: Dataset[NodeRow],
      triples: Dataset[TripleRow]): Dataset[NodeRow] = {
    val spark = nodes.sparkSession
    import spark.implicits._
    val endpoints = triples.toDF()
      .select(explode(array($"subj", $"obj")).as("node_id")).distinct()
    nodes.join(endpoints, Seq("node_id"), "left_semi").as[NodeRow]
  }

  /** Adjacency is the triple table reordered to (src, dst, pred): a
    * narrow projection with no shuffle. Triples are already distinct on
    * (subj, pred, obj) — see the object doc; PipelineSpec pins it — and
    * the incremental updater writes the same shape
    * (Incremental.adjacencyFor). */
  def adjacency(triples: Dataset[TripleRow]): Dataset[AdjacencyRow] = {
    val spark = triples.sparkSession
    import spark.implicits._
    triples.toDF()
      .select(col("subj").as("src"), col("obj").as("dst"), col("pred"))
      .as[AdjacencyRow]
  }
}
