package graft.emit

import graft.model._
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Stage 5: materialize the graph — triple, node, adjacency tables.
  *
  * Triple vocabulary mirrors the reference's edge set (SURVEY.md §7.0):
  * contains ≙ CONTAINS, mentions ≙ DEFINES, links_to ≙ INCLUDES,
  * relates_to ≙ CALLS. Every triple branch is distinct by construction,
  * each under its own fixed `pred`: contains and relates_to end in a
  * distinct; mentions explodes one sorted set per url; links_to
  * explodes one array_distinct link array per url of a url-unique page
  * table. So the triple union is distinct on (subj, pred, obj) — the
  * Spark analog of Cypher MERGE idempotency (SURVEY.md Appendix B #5) —
  * and adjacency, a reorder of it, needs no further dedup.
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
    * relates_to branch (capped pairs), in the full build and the
    * incremental updater alike. Round 6: the previous shape ran a
    * (url, canon_id) distinct exchange AND a second groupBy(url)
    * exchange over the same stream; this folds both into one exchange,
    * and the explode view is distinct by construction. The collect_set
    * buffer is bounded by the page's own distinct-entity count, which is
    * bounded by its token count. */
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

  // ---- per-predicate (subj, obj) tables: `triples` is their union under
  // the fixed pred literals, and the incremental updater writes each one
  // from the same function over its bucket scope

  /** mentions: (page url, canonical entity) from [[pageEntitySets]]. The
    * per-url sets are distinct by construction — the explode IS the
    * distinct (url, canon_id) stream, no extra exchange. */
  def mentionsFromSets(sets: DataFrame): DataFrame =
    explodePageEntitySets(sets)
      .select(col("url").as("subj"),
        concat(lit("ent:"), col("canon_id")).as("obj"))

  /** links_to from `pages` (url, links) to urls present in `urls` — the
    * MATCH-must-exist FK semantics of the reference's INCLUDES ingest
    * (neo4j_manager.py:180-205). `pages` may be any subset of the url
    * set; validity is always checked against the whole of `urls`.
    *
    * Precondition: `pages` holds at most one row per url (and no null
    * url). Every caller passes extracted pages, which Extract dedups by
    * url (and Extract.site fails on a null url), so the array_distinct
    * per row already yields distinct (subj, obj) pairs: no global
    * distinct exchange. The semi join keeps or drops rows, never
    * duplicates them. */
  def linksTo(pages: DataFrame, urls: DataFrame): DataFrame =
    pages.select(col("url").as("subj"),
        explode(array_distinct(col("links"))).as("obj"))
      .join(urls.select(col("url").as("obj")), Seq("obj"), "left_semi")
      .select(col("subj"), col("obj"))

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

  /** relates_to: co-mention on a page → distinct (subj, obj) pairs
    * between canonical entities (≙ CALLS: MERGE collapses multi-site
    * pairs to one edge; self-pairs excluded — a page mentioning one
    * entity twice is not a relation). Pairs come from the RelatesCap-
    * capped sorted ARRAY of [[pageEntitySets]], never a quadratic
    * self-join: the per-row output is bounded by construction. */
  def relatesFromSets(sets: DataFrame): DataFrame =
    sets.select(slice(col("es"), 1, RelatesCap).as("es"))
      .select(explode(graft.functions.ArrayPairs.array_pairs(col("es")))
        .as("p"))
      .select(concat(lit("ent:"), col("p.x")).as("subj"),
        concat(lit("ent:"), col("p.y")).as("obj"))
      .distinct()

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
    val sets = pageEntitySetsPre.getOrElse(pageEntitySets(linked, canon))
    def withPred(pred: String)(edges: DataFrame) =
      edges.select($"subj", lit(pred).as("pred"), $"obj")

    // full path hierarchy: root → host → …sections… → page (the FOLDER
    // chain, clangd_symbol_nodes_builder.py:416-424,502-522)
    val contains =
      withPred(Pred.Contains)(Hierarchy.containsEdges(ex.select($"url")))
    val mentions = withPred(Pred.Mentions)(mentionsFromSets(sets))
    val links = withPred(Pred.LinksTo)(linksTo(ex, ex))
    val relates = withPred(Pred.RelatesTo)(relatesFromSets(sets))

    contains.union(mentions).union(links).union(relates).as[TripleRow]
  }

  /** Node table BEFORE orphan cleanup. Entity rows cover EVERY canonical
    * entity in the canon map — the reference creates a node per symbol
    * and only afterwards prunes the unreferenced ones (pass 8,
    * clangd_graph_rag_builder.py:200-207, skippable via
    * --keep-orphans). This is the `keepOrphans` table; the default
    * orphan-free table is [[connectedNodes]]. perfbench's composed
    * run and build also pass it to [[dropOrphans]].
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
    rootNode(spark, snapshotId)
      .union(hierarchyNodes(ex)).union(pageNodes(ex))
      .union(entityNodes(canon.toDF().select($"canon_id")))
      .as[NodeRow]
  }

  /** The orphan-free node table, built from its sources: the same rows
    * as `dropOrphans(nodes(extracted, canon, snapshotId), triples)`
    * (EmitSpec pins the agreement, props included) without reading the
    * triple set. Every row kept is a triple endpoint by construction:
    *  - the root is the subj of every root → host contains edge, so it
    *    is kept iff some url exists (every url has a host prefix);
    *  - each SITE/SECTION prefix is the obj of a contains edge;
    *  - each page is the obj of its deepest-prefix contains edge;
    *  - an entity is an endpoint iff it is in some page-entity set: the
    *    mentions objs are exactly those ids, and relates_to pairs are
    *    drawn from the same sets.
    * Node-id namespaces are assumed disjoint (an `ent:` id is never a
    * url or path prefix), as they are in the full node table.
    *
    * @param pageEntitySets the [[pageEntitySets]] frame the mentions and
    *        relates_to branches read (persisted by Pipeline.run/build). */
  def connectedNodes(
      extracted: Dataset[ExtractedPage],
      pageEntitySets: DataFrame,
      snapshotId: Option[String] = None): Dataset[NodeRow] = {
    val spark = extracted.sparkSession
    import spark.implicits._
    val ex = extracted.toDF()
    // an uncorrelated EXISTS: planned as a one-row scalar subquery, not
    // a join, so the root row needs no exchange
    val root = rootNode(spark, snapshotId).filter(ex.select($"url").exists())
    root.union(hierarchyNodes(ex)).union(pageNodes(ex))
      .union(entityNodes(explodePageEntitySets(pageEntitySets)
        .select($"canon_id")))
      .as[NodeRow]
  }

  /** SITE rows for hosts, SECTION rows for deeper path prefixes
    * (≙ FOLDER nodes). */
  private def hierarchyNodes(ex: DataFrame): DataFrame =
    Hierarchy.internalNodes(ex.select(col("url")))
      .filter(col("depth") >= 1)
      .select(col("node").as("node_id"),
        when(col("depth") === 1, Label.Site).otherwise(Label.Section)
          .as("label"),
        map(lit("name"), col("node")).as("props"))

  private def pageNodes(ex: DataFrame): DataFrame =
    ex.select(col("url").as("node_id"), lit(Label.Page).as("label"),
      map(lit("lang"), col("lang"), lit("text_sha256"), col("text_sha256"))
        .as("props"))

  /** One ENTITY row per distinct id of a `canon_id` column. */
  private def entityNodes(canonIds: DataFrame): DataFrame =
    canonIds.distinct()
      .select(concat(lit("ent:"), col("canon_id")).as("node_id"))
      .select(col("node_id"), lit(Label.Entity).as("label"),
        map(lit("canon"), col("node_id")).as("props"))

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

  /** Degree-0 node cleanup as the reference runs it, last (pass 8,
    * clangd_graph_rag_builder.py:200-207): a left semi join of `nodes`
    * against the distinct triple endpoints. The pipelines build the
    * orphan-free table directly with [[connectedNodes]]; this literal
    * form is the agreement reference it is checked against. It stays
    * in src/main because perfbench's composed run and build still call
    * it. */
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
    * the incremental updater writes the same shape, each predicate's
    * adjacency rows from the triple rows it commits. */
  def adjacency(triples: Dataset[TripleRow]): Dataset[AdjacencyRow] = {
    val spark = triples.sparkSession
    import spark.implicits._
    triples.toDF()
      .select(col("subj").as("src"), col("obj").as("dst"), col("pred"))
      .as[AdjacencyRow]
  }
}
