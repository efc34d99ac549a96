package graft.incr

import graft.extract.Extract
import graft.link.Link
import graft.mention.Mention
import graft.meta.Snapshot
import graft.model._
import graft.pipeline.Pipeline
import graft.emit.Emit
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

import scala.collection.mutable

/** Incremental rebuild — the Spark shape of the reference's GraphUpdater
  * (clangd_graph_rag_updater.py:43-82, SURVEY.md §3.2):
  *
  *   snapshot diff (≙ git diff-tree J13) → dirty-scope expansion →
  *   per-bucket dynamic partition OVERWRITE of every url-local table
  *   (≙ purge-stale + rebuild-dirty) → global recompute ONLY of the
  *   tables that are global by nature → record every table under the
  *   new snapshot id.
  *
  * Scope discipline (what is rebuilt, and why it equals a full rebuild):
  *  - extracted / aliasdf: the dirty url-hash buckets only (extraction is
  *    strictly url-local). Buckets whose urls all vanished have their
  *    partition directories DELETED, not left stale.
  *  - linked: dirty buckets ∪ every bucket containing an alias whose
  *    GLOBAL document frequency changed — a mention's winner depends only
  *    on its own alias's df plus url-local support, so pages none of
  *    whose aliases changed df score identically (the per-bucket aliasdf
  *    table makes both the global df and the affected-bucket lookup
  *    exact). Relinks score against the corpus-wide df, never the
  *    dirty-scope df.
  *  - triples/adjacency live as one sub-table per predicate, bucketed by
  *    subj hash. Each predicate is built by the Emit function the full
  *    build unions in Emit.triples (contains by Hierarchy.containsEdges),
  *    applied to the update's scope: mentions (url-local given canon)
  *    rebuild per relink bucket — or globally when the canon map changed
  *    (checksum-compared); links_to rebuilds for dirty buckets ∪ buckets
  *    linking to an added/deleted url (edge validity depends on target
  *    existence, checked against the full url set); contains rebuilds
  *    only when the url set changed; relates_to is global by nature
  *    (cross-page co-mention dedup). mentions and relates_to share one
  *    Emit.pageEntitySets frame over column-pruned linked + canon — no
  *    html/text is ever re-read.
  *  - enriched: PAGE rows rebuild for dirty buckets ∪ link-neighbor
  *    buckets (old and new edges — context summaries read neighbors);
  *    clean pages' summaries are REUSED from the stored table, so no
  *    clean text is re-summarized; SITE/PROJECT roll-ups recompute from
  *    the materialized page summaries (pruned scan, no text).
  *
  * Change short-circuits: every derived table is a pure function of
  * named inputs, and every commit compares its new rows with what its
  * scope held (per partition, order-insensitive row hashes) and writes
  * nothing when they agree — candidates unchanged ⇒ aliasdf + linked
  * skipped; (linked, canon) unchanged ⇒ mentions + relates_to + their
  * adjacency skipped; (link arrays, url set) unchanged ⇒ links_to
  * skipped; page (url, lang, text_sha256) props unchanged on top of all
  * that ⇒ nodes skipped (only the PROJECT root's snapshot stamp is
  * refreshed — the nodes table is partitioned by label so the root is a
  * one-row leaf); PAGE (node_id, summary) leaves unchanged ⇒ the
  * internal enrichment roll-up skipped. A body-text edit that touches no
  * mention and no link rewrites only extracted, nodes and enriched PAGE
  * rows; an extraction-invariant html edit (comment/script-only)
  * rewrites only extracted.
  *
  * Layout: where each table lives, how it is partitioned and bucketed
  * and what its rows are is declared once, in `Pipeline.Layouts`, which
  * `Pipeline.build` commits through too; every read and write here goes
  * through it (the private `Store`).
  *
  * `nPages` is the score-normalization constant and must equal the value
  * used at full-build time; changing it rescales every idf and requires a
  * full relink (pass a fresh full build instead).
  */
object Incremental {

  /** Per-url winning html hash — the dedup winner's fingerprint, without
    * shuffling html bodies: map-side partial max_by moves only
    * (url, ts, hash) tuples across the wire. The staged build persists
    * this as the `urlhash` stage so updates never need the OLD corpus
    * (one scan of the new snapshot, not two). */
  def urlHashes(p: Dataset[PageRow], out: String = "h"): DataFrame =
    p.toDF()
      .select(col("url"), col("warc_ts"), xxhash64(col("html")).as("h0"))
      .groupBy(col("url"))
      .agg(max_by(col("h0"), struct(col("warc_ts"), col("h0"))).as(out))

  /** Snapshot diff on url: added / deleted / changed / unchanged,
    * comparing per-url winning hashes. */
  def diffHashes(oldH: DataFrame, newH: DataFrame): DataFrame =
    oldH.join(newH, Seq("url"), "full_outer")
      .select(col("url"),
        when(col("old_h").isNull, lit("added"))
          .when(col("new_h").isNull, lit("deleted"))
          .when(col("old_h") =!= col("new_h"), lit("changed"))
          .otherwise(lit("unchanged")).as("status"))

  /** Snapshot diff from the two page tables (hashes both sides). */
  def diff(oldPages: Dataset[PageRow], newPages: Dataset[PageRow]): DataFrame =
    diffHashes(urlHashes(oldPages, "old_h"), urlHashes(newPages, "new_h"))

  /** Buckets containing any non-unchanged url (collected — bucket count
    * is small and bounded, e.g. 2^14 at cluster scale). */
  def dirtyBuckets(d: DataFrame, nBuckets: Int): Seq[Long] =
    d.filter(col("status") =!= "unchanged")
      .select(Pipeline.bucketOf(col("url"), nBuckets).as("bucket"))
      .distinct().collect().map(_.getLong(0)).toSeq.sorted

  /** Incrementally update a `Pipeline.build` output directory in place,
    * diffing the new snapshot against the provided OLD page table.
    * Returns the dirty bucket list (empty → nothing to do). */
  def update(
      spark: SparkSession,
      oldPages: Dataset[PageRow],
      newPages: Dataset[PageRow],
      aliases: Dataset[AliasRow],
      sameas: Dataset[SameAsEdge],
      nPages: Long,
      outDir: String,
      newSnapshotId: String,
      nBuckets: Int = 32,
      keepOrphans: Boolean = false): Seq[Long] =
    updateCore(spark, urlHashes(oldPages, "old_h"), newPages, aliases,
      sameas, nPages, outDir, newSnapshotId, nBuckets, keepOrphans)

  /** Incrementally update WITHOUT the old corpus: the diff runs against
    * the `urlhash` stage the build persisted — one scan of the new
    * snapshot instead of two, and the previous snapshot's pages need not
    * exist anymore (the production shape: old WARC drops age out). */
  def updateFromStored(
      spark: SparkSession,
      newPages: Dataset[PageRow],
      aliases: Dataset[AliasRow],
      sameas: Dataset[SameAsEdge],
      nPages: Long,
      outDir: String,
      newSnapshotId: String,
      nBuckets: Int = 32,
      keepOrphans: Boolean = false): Seq[Long] = {
    val oldH = new Store(spark, outDir, nBuckets, force = false).read("urlhash")
      .select(col("url"), col("h").as("old_h"))
    updateCore(spark, oldH, newPages, aliases, sameas, nPages, outDir,
      newSnapshotId, nBuckets, keepOrphans)
  }

  private def updateCore(
      spark: SparkSession,
      oldH: DataFrame, // (url, old_h)
      newPages: Dataset[PageRow],
      aliases: Dataset[AliasRow],
      sameas: Dataset[SameAsEdge],
      nPages: Long,
      outDir: String,
      newSnapshotId: String,
      nBuckets: Int,
      keepOrphans: Boolean): Seq[Long] = {
    import spark.implicits._

    // localCheckpoint (eager), NOT cache: these frames' lineage reads the
    // urlhash parquet (stored path) and other stage dirs this update
    // overwrites — a cache-block loss at cluster scale would recompute
    // from the rewritten files (FileNotFound or a silently wrong diff).
    // Checkpointing materializes NOW and severs the lineage; block loss
    // then fails the job loudly instead.
    val newH = urlHashes(newPages, "new_h").localCheckpoint()
    val d = diffHashes(oldH, newH).localCheckpoint()
    val dirtyActual = dirtyBuckets(d, nBuckets)

    // crash detection: a prior update invalidates every manifest up
    // front and records them again only on completion, so any missing
    // manifest means a previous run died mid-update and the derived
    // tables may be part-old/part-new. The change short-circuits below
    // compare against that mixed pre-state, so they are all DISABLED and
    // EVERY table — extraction included — rebuilds over full scope from
    // the new snapshot (the urlhash stage is rewritten LAST, so the diff
    // base survives any crash point before it, but the crashed run's
    // partial extracted overwrites need not be dirty vs THIS run's
    // snapshot, hence the full extraction scope).
    val stageVersions = Pipeline.StageVersions
    // version guard (mirrors Snapshot.stage's (snapshotId, version)
    // match): a manifest committed under a DIFFERENT stage version means
    // the stored table carries old semantics or an old schema — an
    // in-place update would treat it as valid pre-state and then
    // re-stamp it with the new version string, silently corrupting the
    // store (e.g. an extracted table without html_xxh64, or a flat
    // site→url contains layout kept because the url set is unchanged).
    val mismatched = stageVersions.flatMap { case (s, v) =>
      Snapshot.readManifest(s"$outDir/$s").collect {
        case m if m.version != v => s"$s (committed ${m.version}, expected $v)"
      }
    }
    if (mismatched.nonEmpty) throw new IllegalStateException(
      s"$outDir was committed under different stage versions than this " +
        s"updater expects: ${mismatched.mkString(", ")}. Old-version " +
        "tables may carry old schemas/semantics that an in-place update " +
        "would silently bake in — run a full Pipeline.build.")
    val force = stageVersions
      .exists { case (s, _) => Snapshot.readManifest(s"$outDir/$s").isEmpty }
    if (dirtyActual.isEmpty && !force) return dirtyActual
    val allBuckets: Seq[Long] = (0L until nBuckets.toLong).toSeq
    // crash recovery must widen the EXTRACTION/overwrite scope too, not
    // just the derived rebuilds: the crashed run may have overwritten
    // buckets with its snapshot's extracted rows that are NOT dirty
    // versus this run's snapshot (url reverted, or a rerun against a
    // different snapshot) — a diff-scoped rewrite would bake that
    // residue into every globally rebuilt derived table and the final
    // urlhash stamp would hide it forever. Full scope from newPages
    // reconciles any crash point against ANY new snapshot (this also
    // makes the empty-diff crash rerun a real recovery, not an error).
    val dirty = if (force) allBuckets else dirtyActual
    val store = new Store(spark, outDir, nBuckets, force)
    def in(buckets: Seq[Long]): Scope = Seq("bucket" -> buckets)

    // urls whose EXISTENCE changed (drives links_to/contains scoping) and
    // urls touched in any way (drives the enriched neighbor scope)
    val changedUrls = d.filter(col("status").isin("added", "deleted"))
      .select(col("url")).localCheckpoint()
    val existenceChanged = force || !changedUrls.isEmpty
    val touchedUrls = d.filter(col("status") =!= "unchanged")
      .select(col("url")).localCheckpoint()

    // mark every stage in-progress BEFORE any data dir is touched: a kill
    // mid-update must not leave old manifests pointing at mixed data
    // (they are recorded under the new snapshot id at the end)
    stageVersions.foreach { case (s, _) => Snapshot.invalidate(s"$outDir/$s") }

    // snapshots of pre-update state this update still needs (collected —
    // dictionary- or bucket-count-sized). Under force the pre-state may
    // be partial or even missing, so neither is read then.
    def globalDf() = Link.collectAliasDf(Pipeline.globalAliasDf(store.read("aliasdf")))
    def linksTo() = store.read("triples").filter(col("pred") === Pred.LinksTo)
      .select(col("subj"), col("obj"))
    val oldDfMap = if (force) Map.empty[String, Long] else globalDf()
    val oldLinksNbrBuckets =
      if (force) Nil else nbrBucketsOf(linksTo(), touchedUrls, nBuckets)

    // ---- extracted: rebuild the FULL dirty buckets from the new
    // snapshot; a bucket is the overwrite unit, and one left with zero
    // urls is deleted outright (stale-partition bug otherwise). The
    // commit also reports whether the node-table props and the link
    // arrays of the dirty pages moved.
    val inDirty = Pipeline.bucketOf(col("url"), nBuckets).isin(dirty: _*)
    val ex = store.commit("extracted", in(dirty), Seq("url", "lang", "text_sha256"),
      Seq("url", "links"))(Extract.run(newPages.filter(inDirty)).toDF())
    val Seq(propsChanged, linkArraysChanged) = ex.watched

    // ---- candidates (the parse-cache analog): re-detect dirty buckets
    // only; relink-only buckets read their stored candidates later.
    // aliasdf: same dirty buckets (df_b is bucket-local)
    val cands = store.commit("candidates", in(dirty))(
      Mention.detect(ex.rows.as[ExtractedPage], aliases).toDF())
    if (cands.changed)
      store.commit("aliasdf", in(dirty))(Pipeline.bucketAliasDf(cands.rows, nBuckets))

    // ---- relink scope: dirty ∪ buckets containing a changed-df alias
    val newDfMap = if (cands.changed) globalDf() else oldDfMap
    val changedAliases = (oldDfMap.keySet ++ newDfMap.keySet)
      .filter(a => oldDfMap.getOrElse(a, 0L) != newDfMap.getOrElse(a, 0L))
    val relink: Seq[Long] =
      if (force) allBuckets // crash-rerun: stale linked rows possible anywhere
      else if (changedAliases.isEmpty) dirty
      else {
        val extra = store.read("aliasdf")
          .join(broadcast(changedAliases.toSeq.toDF("alias")), Seq("alias"), "left_semi")
          .select(col("bucket")).distinct().collect().map(_.getLong(0)).toSeq
        (dirty ++ extra).distinct.sorted
      }

    // ---- relink against the GLOBAL df (incremental ≡ full rebuild);
    // candidates come from storage — no page is re-tokenized just
    // because some alias's df changed. Skipped entirely when candidates
    // (and hence every df) are byte-identical: linking is a pure
    // function of (candidates, df, nPages).
    val linkedChanged = cands.changed && store.commit("linked", in(relink))(
      Link.resolve(store.read("candidates", in(relink)).as[CandidateRow], nPages,
        Some(newDfMap)).toDF()).changed

    // ---- canon: recompute; a changed map moves mentions/relates rows in
    // every bucket, so compare before deciding the mentions scope
    val canon = store.commit("canon", Nil)(Pipeline.canonOf(aliases, sameas).toDF())
    val exAll = store.read("extracted")

    // each derived table rebuilds only if its inputs changed
    val mentionsNeeded = canon.changed || linkedChanged
    val linksChanged = force || existenceChanged || linkArraysChanged

    // ---- triples + adjacency: pred=mentions (url-local given canon) and
    // pred=relates_to (global by nature: cross-page co-mention dedup),
    // both from ONE page-entity-set frame over the stored linked table
    // and the canon map, as Pipeline.build shares it; a pure function of
    // (linked, canon), so skipped when neither changed. Column-pruned, no
    // text.
    val mentionScope: Seq[Long] = if (canon.changed) allBuckets else relink
    // one materialization feeds the mentions and relates_to writes and the
    // orphan-free node table's ENTITY rows; built on first use, after the
    // linked and canon writes above
    lazy val sets = Emit.pageEntitySets(store.read("linked").as[LinkedMention],
      canon.rows.as[CanonRow]).localCheckpoint()
    if (mentionsNeeded) {
      store.commitEdges(Pred.Mentions, mentionScope)(Emit.mentionsFromSets(
        sets.filter(Pipeline.bucketOf(col("url"), nBuckets).isin(mentionScope: _*))))
      store.commitEdges(Pred.RelatesTo, allBuckets)(Emit.relatesFromSets(sets))
    }

    // ---- pred=links_to (validity depends on target existence: the
    // scoped pages' links are checked against the full url set)
    val linkScope: Seq[Long] =
      if (force) allBuckets
      else if (!existenceChanged) dirty
      else {
        // pages holding a link to an added/deleted url
        val affected = Emit.linksTo(exAll, changedUrls)
          .select(Pipeline.bucketOf(col("subj"), nBuckets).as("b"))
          .distinct().collect().map(_.getLong(0)).toSeq
        (dirty ++ affected).distinct.sorted
      }
    if (linksChanged) store.commitEdges(Pred.LinksTo, linkScope)(
      Emit.linksTo(store.read("extracted", in(linkScope)), exAll))

    // ---- pred=contains — only if the url set changed (a changed-only
    // update leaves the hierarchy untouched); the full
    // root→site→sections→page chain derives from a column-pruned url
    // scan, no text
    if (existenceChanged) store.commitEdges(Pred.Contains, allBuckets)(
      graft.emit.Hierarchy.containsEdges(exAll.select(col("url"))))

    // ---- nodes: global but column-pruned (url/props scan + the
    // page-entity sets; no stored triple is read). Skipped when every
    // input is provably unchanged — a same-text re-crawl (html differs,
    // extraction doesn't) rewrites extracted but leaves nodes alone; only
    // the one-row PROJECT leaf is refreshed with the new snapshot stamp
    // (the table is partitioned by label for exactly this).
    val nodesNeeded = force || existenceChanged || canon.changed ||
      mentionsNeeded || linksChanged || propsChanged
    if (nodesNeeded) {
      val exPages = exAll.as[ExtractedPage]
      store.commit("nodes", Nil)(
        if (keepOrphans) Emit.nodes(exPages, canon.rows.as[CanonRow], Some(newSnapshotId)).toDF()
        else Emit.connectedNodes(exPages, sets, Some(newSnapshotId)).toDF())
    } else store.commit("nodes", Seq("label" -> Seq(Label.Project)))(
      Emit.rootNode(spark, Some(newSnapshotId)))

    // ---- enriched: PAGE rows for dirty ∪ link-neighbor buckets (old and
    // new edges); clean summaries reused, roll-ups from materialized
    // summaries
    val linksToNew = linksTo()
    val enrScope =
      if (force) allBuckets
      else (dirty ++ oldLinksNbrBuckets ++
        nbrBucketsOf(linksToNew, touchedUrls, nBuckets)).distinct.sorted
    val scopeSums = graft.enrich.Enrich.pageSummaries(
      store.read("extracted", in(enrScope)).as[ExtractedPage])
    // PAGE rows live in the url buckets, the roll-ups in bucket -1
    val cleanSums = store.read("enriched", in(allBuckets.diff(enrScope)))
      .select(col("node_id").as("url"), col("summary"))
    val allSums = scopeSums.select(col("url"), col("summary")).union(cleanSums)
    // the internal roll-up is a pure function of the PAGE (node_id,
    // summary) leaf set — skipped when the leaves are unchanged (covers
    // added/deleted urls too: the leaf SET moves)
    val pageRows = store.commit("enriched", in(enrScope), Seq("node_id", "summary"))(
      graft.enrich.Enrich.pageNodeRows(scopeSums, linksToNew, Some(allSums)))
    if (pageRows.watched.head) {
      // the page's roll-up parent derives from its url alone — no join
      // back to extracted needed
      val leaves = store.read("enriched").filter(col("label") === Label.Page)
        .select(col("node_id").as("node"),
          graft.emit.Hierarchy.parentOf(col("node_id")).as("parent"),
          col("summary"))
      store.commit("enriched", in(Seq(-1L)))(graft.enrich.Enrich.internalNodeRows(leaves))
    }

    // ---- ann_ivf: the content-embedding index is a pure function of
    // the page (url, text) set — refreshed when any text or the url set
    // moved (the same props change that drives the PAGE node rows),
    // skipped (recorded only) otherwise. CELL-granular: cells
    // are content-derived (an edited page can hop cells), but only the
    // dirty pages' OLD cells and NEW cells change, and the stored rows
    // already carry their embeddings — so the update re-embeds ONLY the
    // dirty pages, reads only the affected cells (partition-pruned;
    // ≤ nCells, collected), and overwrites those cell partitions: keep =
    // stored affected-cell rows minus touched ids, plus fresh rows. At
    // 10^12 docs this touches ~|dirty|/|corpus| of the index instead of
    // rebuilding it. Force (crash) rebuilds every cell from every page —
    // the stored index is untrusted then.
    if (force || existenceChanged || propsChanged) {
      val pages =
        if (force) exAll
        else store.read("extracted", in(dirty)).join(touchedUrls, Seq("url"), "left_semi")
      val fresh = graft.ops.AnnOps.assignCells(
        Pipeline.pageTextEmbeddings(pages.as[ExtractedPage]),
        "id", "emb", Pipeline.AnnSeed, Pipeline.AnnCells, Pipeline.AnnDim)
        .localCheckpoint()
      def cellsOf(df: DataFrame) = // bounded by nCells
        df.select(col("cell")).distinct().collect().map(_.getInt(0)).toSeq
      val tid = touchedUrls.withColumnRenamed("url", "id")
      val cells =
        if (force) 0 until Pipeline.AnnCells
        else (cellsOf(store.read("ann_ivf").join(tid, Seq("id"), "left_semi")) ++
          cellsOf(fresh)).distinct.sorted
      val scope = Seq("cell" -> cells)
      if (cells.nonEmpty) store.commit("ann_ivf", scope)(
        if (force) fresh
        else store.read("ann_ivf", scope).join(tid, Seq("id"), "left_anti").unionByName(fresh))
    }

    // ---- urlhash: rewritten LAST of all data dirs. It is the diff base
    // of the NEXT update (updateFromStored) — overwriting it earlier
    // would let a crash destroy the old per-url fingerprints while
    // derived tables are still part-old/part-new, making the crashed
    // update unrecoverable (rerun would see an empty diff). With it
    // last, any crash before this point leaves the diff base intact and
    // a rerun redoes the same update (force-mode, see above).
    store.commit("urlhash", in(dirty))(newH.select(col("url"), col("new_h").as("h")))

    // record every stage under the new snapshot id (≙ PROJECT.commit_hash
    // stamp, clangd_graph_rag_builder.py:112-122)
    store.record(newSnapshotId)
    dirty
  }

  // ------------------------------------------------------------ helpers

  /** The partitions a read or commit covers (`Snapshot.Scope`). */
  private type Scope = Snapshot.Scope

  /** Buckets of link-neighbors (either direction) of `urls`. */
  private def nbrBucketsOf(
      links: DataFrame, urls: DataFrame, nBuckets: Int): Seq[Long] =
    links.join(urls.withColumnRenamed("url", "subj"), Seq("subj"), "left_semi")
      .select(col("obj").as("u"))
      .union(links
        .join(urls.withColumnRenamed("url", "obj"), Seq("obj"), "left_semi")
        .select(col("subj").as("u")))
      .select(Pipeline.bucketOf(col("u"), nBuckets).as("b")).distinct()
      .collect().map(_.getLong(0)).toSeq

  /** Rows of a scoped commit: `placed` (checkpointed, with their
    * derived bucket) and `rows` (without it), the partitions they fill,
    * and whether they differ from what the scope held — over all
    * columns, and over each watched column list. */
  private final case class Staged(placed: DataFrame, rows: DataFrame,
      scope: Scope, filled: Set[Seq[Any]], changed: Boolean, watched: Seq[Boolean])

  /** The updater's one way into and out of a `Pipeline.build` store: its
    * tables are read and committed as `Pipeline.Layouts` declares them,
    * replaced with `Snapshot.replace` and recorded with `Snapshot.record`.
    * Under `force` (a crashed update) the stored scopes are untrusted: no
    * commit compares against them, and every commit counts as a change. */
  private final class Store(
      spark: SparkSession, outDir: String, nBuckets: Int, force: Boolean) {
    private def dir(stage: String) = s"$outDir/$stage/data"
    /** Wall ms of the commits that rewrote each stage. */
    private val wallMs = mutable.Map.empty[String, Long].withDefaultValue(0L)
    private def within(scope: Scope): Column =
      scope.map { case (c, vs) => col(c).isin(vs: _*) }.foldLeft(lit(true))(_ && _)
    private def stored(stage: String, scope: Scope): DataFrame =
      spark.read.schema(Pipeline.Layouts(stage).schema).parquet(dir(stage))
        .filter(within(scope))
    private def unplaced(stage: String, df: DataFrame): DataFrame =
      if (Pipeline.Layouts(stage).bucket.isEmpty) df else df.drop("bucket")

    /** The rows `scope` of `stage` holds, without a derived `bucket`. A
      * declared schema reads an empty table too (its data dir holds only
      * _SUCCESS, or no leaf of a partition never written). */
    def read(stage: String, scope: Scope = Nil): DataFrame =
      unplaced(stage, stored(stage, scope))

    /** Commits `rows` (without a derived `bucket`) to `scope` of `stage`:
      * places them, keeps those inside the scope, checkpoints them once
      * and compares them per partition with what the scope holds. If they
      * differ, the scope is overwritten — dynamically, partition by
      * partition, and the scope partitions that got no rows are deleted;
      * the whole table for the empty scope. */
    def commit(stage: String, scope: Scope, watch: Seq[String]*)(
        rows: => DataFrame): Staged = {
      val t0 = System.nanoTime()
      val s = staged(stage, scope, watch)(rows)
      if (s.changed) replace(stage, s, t0)
      s
    }

    /** Commits the (subj, obj) edges of `pred` to `buckets` of the
      * triples table and, from the same checkpointed rows, of its mirror,
      * the adjacency table (bucketed by src = subj). */
    def commitEdges(pred: String, buckets: Seq[Long])(edges: => DataFrame): Unit = {
      val s = commit("triples", Seq("pred" -> Seq(pred), "bucket" -> buckets))(
        edges.select(col("subj"), lit(pred).as("pred"), col("obj")))
      if (s.changed) replace("adjacency", s.copy(placed = s.placed.select(col("subj").as("src"),
        col("obj").as("dst"), col("pred"), col("bucket"))), System.nanoTime())
    }

    /** Records every declared stage under `snapshotId` (`Snapshot.record`):
      * its rows per lineage partition, counted over the stored tables in
      * one job that reads only partition columns, and the wall of the
      * commits that rewrote it in this update (0 if none did). */
    def record(snapshotId: String): Unit = {
      val counted = Pipeline.Layouts.map { case (stage, l) =>
        stored(stage, Nil).select(lit(stage).as("stage"),
          Snapshot.lineagePartition(l.parts).as("pid"))
      }.reduce(_ union _).groupBy(col("stage"), col("pid")).count().collect()
        .groupMap(_.getString(0))(r => r.getInt(1) -> r.getLong(2)).withDefaultValue(Array.empty)
      Snapshot.record(spark, outDir, snapshotId, Pipeline.Layouts.map { case (stage, l) =>
        Snapshot.Commit(stage, l.version, l.parts, counted(stage).toMap, wallMs(stage))
      }.toSeq)
    }

    private def staged(stage: String, scope: Scope, watch: Seq[Seq[String]])(
        rows: DataFrame): Staged = {
      val l = Pipeline.Layouts(stage)
      val placed = l.placed(rows, nBuckets).filter(within(scope)).localCheckpoint()
      val sets = l.row.fieldNames.toSeq +: watch
      def hashable(c: String) = l.row(c).dataType match {
        case _: MapType => array_sort(map_entries(col(c))) // maps do not hash
        case _ => col(c)
      }
      def hashed(df: DataFrame, side: Int) = df.select(lit(side).as("side") +:
        (l.parts.map(col) ++ sets.map(cs => xxhash64(cs.map(hashable): _*))): _*)
        .toDF(("side" +: l.parts) ++ sets.indices.map(i => s"h$i"): _*)
      val both = if (force) hashed(placed, 1)
        else hashed(placed, 1).union(hashed(stored(stage, scope), 0))
      // one job: per side and partition, the row count and an xor of row
      // hashes for each column list (Checksum.of, grouped by partition)
      val got = both.groupBy(("side" +: l.parts).map(col): _*)
        .agg(count(lit(1)), sets.indices.map(i => bit_xor(col(s"h$i"))): _*)
        .collect().map(_.toSeq).groupBy(_.head).withDefaultValue(Array.empty)
      val nParts = l.parts.size
      def sums(side: Int, i: Int) = got(side).map(r =>
        r.slice(1, 1 + nParts) -> (r(1 + nParts), r(2 + nParts + i))).toMap
      val diffs = sets.indices.map(i => force || sums(0, i) != sums(1, i))
      Staged(placed, unplaced(stage, placed), scope, sums(1, 0).keySet,
        diffs.head, diffs.tail)
    }

    private def replace(stage: String, s: Staged, t0: Long): Unit = {
      val l = Pipeline.Layouts(stage)
      Snapshot.replace(l.arranged(s.placed), dir(stage), l.parts, s.scope, s.filled)
      wallMs(stage) += (System.nanoTime() - t0) / 1000000L
    }
  }
}
