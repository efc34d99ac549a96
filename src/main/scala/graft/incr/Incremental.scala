package graft.incr

import graft.extract.Extract
import graft.link.Link
import graft.mention.Mention
import graft.meta.Snapshot
import graft.model._
import graft.pipeline.Pipeline
import graft.emit.Emit
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental rebuild — the Spark shape of the reference's GraphUpdater
  * (clangd_graph_rag_updater.py:43-82, SURVEY.md §3.2):
  *
  *   snapshot diff (≙ git diff-tree J13) → dirty-scope expansion →
  *   per-bucket dynamic partition OVERWRITE of every url-local table
  *   (≙ purge-stale + rebuild-dirty) → global recompute ONLY of the
  *   tables that are global by nature → stamp the new snapshot id.
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
  * named inputs, so each rebuild is guarded by an order-insensitive
  * checksum of those inputs — candidates unchanged ⇒ aliasdf + linked
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
    val oldH = spark.read.schema(urlhashSchema)
      .parquet(s"$outDir/urlhash/data")
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
    // front and re-stamps them only on completion, so any missing
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

    // urls whose EXISTENCE changed (drives links_to/contains scoping) and
    // urls touched in any way (drives the enriched neighbor scope)
    val changedUrls = d.filter(col("status").isin("added", "deleted"))
      .select(col("url")).localCheckpoint()
    val existenceChanged = force || !changedUrls.isEmpty
    val touchedUrls = d.filter(col("status") =!= "unchanged")
      .select(col("url")).localCheckpoint()

    // mark every stage in-progress BEFORE any data dir is touched: a kill
    // mid-update must not leave old manifests pointing at mixed data
    // (they are re-stamped with the new snapshot id at the end)
    stageVersions.foreach { case (s, _) => Snapshot.invalidate(s"$outDir/$s") }

    val exDir = s"$outDir/extracted/data"
    val adfDir = s"$outDir/aliasdf/data"
    val triplesDir = s"$outDir/triples/data"
    val adjDir = s"$outDir/adjacency/data"
    val enrichedDir = s"$outDir/enriched/data"

    // snapshots of pre-update state this update still needs (collected /
    // eager — all dictionary- or bucket-count-sized). Under force every
    // change short-circuit is disabled AND the pre-state may be partial
    // or even missing (the crash could have struck mid-overwrite), so
    // none of these are read then.
    val zeroCk = (0L, 0L)
    val oldDfMap =
      if (force) Map.empty[String, Long] else collectGlobalAliasDf(spark, adfDir)
    val oldLinksNbrBuckets =
      if (force) Nil
      else nbrBucketsOf(
        readPred(spark, triplesDir, "links_to").select(col("subj"), col("obj")),
        touchedUrls, nBuckets)
    val oldCanonCk =
      if (force) zeroCk
      else checksumOf(
        spark.read.parquet(s"$outDir/canon/data"),
        Seq("entity_id", "canon_id"))

    val candDir = s"$outDir/candidates/data"
    val candValueCols =
      Seq("url", "tok_start", "tok_len", "alias", "entity_id", "prior")
    def candCk(df: DataFrame) = checksumOf(df, candValueCols)
    def linksArrCk(buckets: Seq[Long]) = checksumOf(
      spark.read.parquet(exDir)
        .filter(col("bucket").isin(buckets: _*))
        .select(col("url"), concat_ws("\u0001", col("links")).as("l")),
      Seq("url", "l"))

    // pre-update checksums of what the dirty buckets held — each derived
    // table below is rebuilt ONLY if its actual inputs changed, so e.g.
    // a body-text edit that leaves mentions and links alone touches
    // nothing but extracted/nodes/enriched
    val preCandCk =
      if (force) zeroCk
      else candCk(
        spark.read.schema(candSchema).parquet(candDir)
          .filter(col("bucket").isin(dirty: _*)))
    val preLinksArrCk = if (force) zeroCk else linksArrCk(dirty)
    // node-table props per dirty-bucket page (extraction only changes in
    // dirty buckets, so the dirty-scope checksum decides whether any PAGE
    // node row moved)
    val nodePropCols = Seq("url", "lang", "text_sha256")
    val preNodePropsCk =
      if (force) zeroCk
      else checksumOf(
        spark.read.parquet(exDir).filter(col("bucket").isin(dirty: _*)),
        nodePropCols)

    // ---- extracted: rebuild the FULL dirty buckets from the new
    // snapshot; a bucket is the overwrite unit, and one left with zero
    // urls is deleted outright (stale-partition bug otherwise)
    val inDirty = Pipeline.bucketOf(col("url"), nBuckets).isin(dirty: _*)
    val extractedDirty = Extract.run(newPages.filter(inDirty)).toDF()
      .withColumn("bucket", Pipeline.bucketOf(col("url"), nBuckets))
      .cache()
    overwriteBuckets(spark, extractedDirty, exDir, dirty)
    // while the cache is hot (extractedDirty is unpersisted after the
    // candidates pass)
    val postNodePropsCk = checksumOf(extractedDirty, nodePropCols)

    // ---- candidates (the parse-cache analog): re-detect dirty buckets
    // only; relink-only buckets read their stored candidates later
    val exDirtyDs = extractedDirty.drop("bucket").as[ExtractedPage]
    val candidatesDirty = Mention.detect(exDirtyDs, aliases).toDF()
      .withColumn("bucket", Pipeline.bucketOf(col("url"), nBuckets))
      .cache()
    val candidatesChanged = force || candCk(candidatesDirty) != preCandCk
    if (candidatesChanged) {
      overwriteBuckets(spark, candidatesDirty, candDir, dirty)
      // aliasdf: same dirty buckets (df_b is bucket-local)
      overwriteBuckets(spark, Pipeline.bucketAliasDf(candidatesDirty),
        adfDir, dirty)
    }
    candidatesDirty.unpersist()
    extractedDirty.unpersist()

    // ---- relink scope: dirty ∪ buckets containing a changed-df alias
    val newDfMap =
      if (candidatesChanged) collectGlobalAliasDf(spark, adfDir) else oldDfMap
    val changedAliases = (oldDfMap.keySet ++ newDfMap.keySet)
      .filter(a => oldDfMap.getOrElse(a, 0L) != newDfMap.getOrElse(a, 0L))
    val relink: Seq[Long] =
      if (force) allBuckets // crash-rerun: stale linked rows possible anywhere
      else if (changedAliases.isEmpty) dirty
      else {
        val chDf = changedAliases.toSeq.toDF("alias")
        val extra = readAliasDf(spark, adfDir)
          .join(broadcast(chDf), Seq("alias"), "left_semi")
          .select(col("bucket").cast("long")).distinct()
          .collect().map(_.getLong(0)).toSeq
        (dirty ++ extra).distinct.sorted
      }

    def readExtracted(buckets: Seq[Long]): Dataset[ExtractedPage] =
      spark.read.parquet(exDir)
        .filter(col("bucket").isin(buckets: _*))
        .drop("bucket").as[ExtractedPage]

    // ---- relink against the GLOBAL df (incremental ≡ full rebuild);
    // candidates come from storage — no page is re-tokenized just
    // because some alias's df changed. Skipped entirely when candidates
    // (and hence every df) are byte-identical: linking is a pure
    // function of (candidates, df, nPages).
    val linkedCols =
      Seq("url", "tok_start", "tok_len", "alias", "entity_id", "score")
    val linkedChanged =
      if (!candidatesChanged) false
      else {
        val preLinkedCk =
          if (force) zeroCk // pre-state may be partial or missing
          else checksumOf(
            spark.read.schema(linkedSchema)
              .parquet(s"$outDir/linked/data")
              .filter(col("bucket").isin(relink: _*)), linkedCols)
        val candsRelink = spark.read.schema(candSchema).parquet(candDir)
          .filter(col("bucket").isin(relink: _*))
          .drop("bucket").as[CandidateRow]
        val newLinked =
          Link.resolve(candsRelink, nPages, Some(newDfMap)).toDF()
            .withColumn("bucket", Pipeline.bucketOf(col("url"), nBuckets))
            .localCheckpoint()
        overwriteBuckets(spark, newLinked, s"$outDir/linked/data", relink)
        force || checksumOf(newLinked, linkedCols) != preLinkedCk
      }

    // ---- canon: recompute; a changed map moves mentions/relates rows in
    // every bucket, so compare before deciding the mentions scope
    val canonNew = Pipeline.canonOf(aliases, sameas).toDF().localCheckpoint()
    val canonChanged = force ||
      checksumOf(canonNew, Seq("entity_id", "canon_id")) != oldCanonCk
    canonNew.write.mode(SaveMode.Overwrite).parquet(s"$outDir/canon/data")

    val ex = spark.read.parquet(exDir)
    val canon = spark.read.parquet(s"$outDir/canon/data")

    // each derived table rebuilds only if its inputs changed
    val mentionsNeeded = canonChanged || linkedChanged
    val linksChanged =
      force || existenceChanged || linksArrCk(dirty) != preLinksArrCk

    // ---- triples: pred=mentions (url-local given canon) and
    // pred=relates_to (global by nature: cross-page co-mention dedup),
    // both from ONE page-entity-set frame over the stored linked + canon
    // tables, as Pipeline.build shares it; a pure function of (linked,
    // canon), so skipped when neither changed. Column-pruned, no text.
    val mentionScope: Seq[Long] = if (canonChanged) allBuckets else relink
    // one materialization feeds the mentions and relates_to writes and the
    // orphan-free node table's ENTITY rows; built on first use, after the
    // linked and canon writes above
    lazy val sets = Emit.pageEntitySets(
        spark.read.schema(linkedSchema).parquet(s"$outDir/linked/data")
          .drop("bucket").as[LinkedMention],
        canon.as[CanonRow])
      .localCheckpoint()
    if (mentionsNeeded) {
      overwriteBuckets(spark,
        Emit.mentionsFromSets(sets.filter(
            Pipeline.bucketOf(col("url"), nBuckets).isin(mentionScope: _*)))
          .withColumn("bucket", Pipeline.bucketOf(col("subj"), nBuckets)),
        s"$triplesDir/pred=mentions", mentionScope)
      replaceSubtree(
        Emit.relatesFromSets(sets)
          .withColumn("bucket", Pipeline.bucketOf(col("subj"), nBuckets)),
        s"$triplesDir/pred=relates_to")
    }

    // ---- triples: pred=links_to (validity depends on target existence:
    // the scoped pages' links are checked against the full url set)
    val linkScope: Seq[Long] =
      if (force) allBuckets
      else if (!existenceChanged) dirty
      else {
        // pages holding a link to an added/deleted url
        val affected = Emit.linksTo(ex, changedUrls)
          .select(Pipeline.bucketOf(col("subj"), nBuckets).as("b"))
          .distinct().collect().map(_.getLong(0)).toSeq
        (dirty ++ affected).distinct.sorted
      }
    if (linksChanged) overwriteBuckets(spark,
      Emit.linksTo(ex.filter(col("bucket").isin(linkScope: _*)), ex)
        .withColumn("bucket", Pipeline.bucketOf(col("subj"), nBuckets)),
      s"$triplesDir/pred=links_to", linkScope)

    // ---- triples: pred=contains — only if the url set changed (a
    // changed-only update leaves the hierarchy untouched); the full
    // root→site→sections→page chain derives from a column-pruned url
    // scan, no text
    if (existenceChanged) {
      replaceSubtree(
        graft.emit.Hierarchy.containsEdges(ex.select(col("url")))
          .withColumn("bucket", Pipeline.bucketOf(col("subj"), nBuckets)),
        s"$triplesDir/pred=contains")
    }

    // ---- adjacency mirrors the triples writes 1:1 (each pred sub-table
    // is already distinct on (subj, obj), so adjacency is a reorder)
    def adjacencyFor(pred: String, scope: Option[Seq[Long]]): Unit = {
      val t = readPred(spark, triplesDir, pred)
      val rows = scope.map(bs => t.filter(col("bucket").isin(bs: _*)))
        .getOrElse(t)
        .select(col("subj").as("src"), col("obj").as("dst"), col("bucket"))
      scope match {
        case Some(bs) => overwriteBuckets(spark, rows, s"$adjDir/pred=$pred", bs)
        case None => replaceSubtree(rows, s"$adjDir/pred=$pred")
      }
    }
    if (mentionsNeeded) {
      adjacencyFor("mentions", Some(mentionScope))
      adjacencyFor("relates_to", None)
    }
    if (linksChanged) adjacencyFor("links_to", Some(linkScope))
    if (existenceChanged) adjacencyFor("contains", None)

    // ---- nodes: global but column-pruned (url/props scan + the
    // page-entity sets; no stored triple is read). Skipped when every
    // input is provably unchanged — a same-text re-crawl (html differs,
    // extraction doesn't) rewrites extracted but leaves nodes alone; only
    // the one-row PROJECT leaf is refreshed with the new snapshot stamp
    // (the table is partitioned by label for exactly this).
    val nodesNeeded = force || existenceChanged || canonChanged ||
      mentionsNeeded || linksChanged || postNodePropsCk != preNodePropsCk
    if (nodesNeeded) {
      val exAll = ex.drop("bucket").as[ExtractedPage]
      val out =
        if (keepOrphans)
          Emit.nodes(exAll, canon.as[CanonRow], Some(newSnapshotId)).toDF()
        else Emit.connectedNodes(exAll, sets, Some(newSnapshotId)).toDF()
      out.write.mode(SaveMode.Overwrite).partitionBy("label")
        .parquet(s"$outDir/nodes/data")
    } else withDynamicOverwrite(spark) {
      Emit.rootNode(spark, Some(newSnapshotId))
        .write.mode(SaveMode.Overwrite).partitionBy("label")
        .parquet(s"$outDir/nodes/data")
    }

    // ---- enriched: PAGE rows for dirty ∪ link-neighbor buckets (old and
    // new edges); clean summaries reused, roll-ups from materialized
    // summaries
    val linksToNew = readPred(spark, triplesDir, "links_to")
      .select(col("subj"), col("obj"))
    val enrScope =
      if (force) allBuckets
      else (dirty ++ oldLinksNbrBuckets ++
        nbrBucketsOf(linksToNew, touchedUrls, nBuckets)).distinct.sorted
    // the internal roll-up is a pure function of the PAGE (node_id,
    // summary) leaf set — checksum it before and after the PAGE-row
    // overwrite and skip the roll-up when the leaves are unchanged
    // (covers added/deleted urls too: the leaf SET moves)
    def leafCk() = checksumOf(
      spark.read.parquet(enrichedDir)
        .filter(col("label") === Label.Page)
        .select(col("node_id"), col("summary")),
      Seq("node_id", "summary"))
    val preLeafCk = if (force) zeroCk else leafCk()
    val scopeSums = graft.enrich.Enrich.pageSummaries(readExtracted(enrScope))
    // under force the scope is every bucket, so there are no clean rows
    // to reuse — and the stored table may be partial/missing anyway
    val cleanSums =
      if (force)
        scopeSums.select(col("url"), col("summary")).limit(0)
      else spark.read.parquet(enrichedDir)
        .filter(col("label") === Label.Page &&
          !col("bucket").isin(enrScope: _*))
        .select(col("node_id").as("url"), col("summary"))
    val allSums = scopeSums.select(col("url"), col("summary")).union(cleanSums)
    overwriteBuckets(spark,
      graft.enrich.Enrich.pageNodeRows(scopeSums, linksToNew, Some(allSums))
        .withColumn("bucket", Pipeline.bucketOf(col("node_id"), nBuckets))
        .localCheckpoint(), // sever lineage: reads the table it rewrites
      enrichedDir, enrScope)
    if (force || leafCk() != preLeafCk) {
      // the page's roll-up parent derives from its url alone — no join
      // back to extracted needed
      val leaves = spark.read.parquet(enrichedDir)
        .filter(col("label") === Label.Page)
        .select(col("node_id").as("node"),
          graft.emit.Hierarchy.parentOf(col("node_id")).as("parent"),
          col("summary"))
      val internalRows = graft.enrich.Enrich.internalNodeRows(leaves)
        .withColumn("bucket", lit(-1L)).localCheckpoint()
      withDynamicOverwrite(spark) {
        internalRows.write.mode(SaveMode.Overwrite)
          .partitionBy("bucket").parquet(enrichedDir)
      }
    }

    // ---- ann_ivf: the content-embedding index is a pure function of
    // the page (url, text) set — refreshed when any text or the url set
    // moved (the same postNodePropsCk that drives the PAGE node props),
    // skipped (manifest restamp only) otherwise. CELL-granular: cells
    // are content-derived (an edited page can hop cells), but only the
    // dirty pages' OLD cells and NEW cells change, and the stored rows
    // already carry their embeddings — so the update re-embeds ONLY the
    // dirty pages, reads only the affected cells (partition-pruned;
    // ≤ nCells, collected), and dynamic-overwrites those cell
    // partitions: keep = stored affected-cell rows minus touched ids,
    // plus fresh rows. At 10^12 docs this touches ~|dirty|/|corpus| of
    // the index instead of rebuilding it. Force (crash) rebuilds fully
    // — the stored index is untrusted then.
    val annDir = s"$outDir/ann_ivf/data"
    if (force) {
      graft.ops.AnnOps.buildIvfIndex(spark, outDir,
        Pipeline.pageTextEmbeddings(ex.drop("bucket").as[ExtractedPage]),
        "id", "emb", newSnapshotId,
        seed = Pipeline.AnnSeed, nCells = Pipeline.AnnCells,
        dim = Pipeline.AnnDim)
    } else if (existenceChanged || postNodePropsCk != preNodePropsCk) {
      val freshRows = graft.ops.AnnOps.assignCells(
        Pipeline.pageTextEmbeddings(
          readExtracted(dirty).join(touchedUrls, Seq("url"), "left_semi")
            .as[ExtractedPage]),
        "id", "emb", Pipeline.AnnSeed, Pipeline.AnnCells, Pipeline.AnnDim)
        .localCheckpoint()
      // explicit schema like every other stage read here: a legitimately
      // empty index (zero-page corpus) holds only _SUCCESS and a
      // schema-less read fails with UNABLE_TO_INFER_SCHEMA
      val oldIdx = spark.read.schema(annIvfSchema).parquet(annDir)
      val tid = touchedUrls.withColumnRenamed("url", "id")
      val oldCells = oldIdx.join(tid, Seq("id"), "left_semi")
        .select(col("cell").cast("long")).distinct()
        .collect().map(_.getLong(0)) // bounded by nCells
      val newCells = freshRows.select(col("cell").cast("long")).distinct()
        .collect().map(_.getLong(0))
      val affected = (oldCells ++ newCells).distinct.sorted.toSeq
      if (affected.nonEmpty) {
        val keep = oldIdx.filter(col("cell").isin(affected: _*))
          .join(tid, Seq("id"), "left_anti")
        // overwriteBucketsBy checkpoints first, severing the self-read
        overwriteBucketsBy(spark, keep.unionByName(freshRows),
          annDir, affected, "cell")
      }
    }

    // ---- urlhash: rewritten LAST of all data dirs. It is the diff base
    // of the NEXT update (updateFromStored) — overwriting it earlier
    // would let a crash destroy the old per-url fingerprints while
    // derived tables are still part-old/part-new, making the crashed
    // update unrecoverable (rerun would see an empty diff). With it
    // last, any crash before this point leaves the diff base intact and
    // a rerun redoes the same update (force-mode, see above).
    overwriteBuckets(spark,
      newH.select(col("url"), col("new_h").as("h"))
        .withColumn("bucket", Pipeline.bucketOf(col("url"), nBuckets))
        .filter(col("bucket").isin(dirty: _*)),
      s"$outDir/urlhash/data", dirty)

    // stamp manifests with the new snapshot id (≙ PROJECT.commit_hash
    // stamp, clangd_graph_rag_builder.py:112-122)
    stageVersions.foreach {
      case (stage, v) => Snapshot.stamp(spark, outDir, stage, newSnapshotId, v)
    }
    dirty
  }

  // ------------------------------------------------------------ helpers

  // explicit read schemas: a stage that legitimately holds zero rows
  // (e.g. no mention candidates anywhere) has a _SUCCESS-only data dir,
  // and a schema-less parquet read would fail with UNABLE_TO_INFER_SCHEMA
  private val candSchema =
    org.apache.spark.sql.Encoders.product[CandidateRow].schema
      .add("bucket", org.apache.spark.sql.types.LongType)
  private val linkedSchema =
    org.apache.spark.sql.Encoders.product[LinkedMention].schema
      .add("bucket", org.apache.spark.sql.types.LongType)
  private val aliasdfSchema = new org.apache.spark.sql.types.StructType()
    .add("alias", org.apache.spark.sql.types.StringType)
    .add("df_b", org.apache.spark.sql.types.LongType)
    .add("bucket", org.apache.spark.sql.types.LongType)
  private val urlhashSchema = new org.apache.spark.sql.types.StructType()
    .add("url", org.apache.spark.sql.types.StringType)
    .add("h", org.apache.spark.sql.types.LongType)
    .add("bucket", org.apache.spark.sql.types.LongType)
  private val annIvfSchema = new org.apache.spark.sql.types.StructType()
    .add("id", org.apache.spark.sql.types.StringType)
    .add("emb", org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.FloatType, containsNull = false))
    .add("cell", org.apache.spark.sql.types.IntegerType)

  private def readAliasDf(spark: SparkSession, adfDir: String): DataFrame =
    spark.read.schema(aliasdfSchema).parquet(adfDir)

  private def collectGlobalAliasDf(
      spark: SparkSession, adfDir: String): Map[String, Long] =
    Pipeline.globalAliasDf(readAliasDf(spark, adfDir))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  private def checksumOf(df: DataFrame, cols: Seq[String]): (Long, Long) =
    graft.util.Checksum.of(df, cols)

  /** Read one pred sub-table, tolerating a predicate that has never had
    * any rows: its directory may not exist (partitionBy never creates
    * empty leaves — e.g. a corpus with only external links has no
    * pred=links_to), or may hold only a _SUCCESS marker after an empty
    * rewrite. Returns an empty (subj, obj, bucket) frame then. */
  private def readPred(
      spark: SparkSession, triplesDir: String, pred: String): DataFrame = {
    import spark.implicits._
    val p = new Path(s"$triplesDir/pred=$pred")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hasData = fs.exists(p) && fs.listStatus(p)
      .exists(s => s.isDirectory || s.getPath.getName.endsWith(".parquet"))
    if (hasData) spark.read.parquet(p.toString)
    else Seq.empty[(String, String, Long)].toDF("subj", "obj", "bucket")
  }

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

  /** Dynamic-partition-overwrite `df` (which carries a `bucket` column)
    * into `dir`, then DELETE every `scope` bucket directory that received
    * no rows — a bucket whose rows all vanished must not survive stale. */
  private def overwriteBuckets(
      spark: SparkSession, df: DataFrame, dir: String,
      scope: Seq[Long]): Unit =
    overwriteBucketsBy(spark, df, dir, scope, "bucket")

  /** Same dynamic-partition-overwrite + delete-emptied-partitions
    * protocol over an arbitrary partition column (the ann index
    * partitions by `cell`, everything else by `bucket`). */
  private def overwriteBucketsBy(
      spark: SparkSession, df: DataFrame, dir: String,
      scope: Seq[Long], pcol: String): Unit = {
    val dfc = df.localCheckpoint() // one materialization; severs self-reads
    val written = dfc.select(col(pcol).cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet
    withDynamicOverwrite(spark) {
      dfc.repartition(col(pcol)).write.mode(SaveMode.Overwrite)
        .partitionBy(pcol).parquet(dir)
    }
    scope.filterNot(written).foreach(b => deletePath(spark, s"$dir/$pcol=$b"))
  }

  /** Full replace of one pred sub-table (still bucket-partitioned). */
  private def replaceSubtree(df: DataFrame, dir: String): Unit =
    df.repartition(col("bucket")).write.mode(SaveMode.Overwrite)
      .partitionBy("bucket").parquet(dir)

  private def deletePath(spark: SparkSession, path: String): Unit = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
    ()
  }

  private def withDynamicOverwrite[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "dynamic")
    try body finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
