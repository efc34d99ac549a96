package graft.pipeline

import graft.canon.ConnectedComponents
import graft.emit.Emit
import graft.extract.{Extract, HtmlText}
import graft.link.Link
import graft.mention.Mention
import graft.meta.Snapshot
import graft.model._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** End-to-end KG construction (the Spark shape of the reference's
  * GraphBuilder.build, clangd_graph_rag_builder.py:48-76):
  *
  *   pages ─dedup+extract─► extracted ─detect─► candidates ─link─►
  *   linked ─⋈ canon(CC over sameas)─► triples / nodes / adjacency
  *
  * `run` is the in-memory dataflow (tests, bench); `build` adds the
  * per-stage snapshot/commit/resume protocol with bucketed Parquet
  * (explicit repartitioning by url-hash range, north_rule) + lineage.
  */
object Pipeline {

  /** Stage versions for emitted tables. v2: triples/adjacency moved from
    * flat bucket= to (pred=, bucket=) layout (round 2) and the emit
    * semantics gained the path-section hierarchy + the relates_to
    * per-page cap — outputs committed under emit-v1 must NOT be resumed
    * into (mixed partition trees / stale semantics), so the version
    * string changed with them. */
  val EmitVersion = "emit-v3"
  /** v3 (both): the url-path hierarchy froze its messy-url policy —
    * query strings and fragments are dropped before prefix derivation
    * (Hierarchy.QueryFragRe), so stores committed under v2 may hold
    * SECTION nodes / roll-up parents that v3 never emits. */
  val EnrichVersion = "enrich-v3"

  final case class Graph(
      extracted: Dataset[ExtractedPage],
      linked: Dataset[LinkedMention],
      canon: Dataset[CanonRow],
      triples: Dataset[TripleRow],
      nodes: Dataset[NodeRow],
      adjacency: Dataset[AdjacencyRow],
      pageEntitySets: DataFrame,
      candidates: Dataset[CandidateRow]) {
    /** (url, canon_id) exploded view of [[pageEntitySets]]. */
    def pageEntities: DataFrame = Emit.explodePageEntitySets(pageEntitySets)
    /** Release the caches `run` installed, dependents first: releasing
      * a cache re-plans every not-yet-filled cache built on top of it
      * (Spark's CacheManager), so upstream-first order would re-plan
      * `pageEntitySets` and `triples` once per upstream release. */
    def unpersist(): Unit = {
      triples.unpersist()
      pageEntitySets.unpersist()
      canon.unpersist()
      linked.unpersist()
      candidates.unpersist()
      extracted.unpersist()
    }
  }

  /** In-memory dataflow. Every frame read by more than one consumer is
    * persisted (MEMORY_AND_DISK, filled lazily by the first action that
    * reads it); call `Graph.unpersist()` when done:
    *  - `extracted`: triples, nodes and enrichment all re-read it, and
    *    without a cache each read re-extracts every page (extraction
    *    dominates cost at any scale);
    *  - `candidates`: Link.resolve reads it twice (alias-df broadcast
    *    and the linking pass);
    *  - `linked` and `canon`: Graph outputs that the page-entity sets
    *    re-read (canon also feeds the node table);
    *  - `pageEntitySets`: the mentions and relates_to triple branches;
    *  - `triples`: the output itself, and also the input of orphan
    *    cleanup in `nodes` and of `adjacency` — without the cache each
    *    of those re-runs all four triple branches (the contains distinct,
    *    the links_to semi-join + distinct, the relates_to pair distinct
    *    and the union).
    *
    * @param keepOrphans skip the degree-0 node cleanup (≙ the
    *        reference's --keep-orphans escape hatch,
    *        clangd_graph_rag_builder.py:200-207): canonical entities
    *        nothing mentions stay in the node table. */
  def run(
      pages: Dataset[PageRow],
      aliases: Dataset[AliasRow],
      sameas: Dataset[SameAsEdge],
      nPages: Long,
      keepOrphans: Boolean = false): Graph = {
    val spark = pages.sparkSession
    import spark.implicits._

    // Coalesce to the session's shuffle parallelism before caching: the
    // key-width dedup keeps extraction at SCAN granularity (no shuffle),
    // so without this the cache inherits one partition per input split —
    // at 100 TB that is millions of cached partitions, and every one of
    // the ~6 downstream cache consumers pays per-task dispatch for each
    // (measured: a 256-file input cost the 4×2-executor pipeline +8.5 s
    // vs 64 files purely in downstream task overhead). coalesce() folds
    // the scan into shuffle.partitions read tasks without a shuffle and
    // never increases the count on small inputs.
    // 3 tasks/core (the straggler-smoothing factor BENCH/BASELINE.md
    // measured as the shuffle-partition sweet spot) — a bare 1×-cores
    // coalesce left single-wave extraction whose slowest task gated the
    // whole stage; never below the session's shuffle parallelism.
    val cacheParts = math.max(spark.sparkContext.defaultParallelism * 3,
      spark.sessionState.conf.numShufflePartitions)
    val extracted = Extract.run(pages).coalesce(cacheParts)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // both resolve() reads of candidates happen inside the first action
    // that touches `linked` (round 6 removed the eager driver collect
    // that used to run here)
    val cands = Mention.detect(extracted, aliases)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val linked = Link.resolve(cands, nPages).persist(StorageLevel.MEMORY_AND_DISK)
    val entities = aliases.map(a => java.lang.Long.valueOf(a.entity_id)).distinct()
    val canon = ConnectedComponents.canonMap(entities, sameas)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val pe = Emit.pageEntitySets(linked, canon)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val triples = Emit.triples(extracted, linked, canon, Some(pe))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nodesAll = Emit.nodes(extracted, canon)
    val nodes =
      if (keepOrphans) nodesAll else Emit.dropOrphans(nodesAll, triples)
    Graph(extracted, linked, canon, triples, nodes, Emit.adjacency(triples),
      pe, cands)
  }

  /** Number of url-hash buckets for partitioned table layout. At cluster
    * scale this is sized so one bucket ≈ one comfortable task
    * (e.g. 2^14 buckets for 10^12 docs); locally small. */
  def bucketOf(c: org.apache.spark.sql.Column, nBuckets: Int) =
    pmod(xxhash64(c), lit(nBuckets.toLong))

  /** Global (alias, alias_df) from the per-bucket aliasdf table — exact
    * because urls are bucket-disjoint. */
  def globalAliasDf(aliasdf: DataFrame): DataFrame =
    aliasdf.groupBy(col("alias"))
      .agg(sum(col("df_b")).cast("long").as("alias_df"))

  /** Staged build with checkpoints; every stage resumes from its last
    * committed snapshot (kill-and-resume safe — SURVEY.md §7.6). */
  def build(
      spark: SparkSession,
      pages: Dataset[PageRow],
      aliases: Dataset[AliasRow],
      sameas: Dataset[SameAsEdge],
      nPages: Long,
      outDir: String,
      snapshotId: String,
      nBuckets: Int = 32,
      keepOrphans: Boolean = false): Unit = {
    import spark.implicits._

    val extracted = Snapshot.stage(spark, outDir, "extracted", snapshotId,
      Extract.StageVersion, Seq("bucket")) {
      Extract.run(pages).toDF()
        .withColumn("bucket", bucketOf(col("url"), nBuckets))
        .repartition(col("bucket"))
    }

    // per-url winning html fingerprint — lets the NEXT update diff
    // against stored state instead of re-reading the old corpus
    // (Incremental.updateFromStored). Derived from the committed
    // extracted stage, NOT by re-hashing the input: extraction dedups
    // on the same frozen (warc_ts, xxhash64(html)) key, so
    // extracted.html_xxh64 IS the winning hash — value-identical to
    // Incremental.urlHashes(pages) without a second full corpus scan
    // (the scan+hash was ~12% of the 20k build by lineage wall_ms).
    Snapshot.stage(spark, outDir, "urlhash", snapshotId, "diff-v1",
      Seq("bucket")) {
      extracted.select(col("url"), col("html_xxh64").as("h"), col("bucket"))
    }

    // mention candidates materialized once (≙ the reference's parse
    // caches): url-local and bucket-keyed; reused by the aliasdf and
    // linked stages (detection previously ran twice) and by the
    // incremental updater, whose relink-only buckets read their stored
    // candidates instead of re-detecting
    val candidates = Snapshot.stage(spark, outDir, "candidates", snapshotId,
      "mention-v1", Seq("bucket")) {
      val ex = extracted.drop("bucket").as[ExtractedPage]
      Mention.detect(ex, aliases).toDF()
        .withColumn("bucket", bucketOf(col("url"), nBuckets))
        .repartition(col("bucket"))
    }

    // per-bucket alias document frequency: urls are bucket-disjoint, so
    // the global df is the exact per-bucket sum — the incremental updater
    // maintains this table per dirty bucket and detects which aliases'
    // global df changed (those buckets must relink)
    val aliasdf = Snapshot.stage(spark, outDir, "aliasdf", snapshotId,
      "link-v1", Seq("bucket")) {
      candidates.select(col("bucket"), col("url"), col("alias")).distinct()
        .groupBy(col("bucket"), col("alias"))
        .agg(count(lit(1)).as("df_b"))
        .repartition(col("bucket"))
    }

    val linked = Snapshot.stage(spark, outDir, "linked", snapshotId, "link-v1",
      Seq("bucket")) {
      val cands = candidates.drop("bucket").as[CandidateRow]
      Link.resolve(cands, nPages,
        Some(Link.collectAliasDf(globalAliasDf(aliasdf)))).toDF()
        .withColumn("bucket", bucketOf(col("url"), nBuckets))
        .repartition(col("bucket"))
    }

    val canon = Snapshot.stage(spark, outDir, "canon", snapshotId, "canon-v1") {
      val entities = aliases.map(a => java.lang.Long.valueOf(a.entity_id)).distinct()
      ConnectedComponents.canonMap(entities, sameas).toDF()
    }

    // triples live as one sub-table per predicate, bucketed by subj hash:
    // mentions/links_to are url-local (their partition = the url's
    // bucket), so incremental updates overwrite exactly the dirty
    // (pred, bucket) leaves; queries touching one predicate get partition
    // pruning for free
    // shared by the mentions and relates_to branches inside the triples
    // stage write (run() persists the same frame for the same reason);
    // never materialized at all when the stage resumes from its manifest
    val peShared = Emit.pageEntitySets(
        linked.drop("bucket").as[LinkedMention], canon.as[CanonRow])
      .persist(StorageLevel.MEMORY_AND_DISK)
    val triples = Snapshot.stage(spark, outDir, "triples", snapshotId,
      EmitVersion, Seq("pred", "bucket")) {
      val ex = extracted.drop("bucket").as[ExtractedPage]
      val lk = linked.drop("bucket").as[LinkedMention]
      Emit.triples(ex, lk, canon.as[CanonRow], Some(peShared)).toDF()
        .withColumn("bucket", bucketOf(col("subj"), nBuckets))
        .repartition(col("pred"), col("bucket"))
    }
    peShared.unpersist()

    // partitioned by label so the incremental updater can refresh the
    // one-row PROJECT leaf (snapshot stamp) without rewriting the rest
    Snapshot.stage(spark, outDir, "nodes", snapshotId, EmitVersion,
      Seq("label")) {
      val ex = extracted.drop("bucket").as[ExtractedPage]
      val all = Emit.nodes(ex, canon.as[CanonRow], Some(snapshotId))
      if (keepOrphans) all.toDF()
      else {
        val td = triples.select(col("subj"), col("pred"), col("obj"))
          .as[TripleRow]
        Emit.dropOrphans(all, td).toDF()
      }
    }

    Snapshot.stage(spark, outDir, "adjacency", snapshotId, EmitVersion,
      Seq("pred", "bucket")) {
      val td = triples.select(col("subj"), col("pred"), col("obj")).as[TripleRow]
      Emit.adjacency(td).toDF()
        .withColumn("bucket", bucketOf(col("src"), nBuckets))
        .repartition(col("pred"), col("bucket"))
    }

    // enriched node properties (summary + embedding + neighbor context)
    // — ≙ the reference's RAG pass 7 writing summary/summaryEmbedding
    // onto FUNCTION/FILE/FOLDER/PROJECT nodes. PAGE rows are bucketed by
    // url hash (incrementally maintainable); SITE/PROJECT roll-up rows
    // live in bucket -1.
    Snapshot.stage(spark, outDir, "enriched", snapshotId, EnrichVersion,
      Seq("bucket")) {
      val ex = extracted.drop("bucket").as[ExtractedPage]
      val lt = triples
        .filter(col("pred") === Pred.LinksTo).select(col("subj"), col("obj"))
      graft.enrich.Enrich.nodeEnrichment(ex, lt)
        .withColumn("bucket",
          when(col("label") === lit(graft.model.Label.Page),
            bucketOf(col("node_id"), nBuckets)).otherwise(lit(-1L)))
        .repartition(col("bucket"))
    }

    // ann_ivf: cell-partitioned IVF index over page-CONTENT embeddings
    // (the summary embeddings are fake-constant here, so the content
    // vector is the meaningful index key) — ≙ the reference's persisted
    // vector index (neo4j_manager.py:226-230), as a first-class
    // resumable stage; probes (AnnOps.ivfTopKIndexed) get partition
    // pruning. Map-side embed + cell assignment; one partitioned write.
    graft.ops.AnnOps.buildIvfIndex(spark, outDir,
      pageTextEmbeddings(extracted.drop("bucket").as[ExtractedPage]),
      "id", "emb", snapshotId,
      seed = AnnSeed, nCells = AnnCells, dim = AnnDim)
    ()
  }

  /** IVF codebook parameters of the pipeline's ann_ivf stage (ONE
    * frozen set — they are part of the stage version). */
  val AnnSeed = 42L
  val AnnCells = 16
  val AnnDim = 384

  /** (id = url, emb = content embedding) rows for the ann_ivf stage —
    * deterministic FakeEmbedder over the extracted text (swap for a
    * real embedder; the stage/probe shapes are embedder-agnostic). */
  def pageTextEmbeddings(ex: Dataset[ExtractedPage]): DataFrame = {
    val spark = ex.sparkSession
    import spark.implicits._
    val emb = new graft.enrich.Enrich.FakeEmbedder(AnnDim)
    ex.toDF().select(col("url"), col("text")).as[(String, String)]
      .map { case (u, t) => (u, emb.embed(t)) }
      .toDF("id", "emb")
  }
}
