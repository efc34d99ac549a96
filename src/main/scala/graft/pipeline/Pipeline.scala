package graft.pipeline

import graft.canon.ConnectedComponents
import graft.emit.Emit
import graft.extract.Extract
import graft.link.Link
import graft.mention.Mention
import graft.meta.Snapshot
import graft.model._
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}
import org.apache.spark.storage.StorageLevel

import scala.collection.immutable.ListMap
import scala.reflect.runtime.universe.TypeTag

/** End-to-end KG construction (the Spark shape of the reference's
  * GraphBuilder.build, clangd_graph_rag_builder.py:48-76):
  *
  *   pages ─dedup+extract─► extracted ─detect─► candidates ─link─►
  *   linked ─⋈ canon(CC over sameas)─► triples / nodes / adjacency
  *
  * The chain is written once, in [[chain]]; it takes the way each stage
  * is materialised, and has two drivers: `run` caches the stages that
  * are read again (tests, bench, queries), and `build` commits every
  * stage through the per-stage snapshot/commit/resume protocol with
  * bucketed Parquet (explicit repartitioning by url-hash range,
  * north_rule) + lineage, then adds its build-only side stages. How each
  * committed table is laid out is declared once, in [[Layouts]], which
  * `build` and the incremental updater both read and write through.
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
    * (the Hierarchy Scaladoc), so stores committed under v2 may hold
    * SECTION nodes / roll-up parents that v3 never emits. */
  val EnrichVersion = "enrich-v3"

  /** IVF codebook parameters of the pipeline's ann_ivf stage (ONE
    * frozen set — they are part of the stage version). */
  val AnnSeed = 42L
  val AnnCells = 16
  val AnnDim = 384

  /** The layout of one committed table:
    *  - `version`: its stage version (the manifest's, and the updater's
    *    version guard's);
    *  - `row`: the schema of its rows, with the partition columns they
    *    carry (pred, label, aliasdf's bucket, ann_ivf's cell);
    *  - `parts`: its partition columns, the `bucket` (`cell`) last;
    *  - `bucket`: how a `bucket` the rows do not carry follows from a row
    *    (a url, subj or src hash; enriched's PAGE-or-−1 rule). canon and
    *    nodes have no bucket. */
  final case class Layout(version: String, row: StructType,
      parts: Seq[String] = Nil, bucket: Option[Int => Column] = None) {
    /** The schema a read of the stored files uses. */
    def schema: StructType = bucket.fold(row)(_ => row.add("bucket", LongType))
    /** `rows` with their derived `bucket`. */
    def placed(rows: DataFrame, nBuckets: Int): DataFrame =
      bucket.fold(rows)(b => rows.withColumn("bucket", b(nBuckets)))
    /** `placed` rows as they are written: a table with a bucket (or a
      * cell) is repartitioned by its partition columns. */
    def arranged(placed: DataFrame): DataFrame =
      if (parts.lastOption.exists(Set("bucket", "cell"))) placed.repartition(parts.map(col): _*)
      else placed
  }

  private def hashOf(c: String): Option[Int => Column] = Some(n => bucketOf(col(c), n))
  private def rowOf[T <: Product: TypeTag]: StructType = Encoders.product[T].schema

  /** Every committed stage of `build` with its layout, in build order (the
    * chain, then the side stages). ann_ivf's version is derived from its
    * codebook parameters. */
  val Layouts: ListMap[String, Layout] = ListMap(
    "extracted" -> Layout(Extract.StageVersion, rowOf[ExtractedPage], Seq("bucket"), hashOf("url")),
    "candidates" -> Layout("mention-v1", rowOf[CandidateRow], Seq("bucket"), hashOf("url")),
    "linked" -> Layout("link-v1", rowOf[LinkedMention], Seq("bucket"), hashOf("url")),
    "canon" -> Layout("canon-v1", rowOf[CanonRow]),
    "triples" -> Layout(EmitVersion, rowOf[TripleRow], Seq("pred", "bucket"), hashOf("subj")),
    "nodes" -> Layout(EmitVersion, rowOf[NodeRow], Seq("label")),
    "adjacency" -> Layout(EmitVersion, rowOf[AdjacencyRow], Seq("pred", "bucket"), hashOf("src")),
    "urlhash" -> Layout("diff-v1", StructType.fromDDL("url STRING, h BIGINT"),
      Seq("bucket"), hashOf("url")),
    "aliasdf" -> Layout("link-v1",
      StructType.fromDDL("bucket BIGINT, alias STRING, df_b BIGINT"), Seq("bucket")),
    "enriched" -> Layout(EnrichVersion, StructType.fromDDL("node_id STRING, " +
      "label STRING, summary STRING, summaryEmbedding ARRAY<FLOAT>, " +
      "neighborSummaries ARRAY<STRING>"), Seq("bucket"), Some(n =>
        when(col("label") === lit(Label.Page), bucketOf(col("node_id"), n))
          .otherwise(lit(-1L)))),
    "ann_ivf" -> Layout(graft.ops.AnnOps.ivfVersion(AnnSeed, AnnCells, AnnDim),
      StructType.fromDDL("id STRING, emb ARRAY<FLOAT>, cell INT"), Seq("cell")))

  /** Every committed stage with its version string, in build order. */
  val StageVersions: ListMap[String, String] = Layouts.map { case (s, l) => s -> l.version }

  final case class Graph(
      extracted: Dataset[ExtractedPage],
      linked: Dataset[LinkedMention],
      canon: Dataset[CanonRow],
      triples: Dataset[TripleRow],
      nodes: Dataset[NodeRow],
      adjacency: Dataset[AdjacencyRow],
      pageEntitySets: DataFrame,
      candidates: Dataset[CandidateRow]) {
    /** The caches `run` installs, in dependency order: each reads only
      * the caches before it. */
    def caches: Seq[(String, Dataset[_])] = Seq(
      "extracted" -> extracted, "candidates" -> candidates,
      "linked" -> linked, "canon" -> canon,
      "pageEntitySets" -> pageEntitySets, "triples" -> triples)
    /** Release the caches `run` installed, dependents first: releasing
      * a cache re-plans every not-yet-filled cache built on top of it
      * (Spark's CacheManager), so upstream-first order would re-plan
      * `pageEntitySets` and `triples` once per upstream release. */
    def unpersist(): Unit = caches.reverseIterator.foreach(_._2.unpersist())
  }

  /** How a driver materialises one stage of [[chain]] from its `body`.
    * `reread` marks a stage that later stages or several outputs read. */
  private trait Materialise {
    def apply[T: Encoder](name: String, reread: Boolean)(body: => Dataset[T]): Dataset[T]
  }

  /** The stage chain, the one place it is written. Each stage body runs
    * only if `stage` asks for it (a resumed `build` stage reads its
    * committed table instead). The page-entity sets are cached by both
    * drivers and committed by neither: they feed the mentions and
    * relates_to triple branches and the orphan-free node table, and are
    * never computed when both of those resume.
    *
    * @param stamp the snapshot id stamped on the PROJECT node row. */
  private def chain(
      pages: Dataset[PageRow],
      aliases: Dataset[AliasRow],
      sameas: Dataset[SameAsEdge],
      nPages: Long,
      keepOrphans: Boolean,
      stamp: Option[String])(stage: Materialise): Graph = {
    val spark = pages.sparkSession
    import spark.implicits._
    val extracted = stage("extracted", reread = true)(Extract.run(pages))
    val candidates = stage("candidates", reread = true)(Mention.detect(extracted, aliases))
    val linked = stage("linked", reread = true)(Link.resolve(candidates, nPages))
    val canon = stage("canon", reread = true)(canonOf(aliases, sameas))
    val pe = Emit.pageEntitySets(linked, canon).persist(StorageLevel.MEMORY_AND_DISK)
    // triples live as one sub-table per predicate, bucketed by subj hash:
    // mentions/links_to are url-local (their partition = the url's
    // bucket), so incremental updates overwrite exactly the dirty
    // (pred, bucket) leaves; queries touching one predicate get partition
    // pruning for free
    val triples = stage("triples", reread = true)(
      Emit.triples(extracted, linked, canon, Some(pe)))
    // partitioned by label so the incremental updater can refresh the
    // one-row PROJECT leaf (snapshot stamp) without rewriting the rest
    val nodes = stage("nodes", reread = false)(
      if (keepOrphans) Emit.nodes(extracted, canon, stamp)
      else Emit.connectedNodes(extracted, pe, stamp))
    val adjacency = stage("adjacency", reread = false)(Emit.adjacency(triples))
    Graph(extracted, linked, canon, triples, nodes, adjacency, pe, candidates)
  }

  /** In-memory driver of [[chain]]. Every stage read by more than one
    * consumer is persisted (MEMORY_AND_DISK, filled lazily by the first
    * action that reads it); `nodes` and `adjacency` stay lazy. Call
    * `Graph.unpersist()` when done:
    *  - `extracted`: triples, nodes and enrichment all re-read it, and
    *    without a cache each read re-extracts every page (extraction
    *    dominates cost at any scale);
    *  - `candidates`: Link.resolve reads it twice (alias-df broadcast
    *    and the linking pass);
    *  - `linked` and `canon`: Graph outputs that the page-entity sets
    *    re-read (canon also feeds the `keepOrphans` node table);
    *  - `pageEntitySets`: the mentions and relates_to triple branches,
    *    and the ENTITY rows of the orphan-free node table
    *    (Emit.connectedNodes), which reads no triples;
    *  - `triples`: the output itself, and also the input of `adjacency`
    *    — without the cache adjacency re-runs all four triple branches
    *    (the contains distinct, the links_to semi join, the relates_to
    *    pair distinct and the union).
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
    // (`build` needs none: its bucket repartition sets the layout.)
    val cacheParts = math.max(spark.sparkContext.defaultParallelism * 3,
      spark.sessionState.conf.numShufflePartitions)
    chain(pages, aliases, sameas, nPages, keepOrphans, stamp = None)(new Materialise {
      def apply[T: Encoder](name: String, reread: Boolean)(
          body: => Dataset[T]): Dataset[T] =
        if (!reread) body
        else (if (name == "extracted") body.coalesce(cacheParts) else body)
          .persist(StorageLevel.MEMORY_AND_DISK)
    })
  }

  /** Number of url-hash buckets for partitioned table layout. At cluster
    * scale this is sized so one bucket ≈ one comfortable task
    * (e.g. 2^14 buckets for 10^12 docs); locally small. */
  def bucketOf(c: org.apache.spark.sql.Column, nBuckets: Int) =
    pmod(xxhash64(c), lit(nBuckets.toLong))

  /** Canonical map over every entity of the alias dictionary (identity
    * for entities no same-as edge touches). */
  def canonOf(
      aliases: Dataset[AliasRow],
      sameas: Dataset[SameAsEdge]): Dataset[CanonRow] = {
    val spark = aliases.sparkSession
    import spark.implicits._
    ConnectedComponents.canonMap(
      aliases.map(a => java.lang.Long.valueOf(a.entity_id)).distinct(), sameas)
  }

  /** Per-bucket alias document frequency (bucket, alias, df_b) of the
    * candidates, bucketed by url: urls are bucket-disjoint, so the global
    * df is the exact per-bucket sum ([[globalAliasDf]]) and a bucket's
    * rows change only when its own candidates do. */
  def bucketAliasDf(candidates: DataFrame, nBuckets: Int): DataFrame =
    candidates.select(bucketOf(col("url"), nBuckets).as("bucket"), col("url"),
        col("alias")).distinct()
      .groupBy(col("bucket"), col("alias"))
      .agg(count(lit(1)).as("df_b"))

  /** Global (alias, alias_df) from the per-bucket aliasdf table — exact
    * because urls are bucket-disjoint. */
  def globalAliasDf(aliasdf: DataFrame): DataFrame =
    aliasdf.groupBy(col("alias"))
      .agg(sum(col("df_b")).cast("long").as("alias_df"))

  /** Committed driver of [[chain]]: a staged build with checkpoints,
    * where every stage resumes from its last committed snapshot
    * (kill-and-resume safe — SURVEY.md §7.6). Each stage is committed as
    * its [[Layouts]] entry declares: it gets its derived `bucket`, a
    * bucketed stage is repartitioned by its partition columns, and later
    * stages read the committed table without `bucket`. After the chain
    * come the side stages only the store has. */
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
    def commit(name: String, arrange: Boolean = true)(body: => DataFrame): DataFrame = {
      val l = Layouts(name)
      // a def, evaluated only inside the stage body: a resumed stage runs
      // none of its body's jobs
      def placed = l.placed(body, nBuckets)
      Snapshot.stage(spark, outDir, name, snapshotId, l.version, l.parts)(
        if (arrange) l.arranged(placed) else placed)
    }

    val g = chain(pages, aliases, sameas, nPages, keepOrphans, Some(snapshotId))(
      new Materialise {
        def apply[T: Encoder](name: String, reread: Boolean)(
            body: => Dataset[T]): Dataset[T] =
          commit(name)(body.toDF()).drop("bucket").as[T]
      })
    g.pageEntitySets.unpersist() // the one cache the chain left

    // per-url winning html fingerprint — lets the NEXT update diff
    // against stored state instead of re-reading the old corpus
    // (Incremental.updateFromStored). Derived from the committed
    // extracted stage, NOT by re-hashing the input: extraction dedups
    // on the same frozen (warc_ts, xxhash64(html)) key, so
    // extracted.html_xxh64 IS the winning hash — value-identical to
    // Incremental.urlHashes(pages) without a second full corpus scan
    // (the scan+hash was ~12% of the 20k build by lineage wall_ms). The
    // committed extracted files it reads are one bucket each, so it is
    // written without a repartition.
    commit("urlhash", arrange = false)(g.extracted.select(col("url"), col("html_xxh64").as("h")))

    // per-bucket alias document frequency, for the incremental updater
    // only: it maintains this table per dirty bucket and detects which
    // aliases' global df changed (those buckets must relink). urls are
    // bucket-disjoint, so its per-bucket sum is the df the linked stage
    // derived from the same candidates.
    commit("aliasdf")(bucketAliasDf(g.candidates.toDF(), nBuckets))

    // enriched node properties (summary + embedding + neighbor context)
    // — ≙ the reference's RAG pass 7 writing summary/summaryEmbedding
    // onto FUNCTION/FILE/FOLDER/PROJECT nodes. PAGE rows are bucketed by
    // url hash (incrementally maintainable); SITE/PROJECT roll-up rows
    // live in bucket -1.
    commit("enriched")(graft.enrich.Enrich.nodeEnrichment(g.extracted,
      g.triples.filter(col("pred") === Pred.LinksTo).select(col("subj"), col("obj"))))

    // ann_ivf: cell-partitioned IVF index over page-CONTENT embeddings
    // (the summary embeddings are fake-constant here, so the content
    // vector is the meaningful index key) — ≙ the reference's persisted
    // vector index (neo4j_manager.py:226-230), as a first-class
    // resumable stage; probes (AnnOps.ivfTopKIndexed) get partition
    // pruning. Map-side embed + cell assignment; one partitioned write.
    commit("ann_ivf")(graft.ops.AnnOps.assignCells(pageTextEmbeddings(g.extracted),
      "id", "emb", AnnSeed, AnnCells, AnnDim))
    ()
  }

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
