package graft.pipeline

import graft.SparkSpec
import graft.mention.Mention
import graft.ops.{AnnOps, TextOps}
import graft.synth.{Synth, SynthConfig}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.functions._

/** Physical-plan assertions — the ".explain and iterate" review frozen
  * as tests, so a regression in join strategy / pushdown / codegen
  * fails CI instead of silently costing a cluster.
  */
class PlanSpec extends SparkSpec {
  import spark.implicits._

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** Every node of a physical plan, descending into AQE's current plan,
    * its query stages and reused exchanges — but not into a cached
    * relation's own plan, which the scan reads instead of running. */
  private def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => a +: planNodes(a.executedPlan)
    case q: QueryStageExec => q +: planNodes(q.plan)
    case r: ReusedExchangeExec => r +: planNodes(r.child)
    case o => o +: o.children.flatMap(planNodes)
  }

  /** The caches an executed plan scans (their builders, compared by
    * identity). */
  private def cacheScans(p: SparkPlan): Seq[AnyRef] =
    planNodes(p).collect { case s: InMemoryTableScanExec => s.relation.cacheBuilder }

  private val sf = "/root/testdata/sf0.001"

  test("mention detection is fully map-side (broadcast trie — no join, no shuffle)") {
    val cfg = SynthConfig(nPages = 50L)
    val ex = spark.createDataset(Seq(graft.model.ExtractedPage(
      "https://p/1", "p", new java.sql.Timestamp(0L), "acme corp text",
      "en", Nil, "")))
    // round 6: the dictionary is a broadcast TRIE probed inside the
    // flatMap — the candidate stream is emitted map-side with no join
    // operator and no exchange at all (the previous explode→broadcast-
    // join shape is retained as detectJoin, asserted below)
    val p = plan(Mention.detect(ex, Synth.aliases(spark, cfg)).toDF())
    p should not include "Exchange"
    p should not include "Join"
    val pj = plan(Mention.detectJoin(ex, Synth.aliases(spark, cfg)).toDF())
    pj should include("BroadcastHashJoin")
    pj should not include "SortMergeJoin"
  }

  test("filter + projection push down to the parquet scan") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .filter($"l_quantity" > 30.0)
      .select($"l_orderkey", $"l_quantity")
    val p = plan(li)
    p should include("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30.0)]")
    // column pruning: the scan must read exactly the two needed columns
    p should include("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>")
  }

  test("brute-force cosine top-k compiles to TakeOrderedAndProject, not a global Sort") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = emb.filter($"vec_id" === 0).head().getAs[Seq[Float]]("embedding").toArray
    val p = plan(AnnOps.bruteForceTopK(emb, "vec_id", "embedding", q, 10))
    p should include("TakeOrderedAndProject")
  }

  test("small-dim enrichment join broadcasts (q05 shape)") {
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    val cust = spark.read.parquet(s"$sf/customer.parquet")
    val j = orders.join(broadcast(cust), $"o_custkey" === $"c_custkey", "left")
    plan(j) should include("BroadcastHashJoin")
  }

  test("text quality features stay inside WholeStageCodegen (no UDF break)") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val q = TextOps.qualityFeatures($"text")
    val df = docs.select(col("doc_id") +: q.map { case (n, c) => c.as(n) }: _*)
    val p = plan(df)
    // '*(n)' prefixes mark WholeStageCodegen stages in the plan string
    p should include("*(1) Project")
    p should not include "BatchEvalPython"
  }

  test("native expressions (shingles/minhash/vec_dot) stay inside WholeStageCodegen") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val sig = docs.select(graft.ops.DedupOps.minhashSigFromShingles(
      graft.ops.DedupOps.shingles(TextOps.tokens($"text"), 3), 8).as("sig"))
    // round 3 left these CodegenFallback: the Project around them fell
    // out of whole-stage codegen ('Project' without the '*(n)' prefix).
    // round 4's doGenCode calls compute() from generated code instead.
    val p1 = plan(sig)
    p1 should include("*(1) Project")
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val p2 = plan(emb.select(
      AnnOps.srpBucket($"embedding", 42L, 8, 64).as("b")))
    p2 should include("*(1) Project")
  }

  test("round-5 codegen tier: path_prefixes/simhash64/lang_id/array_pairs stay inside WholeStageCodegen") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    plan(docs.select(graft.functions.PathPrefixes.path_prefixes(
      concat(lit("https://ex.com/"), $"doc_id")).as("p"))) should include("*(1) Project")
    plan(docs.select(graft.functions.SimHash64.simhash64(
      TextOps.tokens($"text")).as("s"))) should include("*(1) Project")
    plan(docs.select(graft.functions.LangId.lang_id($"text").as("l"))) should
      include("*(1) Project")
    plan(docs.select(graft.functions.ArrayPairs.array_pairs(
      array(xxhash64($"doc_id"), xxhash64($"text"))).as("pr"))) should
      include("*(1) Project")
  }

  test("no interpreted boundary on the flagship emit/enrich hot path (all native exprs codegen)") {
    // the full projections the KG build runs per row/page: every plan
    // line that evaluates one of the native expressions must carry the
    // '*(n)' WholeStageCodegen prefix — an interpreted Project sneaking
    // in would put an eval() boundary on the 10^12-row path
    val native = Seq("path_prefixes", "array_pairs", "minhash_sig",
      "simhash64", "lang_id", "word_shingles", "vec_dot", "percent_decode")
    def assertNoInterpretedNative(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      // execute THIS frame first (collect, not count — count builds its
      // own QueryExecution): under AQE the '*(n)' codegen markers exist
      // only on the FINALIZED plan — pre-execution every Project prints
      // bare and the assert would see false positives
      df.collect()
      // drop AQE's echoed "== Initial Plan ==" section — only the final
      // (executed) operators carry codegen markers
      val lines = plan(df).split("== Initial Plan ==").head.linesIterator.toSeq
      val offenders = lines.filter(l =>
        native.exists(l.contains) &&
          l.contains("Project [") && !l.contains("*("))
      withClue(s"$name interpreted-Project lines:\n${offenders.mkString("\n")}\n") {
        offenders shouldBe empty
      }
    }
    val cfg = SynthConfig(nPages = 50L)
    val g = Pipeline.run(Synth.pages(spark, cfg), Synth.aliases(spark, cfg),
      Synth.sameAs(spark, cfg), cfg.nPages)
    try {
      assertNoInterpretedNative("triples", g.triples.toDF())
      val lt = g.triples.toDF().filter(col("pred") === "links_to")
        .select(col("subj"), col("obj"))
      assertNoInterpretedNative("enriched",
        graft.enrich.Enrich.nodeEnrichment(g.extracted, lt))
    } finally g.unpersist()
  }

  test("pipeline triples read the cached extraction (InMemoryTableScan), not a re-extract") {
    val cfg = SynthConfig(nPages = 50L)
    val g = Pipeline.run(Synth.pages(spark, cfg), Synth.aliases(spark, cfg),
      Synth.sameAs(spark, cfg), cfg.nPages)
    try {
      // triples fans out into 4 branches over extracted/linked/canon; each
      // branch must scan the cache — a SerializeFromObject in the triples
      // plan (outside the cached relation itself) would mean the
      // extraction map runs again per branch. Triples is itself cached,
      // so its live plan is one scan of that cache, and the plan that
      // fills it is the cached relation's own; planNodes does not descend
      // into the nested caches that plan reads.
      val fill = g.triples.toDF().queryExecution.optimizedPlan match {
        case r: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
          planNodes(r.cacheBuilder.cachedPlan)
        case other => fail(s"triples is not cached: $other")
      }
      fill.collect { case s: InMemoryTableScanExec => s } should not be empty
      fill.collect {
        case s: org.apache.spark.sql.execution.SerializeFromObjectExec => s
      } shouldBe empty
    } finally g.unpersist()
  }

  test("emit outputs read the cached triples: nodes and adjacency scan it, adjacency shuffle-free") {
    val cfg = SynthConfig(nPages = 50L)
    val g = Pipeline.run(Synth.pages(spark, cfg), Synth.aliases(spark, cfg),
      Synth.sameAs(spark, cfg), cfg.nPages)
    try {
      g.triples.count()
      // once materialized, triples' own plan is a single scan of its cache
      val own = cacheScans(g.triples.toDF().queryExecution.executedPlan)
      own should have size 1
      // orphan cleanup and adjacency read that cache instead of re-running
      // the four triple branches; plans are read after collect(), so AQE's
      // final plan is the one inspected (same QueryExecution object)
      val nodes = g.nodes.toDF()
      nodes.collect()
      withClue("nodes: ") {
        cacheScans(nodes.queryExecution.executedPlan).exists(_ eq own.head) shouldBe true
      }
      val adj = g.adjacency.toDF()
      adj.collect()
      val adjPlan = adj.queryExecution.executedPlan
      withClue("adjacency: ") {
        cacheScans(adjPlan).exists(_ eq own.head) shouldBe true
        // a plain reorder of distinct triples: no dedup shuffle
        planNodes(adjPlan).collect { case e: ShuffleExchangeExec => e } shouldBe empty
      }
    } finally g.unpersist()
  }

  test("link stage: one candidate-stream exchange, lazy broadcast alias-df, sorts pinned") {
    import graft.model.CandidateRow
    val cands = spark.createDataset(Seq(
      CandidateRow("u1", 0, 1, "acme", 1L, 0.9),
      CandidateRow("u1", 0, 1, "acme", 2L, 0.8),
      CandidateRow("u2", 3, 1, "acme", 1L, 0.9)))
    // round 6: the alias-df table joins in LAZILY via BroadcastExchange
    // (no eager driver collect at plan-construction time), and the
    // candidate stream crosses exactly ONE shuffle — the explicit url
    // repartition — which BOTH consumers share: the streaming alias-df
    // aggregate re-reads it (ReusedExchange at runtime) and ships only
    // dictionary-sized (alias, partial_df) rows across the one other
    // hashpartitioning exchange; the scoring side streams url groups
    // over a within-partition sort with no groupByKey re-shuffle.
    val rdf = graft.link.Link.resolve(cands, 10L).toDF()
    val p = plan(rdf)
    // initial (pre-runtime-dedup) plan: the url exchange subtree prints
    // on both consumers (2×) + the tiny alias partial-agg exchange
    "Exchange hashpartitioning\\(url".r.findAllIn(p).length shouldBe 2
    "Exchange hashpartitioning\\(alias".r.findAllIn(p).length shouldBe 1
    p should include("BroadcastExchange")
    // BOTH streaming passes (alias-df distinct, argmax grouping) are
    // only correct over url-adjacent rows: their Sort must sit directly
    // under the object boundary, where EliminateSorts cannot strip it
    "Sort \\[url#\\d+ ASC NULLS FIRST\\], false".r
      .findAllIn(p).length shouldBe 2
    // and at runtime the two url-exchange subtrees dedup to ONE shuffle
    // (same QueryExecution object: its adaptive plan mutates in place;
    // collect() — not count(), which plans its own execution — drives it)
    rdf.collect()
    val fin = plan(rdf)
    // the executed plan prints Final + Initial sections; in the final
    // section one url-shuffle materializes (ShuffleQueryStage) and the
    // broadcast side reads it back as a ReusedExchange
    fin should include("ReusedExchange")
    "ReusedExchange.*url".r.findAllIn(fin).length should be >= 1
  }

  test("no cartesian anywhere: every query and pipeline plan is NL-join-free") {
    // freezes the plan-audit result: no CartesianProduct and no
    // BroadcastNestedLoopJoin may appear in ANY SparkEntry query plan or
    // in the pipeline's emitted-table plans — a non-equi join sneaking in
    // would be quadratic at scale
    val bad = Seq("CartesianProduct", "BroadcastNestedLoopJoin")
    def assertClean(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val p = plan(df)
      withClue(s"$name: ") { bad.foreach(b => p should not include b) }
    }
    graft.SparkEntry.queries.foreach { case (name, fn) =>
      assertClean(name, fn(spark, sf))
    }
    val cfg = SynthConfig(nPages = 50L)
    val g = Pipeline.run(Synth.pages(spark, cfg), Synth.aliases(spark, cfg),
      Synth.sameAs(spark, cfg), cfg.nPages)
    try {
      assertClean("pipeline.triples", g.triples.toDF())
      assertClean("pipeline.nodes", g.nodes.toDF())
      assertClean("pipeline.adjacency", g.adjacency.toDF())
      val lt = g.triples.toDF().filter(col("pred") === "links_to")
        .select(col("subj"), col("obj"))
      assertClean("pipeline.enriched",
        graft.enrich.Enrich.nodeEnrichment(g.extracted, lt))
    } finally g.unpersist()
  }

  test("url-dedup: extracted records never cross a shuffle (key-width pass)") {
    val cfg = SynthConfig(nPages = 50L)
    // round 5: the winner keys are found in a separate narrow-key pass;
    // round 6: the winner probe is a BROADCAST hash join built executor-
    // side from the checkpointed pass-1 table (no driver HashMap). The
    // RETURNED plan is scan → broadcast winner join → filter → extract
    // → [round-robin parallelism floor on the EXTRACTED rows, ~4×
    // narrower than the html, only when the input grants fewer splits
    // than the task target — never at cluster scale, never keyed]: a
    // BroadcastExchange of the narrow winner keys is expected, but NO
    // key-partitioned exchange — records never cross a KEY shuffle
    // (the old plan shuffled the full ~12 KB rows by url — the
    // measured cluster scaling tail)
    val p = plan(graft.extract.Extract.run(Synth.pages(spark, cfg)).toDF())
    p should not include "Exchange hashpartitioning"
    p should not include "Exchange rangepartitioning"
    p should include("BroadcastHashJoin")
    // the wide-shuffle fallback keeps its map-side combine: partial
    // max_by before the exchange, final after
    val pw = plan(graft.extract.Extract.runWideShuffle(Synth.pages(spark, cfg)).toDF())
    pw.split("Exchange").head should include("max_by")
  }

  test("extracted cache partitions track parallelism, not input file count") {
    // the key-width dedup keeps extraction at scan granularity, so
    // without the coalesce the persisted stage inherits one cache
    // partition per input split — at 4x2 real executor JVMs a 256-file
    // input cost +8.5 s of downstream task dispatch, and at 100 TB it
    // would mean millions of cached partitions. Freeze: many more input
    // files than cores must NOT leak into the cache partition count.
    val dir = java.nio.file.Files.createTempDirectory("graft-cache-parts").toString
    val cfg = SynthConfig(nPages = 120L)
    Synth.pages(spark, cfg).repartition(60).write.mode("overwrite").parquet(dir)
    // one split per file (bin-packing would fold 60 tiny files into a
    // handful of splits and the test would assert nothing): with both
    // the split size and the per-file open cost equal to the largest
    // file, no file is cut and no two files share a split (a smaller
    // split size would cut every file into many splits, each a task)
    val largest = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length()).max
    spark.conf.set("spark.sql.files.maxPartitionBytes", largest.toString)
    spark.conf.set("spark.sql.files.openCostInBytes", largest.toString)
    try {
      val pages = spark.read.parquet(dir).as[graft.model.PageRow]
      assert(pages.rdd.getNumPartitions >= 60)
      val expected = math.max(spark.sparkContext.defaultParallelism * 3,
        spark.sessionState.conf.numShufflePartitions)
      val g = graft.pipeline.Pipeline.run(pages,
        Synth.aliases(spark, cfg), Synth.sameAs(spark, cfg), cfg.nPages)
      try {
        g.extracted.rdd.getNumPartitions shouldBe expected
        g.triples.count() should be > 0L
      } finally g.unpersist()
    } finally {
      spark.conf.unset("spark.sql.files.maxPartitionBytes")
      spark.conf.unset("spark.sql.files.openCostInBytes")
    }
  }
}
