package graft.pipeline

import graft.{NaiveKg, SparkSpec}
import graft.synth.{Synth, SynthConfig}

/** End-to-end golden compare: distributed pipeline vs the independent
  * sequential oracle (NaiveKg). The bar is P/R ≥ 0.95 vs reference
  * semantics (BASELINE.json); on the deterministic fixture we demand
  * exactly 1.0 (SURVEY.md §5 layer 3).
  */
class PipelineSpec extends SparkSpec {
  private val cfg = SynthConfig(seed = 42L, nPages = 300L, nSites = 7, nEntities = 60)

  private lazy val graph = Pipeline.run(
    Synth.pages(spark, cfg),
    Synth.aliases(spark, cfg),
    Synth.sameAs(spark, cfg),
    cfg.nPages)

  private lazy val golden = NaiveKg.build(
    Synth.pageRowsLocal(cfg), Synth.aliasRows(cfg), Synth.sameAsEdges(cfg), cfg.nPages)

  test("triples match the golden set exactly (P = R = 1.0)") {
    val got = graph.triples.collect().map(t => (t.subj, t.pred, t.obj)).toSet
    val missing = golden.triples -- got
    val extra = got -- golden.triples
    withClue(s"missing=${missing.take(5)} extra=${extra.take(5)}: ") {
      missing shouldBe empty
      extra shouldBe empty
    }
    got.size shouldBe golden.triples.size
  }

  test("messy-url adversarial corpus: P = R = 1.0 and no query/fragment SECTION nodes") {
    // every 5th page's url carries a query string or fragment with
    // EMBEDDED SLASHES — the frozen policy (everything from the first
    // '?'/'#' is not path) must hold end-to-end, not just in the q35
    // oracle. NaiveKg re-derives the policy independently (regex shape).
    val mcfg = cfg.copy(messyUrlEvery = 5)
    val urls = Synth.pageRowsLocal(mcfg).map(_.url)
    urls.count(u => u.contains("?") || u.contains("#")) should be >= 50
    urls.count(u => u.replaceFirst("^https://", "")
      .dropWhile(c => c != '?' && c != '#').contains("/")) should be >= 50

    val g = Pipeline.run(Synth.pages(spark, mcfg), Synth.aliases(spark, mcfg),
      Synth.sameAs(spark, mcfg), mcfg.nPages)
    try {
      val gold = NaiveKg.build(Synth.pageRowsLocal(mcfg), Synth.aliasRows(mcfg),
        Synth.sameAsEdges(mcfg), mcfg.nPages)
      val got = g.triples.collect().map(t => (t.subj, t.pred, t.obj)).toSet
      val missing = gold.triples -- got
      val extra = got -- gold.triples
      withClue(s"missing=${missing.take(5)} extra=${extra.take(5)}: ") {
        missing shouldBe empty
        extra shouldBe empty
      }
      // no SECTION/SITE node may carry a query string or fragment
      val nodes = g.nodes.collect()
      nodes.filter(n => n.label == graft.model.Label.Section ||
          n.label == graft.model.Label.Site)
        .filter(n => n.node_id.contains("?") || n.node_id.contains("#")) shouldBe empty
      nodes.map(n => (n.node_id, n.label)).toSet shouldBe gold.nodes
    } finally g.unpersist()
  }

  test("triple set is non-trivial and covers all four predicates") {
    val byPred = graph.triples.collect().groupBy(_.pred).view.mapValues(_.length).toMap
    byPred.keySet shouldBe Set("contains", "mentions", "links_to", "relates_to")
    byPred.values.foreach(_ should be > 0)
  }

  test("nodes match golden set after orphan cleanup") {
    val got = graph.nodes.collect().map(n => (n.node_id, n.label)).toSet
    got shouldBe golden.nodes
  }

  test("extracted text hashes are byte-identical to the oracle per url") {
    val got = graph.extracted.collect().map(e => e.url -> e.text_sha256).toMap
    got shouldBe golden.textSha
  }

  test("url dedup keeps the late warc_ts version") {
    val dups = Synth.pageRowsLocal(cfg).groupBy(_.url).filter(_._2.size > 1)
    dups should not be empty // fixture really exercises late-data
    val latest = graph.extracted.collect().map(e => e.url -> e.warc_ts).toMap
    dups.foreach { case (url, rows) =>
      latest(url) shouldBe rows.map(_.warc_ts).maxBy(_.getTime)
    }
  }

  test("adjacency is deduped: one row per (src, dst, pred)") {
    // Emit.adjacency is a plain reorder of the triples with no dedup of
    // its own: it relies on every triple branch being distinct by
    // construction. Pin that on the default fixture, the messy-url
    // corpus, and the q29 corpus (head pages above RelatesCap), by row
    // counts — a collected Set would hide duplicate rows.
    def check(name: String, g: Pipeline.Graph): Unit = withClue(s"$name: ") {
      val n = g.triples.count()
      n should be > 0L
      g.triples.toDF().select("subj", "pred", "obj").distinct().count() shouldBe n
      g.adjacency.count() shouldBe n
      g.adjacency.toDF().select("src", "dst", "pred").distinct().count() shouldBe n
    }
    def runOf(c: SynthConfig): Pipeline.Graph = Pipeline.run(Synth.pages(spark, c),
      Synth.aliases(spark, c), Synth.sameAs(spark, c), c.nPages)
    check("default fixture", graph)
    Seq("messy urls" -> cfg.copy(messyUrlEvery = 5),
      "KgOracleCfg" -> graft.SparkEntry.KgOracleCfg).foreach { case (name, c) =>
      val g = runOf(c)
      try check(name, g) finally g.unpersist()
    }
  }

  test("keepOrphans skips the degree-0 cleanup: every canonical entity kept") {
    val kept = Pipeline.run(Synth.pages(spark, cfg), Synth.aliases(spark, cfg),
      Synth.sameAs(spark, cfg), cfg.nPages, keepOrphans = true)
    val ents = kept.nodes.collect().filter(_.label == "ENTITY")
      .map(_.node_id).toSet
    val canonIds = kept.canon.collect().map(c => s"ent:${c.canon_id}").toSet
    ents shouldBe canonIds // one node per canonical entity, none dropped
    // the default (orphan-dropping) node set is a strict subset
    val droppedEnts = golden.nodes.filter(_._2 == "ENTITY").map(_._1)
    droppedEnts.subsetOf(ents) shouldBe true
    droppedEnts.size should be < ents.size
  }

  test("determinism: identical triple set under different parallelism") {
    val t1 = graph.triples.collect().map(t => (t.subj, t.pred, t.obj)).toSet
    val repartitioned = Pipeline.run(
      Synth.pages(spark, cfg).repartition(13),
      Synth.aliases(spark, cfg),
      Synth.sameAs(spark, cfg),
      cfg.nPages)
    val t2 = repartitioned.triples.collect().map(t => (t.subj, t.pred, t.obj)).toSet
    t2 shouldBe t1
  }
}
