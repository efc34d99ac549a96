package graft.emit

import java.sql.Timestamp

import graft.SparkSpec
import graft.model._
import graft.pipeline.Pipeline
import graft.synth.{Synth, SynthConfig}
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._

class EmitSpec extends SparkSpec {
  import spark.implicits._

  private val ts = new Timestamp(1577836800000L)

  test("native PathPrefixes equals the declarative prefix derivation") {
    val urls = Seq(
      "https://host.example/a/b/42",
      "https://host.example/",
      "https://host.example",
      "http://h/x",
      "no-scheme-path/a/b",
      "plainhost",
      "a://x/y",
      "weird+s-c.heme://h/p/q",
      "ftp:/notascheme/a",
      "https://h//double//slash/p",
      "", // empty url
      // messy-url policy: query/fragment (even with embedded slashes)
      // never become path segments; é is not a valid scheme first char
      "https://h/p?x=1/2",
      "https://h/a/b#frag/c",
      "https://h?x=1",
      "https://h/p?",
      "é://x/y",
      "schemeless/p?a/b#c"
    ).toDF("url")
    val rows = urls.select(
        Hierarchy.prefixesOf(col("url")).as("native"),
        HierarchyReference.prefixesOfSql(col("url")).as("ref"),
        col("url"))
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1), s"url=${r.getString(2)}")
    }
  }

  test("native ArrayPairs equals the nested-transform reference") {
    val arrays = Seq(
      Seq.empty[Long], Seq(7L), Seq(3L, 9L), Seq(1L, 2L, 3L, 4L, 5L))
      .toDF("es")
    val rows = arrays.select(
        graft.functions.ArrayPairs.array_pairs(col("es")).as("native"),
        graft.functions.ArrayPairsRef.pairsHof(col("es")).as("ref"))
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[org.apache.spark.sql.Row](0) ==
        r.getSeq[org.apache.spark.sql.Row](1))
    }
    // explicit order pin: (i, j) pairs in index order
    val one = arrays
      .filter(org.apache.spark.sql.functions.size(col("es")) === 2)
      .select(explode(graft.functions.ArrayPairs.array_pairs(col("es"))).as("p"))
      .select(col("p.x"), col("p.y")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    one shouldBe Seq((3L, 9L))
  }

  test("relates_to head page: pairs among the RelatesCap smallest canon ids only") {
    // a glossary-style page mentioning 5000 distinct entities — unbounded
    // pairing would emit 12.5M rows from this ONE page; the frozen policy
    // caps at C(64,2) pairs over the 64 smallest canon ids
    val url = "https://h.example/p/glossary"
    val ex = spark.createDataset(Seq(ExtractedPage(
      url, "h.example", ts, "t", "en", Seq.empty, "sha")))
    val linked = spark.createDataset((1 to 5000).map(e =>
      LinkedMention(url, e, 1, s"a$e", e.toLong, 1.0)))
    val canon = spark.createDataset((1 to 5000).map(e =>
      CanonRow(e.toLong, e.toLong)))
    val relates = Emit.triples(ex, linked, canon).toDF()
      .filter(col("pred") === Pred.RelatesTo).cache()
    val k = Emit.RelatesCap
    relates.count() shouldBe k.toLong * (k - 1) / 2
    // every endpoint is among the k smallest ids
    val maxEnt = relates
      .select(explode(array(col("subj"), col("obj"))).as("e"))
      .select(max(substring(col("e"), 5, 10).cast("long"))).head().getLong(0)
    maxEnt shouldBe k.toLong
  }

  test("relates_to pairs agree with the naive quadratic derivation under the cap") {
    val urls = Seq("https://a.example/p/1", "https://a.example/p/2")
    val ex = spark.createDataset(urls.map(u =>
      ExtractedPage(u, "a.example", ts, "t", "en", Seq.empty, "sha")))
    // page 1 mentions {7,3,9}, page 2 mentions {3,5}
    val ments = Seq((urls(0), 7L), (urls(0), 3L), (urls(0), 9L),
      (urls(1), 3L), (urls(1), 5L))
    val linked = spark.createDataset(ments.zipWithIndex.map {
      case ((u, e), i) => LinkedMention(u, i, 1, s"a$e", e, 1.0) })
    val canon = spark.createDataset(
      Seq(3L, 5L, 7L, 9L).map(e => CanonRow(e, e)))
    val got = Emit.triples(ex, linked, canon).toDF()
      .filter(col("pred") === Pred.RelatesTo)
      .select("subj", "obj").collect().map(r => (r.getString(0), r.getString(1))).toSet
    got shouldBe Set(("ent:3", "ent:7"), ("ent:3", "ent:9"),
      ("ent:7", "ent:9"), ("ent:3", "ent:5"))
  }

  test("contains chain: root → host → sections → page, arbitrary depth") {
    val ex = spark.createDataset(Seq(
      ExtractedPage("https://h.example/a/b/c/42", "h.example", ts, "t",
        "en", Seq.empty, "s1"),
      ExtractedPage("https://h.example/a/9", "h.example", ts, "t",
        "en", Seq.empty, "s2"),
      ExtractedPage("https://h.example", "h.example", ts, "t",
        "en", Seq.empty, "s3")))
    val linked = spark.emptyDataset[LinkedMention]
    val canon = spark.emptyDataset[CanonRow]
    val t = Emit.triples(ex, linked, canon).collect()
      .map(x => (x.subj, x.obj)).toSet
    t shouldBe Set(
      (Emit.RootId, "h.example"),
      ("h.example", "h.example/a"),
      ("h.example/a", "h.example/a/b"),
      ("h.example/a/b", "h.example/a/b/c"),
      ("h.example/a/b/c", "https://h.example/a/b/c/42"),
      ("h.example/a", "https://h.example/a/9"),
      // a url with no path hangs directly off its host
      ("h.example", "https://h.example"))
    // node labels: host = SITE, deeper prefixes = SECTION
    val nodes = Emit.nodes(ex, canon).collect()
      .map(n => n.node_id -> n.label).toMap
    nodes("h.example") shouldBe Label.Site
    nodes("h.example/a") shouldBe Label.Section
    nodes("h.example/a/b/c") shouldBe Label.Section
    nodes("https://h.example/a/9") shouldBe Label.Page
  }

  test("messy urls: query/fragment mint no SECTION nodes; site == first prefix") {
    // real-web corpora carry ?query/#fragment on many urls — the frozen
    // policy strips them before prefix derivation, so a query string
    // with embedded slashes cannot pollute the SECTION space
    val urls = Seq(
      "https://h.example/p?x=1/2",   // query w/ slash → parent is h.example
      "https://h.example/a/b#f/c",   // fragment w/ slash → parent h.example/a
      "https://h.example?x=1")       // query on a pathless url
    val ex = spark.createDataset(urls.zipWithIndex.map { case (u, i) =>
      ExtractedPage(u, graft.extract.Extract.site(u), ts, "t", "en",
        Seq.empty, s"s$i") })
    val t = Emit.triples(ex, spark.emptyDataset[LinkedMention],
        spark.emptyDataset[CanonRow]).collect()
      .map(x => (x.subj, x.obj)).toSet
    t shouldBe Set(
      (Emit.RootId, "h.example"),
      ("h.example", "https://h.example/p?x=1/2"),
      ("h.example/a", "https://h.example/a/b#f/c"),
      ("h.example", "h.example/a"),
      ("h.example", "https://h.example?x=1"))
    // the invariant site(url) == prefixesOf(url)(0) holds on messy urls
    urls.foreach { u =>
      val firstPrefix = ex.sparkSession.createDataset(Seq(u)).toDF("url")
        .select(Hierarchy.prefixesOf(col("url"))(0)).head().getString(0)
      graft.extract.Extract.site(u) shouldBe firstPrefix
    }
  }

  test("links_to: a page linking one url twice yields one edge") {
    // linksTo relies on one row per url and dedups each link array
    // itself (array_distinct) instead of running a global distinct
    val a = "https://h.example/a"
    val b = "https://h.example/b"
    val ex = spark.createDataset(Seq(
      ExtractedPage(a, "h.example", ts, "t", "en",
        Seq(b, "https://gone.example/x", b, a, b), "s1"),
      ExtractedPage(b, "h.example", ts, "t", "en", Seq(a, a), "s2")))
    val lt = Emit.linksTo(ex.toDF(), ex.toDF())
    lt.collect().map(r => (r.getString(0), r.getString(1))).toSeq.sorted shouldBe
      Seq((a, a), (a, b), (b, a))
    // the triple branch stays distinct by construction
    val t = Emit.triples(ex, spark.emptyDataset[LinkedMention],
      spark.emptyDataset[CanonRow]).toDF().filter(col("pred") === Pred.LinksTo)
    t.count() shouldBe 3L
    t.distinct().count() shouldBe 3L
  }

  test("connectedNodes equals dropOrphans(nodes, triples): row multiset, props included") {
    // a collected multiset: duplicate rows or a wrong props map must show
    def rows(ds: Dataset[NodeRow]): Seq[(String, String, String)] =
      ds.collect().toSeq.map(n =>
        (n.node_id, n.label, n.props.toSeq.sorted.mkString(","))).sorted
    /** Pipeline.run's node table (connectedNodes, unstamped) and a
      * snapshot-stamped connectedNodes, each against dropOrphans; returns
      * the former's rows and the canon map's distinct canon id count. */
    def check(name: String, cfg: SynthConfig, pages: Option[Dataset[PageRow]] = None)
        : (Seq[(String, String, String)], Long) = withClue(s"$name: ") {
      val g = Pipeline.run(pages.getOrElse(Synth.pages(spark, cfg)),
        Synth.aliases(spark, cfg), Synth.sameAs(spark, cfg), cfg.nPages)
      try {
        val got = rows(g.nodes)
        got shouldBe rows(Emit.dropOrphans(Emit.nodes(g.extracted, g.canon), g.triples))
        val sid = Some("snap-1")
        rows(Emit.connectedNodes(g.extracted, g.pageEntitySets, sid)) shouldBe
          rows(Emit.dropOrphans(Emit.nodes(g.extracted, g.canon, sid), g.triples))
        (got, g.canon.toDF().select("canon_id").distinct().count())
      } finally g.unpersist()
    }
    val fixture = SynthConfig(seed = 42L, nPages = 300L, nSites = 7, nEntities = 60)
    check("fixture", fixture)
    check("messy urls", fixture.copy(messyUrlEvery = 5))
    check("KgOracleCfg", graft.SparkEntry.KgOracleCfg)
    // many more canonical entities than the pages mention: the cleanup
    // must really drop ENTITY rows here
    val (sparse, canonIds) = check("unmentioned canonical entities",
      SynthConfig(seed = 7L, nPages = 20L, nSites = 3, nEntities = 400))
    val ents = sparse.count(_._2 == Label.Entity)
    ents should be > 0
    ents.toLong should be < canonIds
    // no pages at all: every node is an orphan, the root included
    check("empty corpus", fixture, Some(spark.emptyDataset[PageRow]))._1 shouldBe empty
  }
}
