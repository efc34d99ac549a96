package graft.synth

import java.sql.Timestamp

import graft.model.{AliasRow, PageRow, SameAsEdge}
import graft.util.Det._
import org.apache.spark.sql.{Dataset, SparkSession}

/** Deterministic synthetic Common-Crawl-style corpus (FIXTURES.md §2).
  *
  * Every row is a pure function of (cfg.seed, i) — no wall clock, no
  * unseeded randomness (the reference's determinism switch is its fake
  * LLM client, llm_client.py:93-99; ours is construction). Generation is
  * distributed (`spark.range(n).flatMap`) so the same code synthesizes
  * 1k fixture pages or a benchmark corpus without a driver bottleneck.
  */
final case class SynthConfig(
    seed: Long = 42L,
    nPages: Long = 1000L,
    nSites: Int = 10,
    nEntities: Int = 100,
    // Realism knobs for benchmarks. The DEFAULTS generate byte-identical
    // pages to the original fixture corpus (golden hashes depend on it):
    // fillerParas=0 adds nothing, mentionSlots=4 is the original modulus.
    // Real Common-Crawl pages are tens of KB with dozens of mentions —
    // benchmarks use e.g. fillerParas=30, mentionSlots=12.
    fillerParas: Int = 0,
    mentionSlots: Int = 4,
    // > 0: every headPageEvery-th page is a glossary-style HEAD page
    // mentioning EVERY entity — the fixture that forces the relates_to
    // RelatesCap policy to actually filter (needs nEntities > the cap).
    headPageEvery: Int = 0,
    // > 0: every messyUrlEvery-th page gets a query string / fragment on
    // its url, with EMBEDDED SLASHES — the adversarial corpus for the
    // frozen messy-url policy (Hierarchy Scaladoc: everything from the
    // first '?' or '#' is NOT path). Default 0 keeps the fixture
    // byte-identical to the golden-hashed corpus (urls appear in link
    // hrefs, so the extraction hashes depend on this knob).
    messyUrlEvery: Int = 0)

object Synth {
  // Filler vocabulary and alias vocabulary are DISJOINT so fixture
  // precision/recall is exactly 1.0 by construction (SURVEY.md §5 layer 3).
  val Filler: Array[String] = Array(
    "lorem", "ipsum", "dolor", "amet", "consectetur", "adipiscing", "elit",
    "tempor", "incididunt", "labore", "dolore", "magna", "aliqua", "veniam",
    "quis", "nostrud", "ullamco", "laboris", "nisi", "aliquip", "commodo",
    "duis", "aute", "irure", "voluptate", "velit", "esse", "cillum", "fugiat",
    "nulla", "pariatur", "excepteur", "sint", "occaecat", "cupidatat",
    "proident", "sunt", "culpa", "officia", "deserunt", "mollit", "anim",
    "laborum", "sed", "perspiciatis", "unde", "omnis", "iste", "natus")

  val AliasWords: Array[String] = Array(
    "acme", "globex", "initech", "umbrella", "stark", "wayne", "wonka",
    "tyrell", "cyberdyne", "weyland", "aperture", "blackmesa", "oscorp",
    "hooli", "pied", "piper", "dunder", "mifflin", "sterling", "cooper",
    "vandelay", "kramerica", "bluth", "sitwell", "gekko", "duke", "nakatomi",
    "genco", "wonka2", "zorg", "spacely", "cogswell", "vehement", "massive",
    "dynamic", "strickland", "callahan", "prestige", "paper", "street",
    "soap", "gringotts", "ollivander", "borgin", "burkes", "macmillan",
    "rosenfeld", "klein", "buckley", "monarch", "atlantic", "pacific",
    "summit", "beacon", "harbor", "quarry", "meridian", "zenith", "apex",
    "vertex", "nimbus", "cirrus", "stratus", "aurora", "borealis", "helios",
    "selene", "titanos", "rhea", "kronos", "hyperion", "oceanus", "tethys",
    "phoebe", "themis", "mnemosyne", "crius", "coeus", "iapetus", "dione")

  private val W = AliasWords.length

  // ---------------------------------------------------------------- aliases

  /** Primary (unique) two-token alias of entity k. */
  def primaryAlias(k: Long): String =
    AliasWords((k % W).toInt) + " " + AliasWords(((k / W) % W).toInt)

  /** Dictionary rows. Entities k with k%10==7 additionally own a shared
    * one-token alias that also maps to entity k+1 (ambiguity fixture,
    * FIXTURES.md §2.2); priors break the tie deterministically. */
  def aliasRows(cfg: SynthConfig): Seq[AliasRow] = {
    val rows = Seq.newBuilder[AliasRow]
    var k = 0L
    while (k < cfg.nEntities) {
      rows += AliasRow(primaryAlias(k), k, 0.5 + 0.5 * unit(h(cfg.seed, k, 11)))
      if (k % 10 == 7 && k + 1 < cfg.nEntities) {
        val shared = AliasWords((k % W).toInt)
        rows += AliasRow(shared, k, 0.9)
        rows += AliasRow(shared, k + 1, 0.6)
      }
      k += 1
    }
    rows.result()
  }

  // ---------------------------------------------------------------- sameas

  /** Same-as edges: a deliberately skewed star on entity 3 (every k%10==3
    * links to 3) plus sparse chain edges (FIXTURES.md §2.3). */
  def sameAsEdges(cfg: SynthConfig): Seq[SameAsEdge] =
    (1L until cfg.nEntities.toLong).flatMap { k =>
      if (k % 10 == 3 && k != 3) Some(SameAsEdge(k, 3L))
      else if (nonNeg(h(cfg.seed, k, 70), 4) == 0)
        Some(SameAsEdge(k, math.max(0L, k - 1 - nonNeg(h(cfg.seed, k, 71), 5))))
      else None
    }

  // ---------------------------------------------------------------- pages

  /** Variable-depth paths (depth 2–4 below the host) so the emitted
    * FOLDER-analog hierarchy — SECTION nodes per path prefix with
    * chained contains — is exercised at arbitrary depth, like the
    * reference's nested source folders. Page text is url-independent,
    * so the extraction golden hashes do not depend on this shape. */
  def url(cfg: SynthConfig, i: Long): String = {
    val extra = i % 3 match {
      case 1 => s"/c${i % 4}"
      case 2 => s"/c${i % 4}/d${i % 2}"
      case _ => ""
    }
    val base = s"https://site${i % cfg.nSites}.example/p$extra/$i"
    // adversarial tails: query strings and fragments with embedded
    // slashes must NOT mint SECTION nodes (frozen policy, q35/q29)
    if (cfg.messyUrlEvery > 0 && i % cfg.messyUrlEvery == 0)
      if (i % (2L * cfg.messyUrlEvery) == 0) base + s"?q=$i/x&v=a/b#sec/$i"
      else base + s"#frag/${i % 7}/end"
    else base
  }

  private val BaseEpochSec = 1577836800L // 2020-01-01T00:00:00Z

  def lang(cfg: SynthConfig, i: Long): String = {
    val u = unit(h(cfg.seed, i, 1))
    if (u < 0.95) "en" else if (u < 0.975) "de" else "fr"
  }

  /** Entity ids deliberately mentioned on page i (Zipf-skewed; entity 0 is
    * the head entity that lands on ~20-30% of pages → salted-join fixture). */
  def mentionedEntities(cfg: SynthConfig, i: Long): Seq[Long] = {
    val m = nonNeg(h(cfg.seed, i, 20), cfg.mentionSlots) // 0..slots-1 mentions
    (0 until m).map(j => zipf(h(cfg.seed, i, 21 + j), cfg.nEntities).toLong)
  }

  /** Link targets of page i: in-corpus urls plus an occasional dangling
    * external url (FK-validation fixture ≙ invisible-header case,
    * SURVEY.md Appendix B #4). */
  def linkTargets(cfg: SynthConfig, i: Long): Seq[String] = {
    val l = 1 + nonNeg(h(cfg.seed, i, 40), 3)
    val in = (0 until l).map(t => url(cfg, nonNeg(h(cfg.seed, i, 41 + t), cfg.nPages.toInt).toLong))
    if (nonNeg(h(cfg.seed, i, 49), 10) == 0) in :+ s"https://external.example/x$i" else in
  }

  private def fillerSpan(seed: Long, i: Long, tag: Long, n: Int): String =
    (0 until n).map(t => Filler(nonNeg(h(seed, i, tag * 100 + t), Filler.length))).mkString(" ")

  /** Render one page's HTML. Exercises every extractor rule: comments,
    * script/style, block+inline tags, named + numeric entities, CRLF,
    * tabs, non-ASCII UTF-8. */
  def html(cfg: SynthConfig, i: Long, updated: Boolean): Array[Byte] = {
    val s = cfg.seed
    val ents = mentionedEntities(cfg, i)
    val paras = new StringBuilder
    ents.zipWithIndex.foreach { case (e, j) =>
      val alias = primaryAlias(e)
      // capitalize to exercise case folding in the tokenizer
      val shown = alias.split(' ').map(_.capitalize).mkString(" ")
      paras ++= s"<p>${fillerSpan(s, i, 60 + j, 4)} <b>$shown</b>\t" +
        s"${fillerSpan(s, i, 70 + j, 3)} &amp; ${fillerSpan(s, i, 80 + j, 2)}</p>\r\n"
    }
    // ambiguity fixture: pages i%17==5 also carry a shared one-token alias
    if (i % 17 == 5 && cfg.nEntities > 8) {
      val k = 7L + 10L * nonNeg(h(s, i, 55), math.max(1, (cfg.nEntities.toInt - 8) / 10))
      if (k % 10 == 7 && k + 1 < cfg.nEntities)
        paras ++= s"<p>${fillerSpan(s, i, 56, 2)} ${AliasWords((k % W).toInt)} ${fillerSpan(s, i, 57, 2)}</p>\n"
    }
    // glossary-style head page: mentions EVERY entity (RelatesCap
    // fixture — a link-farm page whose distinct-entity count exceeds the
    // relates_to cap when nEntities > RelatesCap). Filler separates the
    // aliases so no mention spans two of them.
    if (cfg.headPageEvery > 0 && i % cfg.headPageEvery == 0) {
      (0L until cfg.nEntities.toLong).foreach { e =>
        val shown = primaryAlias(e).split(' ').map(_.capitalize).mkString(" ")
        paras ++= s"<p>${fillerSpan(s, i, 400 + e, 2)} <b>$shown</b> " +
          s"${fillerSpan(s, i, 700 + e, 1)}</p>\n"
      }
    }
    // benchmark realism: extra pure-filler paragraphs (default 0 → the
    // fixture corpus is byte-identical to the original golden-hashed one)
    (0 until cfg.fillerParas).foreach { j =>
      paras ++= s"<p>${fillerSpan(s, i, 300 + j, 90)}</p>\n"
    }
    val links = linkTargets(cfg, i)
      .map(u => s"""<a href="$u">${fillerSpan(s, i, 90, 2)}</a>""").mkString("\n")
    val upd = if (updated) "<p>updated edition révisée &#233;</p>" else ""
    val doc =
      s"""<html><!-- page $i --><head><title>Page $i on site${i % cfg.nSites}</title>
         |<style>body { color: #111; }</style>
         |<script type="text/javascript">if (1 < 2) { console.log("&amp;"); }</script>
         |</head>
         |<body>
         |<h1>Page $i</h1>
         |$paras$upd
         |<div>${fillerSpan(s, i, 95, 5)}&nbsp;&#8212; ${fillerSpan(s, i, 96, 3)}</div>
         |$links
         |</body></html>""".stripMargin
    doc.getBytes(java.nio.charset.StandardCharsets.UTF_8)
  }

  /** All input rows for page i. ~2% of pages also get a later-warc_ts
    * "updated" duplicate — url-dedup must keep the max warc_ts
    * (late-data fixture, FIXTURES.md §2.1). */
  def pageRows(cfg: SynthConfig, i: Long): Seq[PageRow] = {
    val base = PageRow(
      url = url(cfg, i),
      warc_ts = new Timestamp((BaseEpochSec + i * 60) * 1000L),
      html = html(cfg, i, updated = false),
      text = null,
      lang = lang(cfg, i))
    if (nonNeg(h(cfg.seed, i, 90), 50) == 0)
      Seq(base, base.copy(
        warc_ts = new Timestamp((BaseEpochSec + i * 60 + 3600) * 1000L),
        html = html(cfg, i, updated = true)))
    else Seq(base)
  }

  // ---------------------------------------------------------------- Spark

  def pages(spark: SparkSession, cfg: SynthConfig): Dataset[PageRow] = {
    import spark.implicits._
    spark.range(cfg.nPages).flatMap(i => pageRows(cfg, i))
  }

  def aliases(spark: SparkSession, cfg: SynthConfig): Dataset[AliasRow] = {
    import spark.implicits._
    spark.createDataset(aliasRows(cfg))
  }

  def sameAs(spark: SparkSession, cfg: SynthConfig): Dataset[SameAsEdge] = {
    import spark.implicits._
    spark.createDataset(sameAsEdges(cfg))
  }

  /** Driver-side page rows for the naive golden oracle in tests. */
  def pageRowsLocal(cfg: SynthConfig): Seq[PageRow] =
    (0L until cfg.nPages).flatMap(i => pageRows(cfg, i))
}
