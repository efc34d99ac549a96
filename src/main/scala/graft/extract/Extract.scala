package graft.extract

import graft.model.{ExtractedPage, PageRow}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Stage 1: url-dedup + deterministic text extraction.
  *
  * ≙ reference passes 0/1 (index parse + source parse): dedup-by-key
  * (clangd_index_yaml_parser.py:256-258 "last wins" dict insert) followed
  * by a deterministic per-row extractor (compilation_parser.py:49-121).
  */
object Extract {

  /** Keep exactly one row per url: max (warc_ts, xxhash64(html)).
    * The html hash is a total-order tie-break so the winner is
    * deterministic under any parallelism (SURVEY.md §7.4). Implemented as
    * a single hash aggregate (map-side partial `max_by` — no sort, no
    * window function, one shuffle on url). */
  def dedupLatest(pages: Dataset[PageRow]): Dataset[PageRow] = {
    val spark = pages.sparkSession
    import spark.implicits._
    pages.toDF()
      .groupBy($"url")
      .agg(max_by(
        struct($"url", $"warc_ts", $"html", $"text", $"lang"),
        struct($"warc_ts", xxhash64($"html"))).as("r"))
      .select($"r.*")
      .as[PageRow]
  }

  /** Host part of a url — the hierarchy's depth-1 node (≙ root folder,
    * clangd_symbol_nodes_builder.py:416-424). Shares the native
    * expression's EXACT scheme-strip + query/fragment-drop logic
    * (PathPrefixes.pathPart) so site(url) always equals
    * Hierarchy.prefixesOf(url)(0) — including messy urls
    * (`https://h?x=1` → "h") and non-ASCII pseudo-schemes. */
  def site(url: String): String =
    graft.functions.PathPrefixes.pathPart(url).takeWhile(_ != '/')

  /** Pure per-row extraction — a typed Dataset.map over a deterministic
    * Scala function; never a SQL UDF, never `asNondeterministic`.
    * The strategy is pluggable (TextExtractor, §2.9 analog). */
  def extractOne(p: PageRow, extractor: TextExtractor = HtmlTextExtractor): ExtractedPage = {
    val text = extractor.extractText(p.html)
    ExtractedPage(
      url = p.url,
      site = site(p.url),
      warc_ts = p.warc_ts,
      text = text,
      lang = p.lang,
      links = extractor.extractLinks(p.html),
      text_sha256 = HtmlText.sha256Hex(text),
      html_xxh64 = graft.util.Det.xxh64Bytes(p.html))
  }

  /** Version string of the persisted `extracted` stage: extractor
    * semantics + row schema. Column semantics live here: `+xxh64` added
    * the html_xxh64 column after extractor-v1 shipped; `+msgurl` froze
    * the messy-url site() policy (query/fragment dropped, ASCII-only
    * scheme strip) — `site` is a persisted column, so a partial build
    * committed under the old semantics must rebuild, not resume. */
  val StageVersion: String = HtmlText.VERSION + "+xxh64+msgurl"

  /** Version-adaptive strategy dispatch (P5) — ≙ the reference inspecting
    * the DATA, not configuration, to pick its parse strategy
    * (has_container_field / has_call_kind inference,
    * clangd_index_yaml_parser.py:276-281, feeding the extractor pick at
    * clangd_graph_rag_builder.py:160-168): sample a bounded prefix of the
    * corpus; if at least half the payloads carry html structure, use the
    * tag-aware extractor, else the plain-text fallback. One tiny
    * aggregate, same shape as Mention's maxLen inference. */
  def inferExtractor(pages: Dataset[PageRow], sampleSize: Int = 256): TextExtractor = {
    // deterministic sample: the `sampleSize` rows with the smallest
    // xxhash64(url) — a bare limit() would let partition layout decide
    // which rows arrive, so the strategy pick could flip between
    // otherwise-identical runs. orderBy+limit is TakeOrderedAndProject:
    // a per-partition top-K, no global sort.
    val r = pages.toDF()
      .orderBy(xxhash64(col("url")), col("url")).limit(sampleSize)
      .select(when(
        instr(lower(col("html").cast("string")), "<html") > 0 ||
          instr(lower(col("html").cast("string")), "<body") > 0,
        1L).otherwise(0L).as("is_html"))
      .agg(count(lit(1)).as("n"), coalesce(sum(col("is_html")), lit(0L)).as("h"))
      .head()
    if (r.getLong(0) == 0L || r.getLong(1) * 2 >= r.getLong(0)) HtmlTextExtractor
    else PlainTextExtractor
  }

  /** `run` with the data-inferred strategy. */
  def runAuto(pages: Dataset[PageRow]): Dataset[ExtractedPage] =
    run(pages, inferExtractor(pages))

  /** Cap on the BROADCAST winner relation (contested-url rows). The
    * winner table never touches the driver as data (round 6 — the
    * previous plan `take()`-collected it into a driver HashMap, a
    * driver-heap cliff at ~4M contested urls); it is built executor-side
    * by a broadcast hash join, so the binding limit is executor memory /
    * Spark's 512M-row broadcast cap, not driver heap. Over this cap
    * (a >100-billion-page batch at the ~2% contested rate of a crawl
    * capture window) [[run]] falls back to the wide-shuffle plan, which
    * is correct at any scale. */
  val MaxBroadcastWinners: Long = 200L * 1000 * 1000

  /** Cap on the driver-collected ESCALATED url set (urls whose max
    * warc_ts is tied, or whose winning warc_ts is null — same-second
    * byte-identical recrawls). These are the only rows the driver ever
    * sees; a batch with more of them than this is pathological and takes
    * the wide plan whole. */
  val MaxEscalatedUrls: Int = 4 * 1000 * 1000

  /** Url-dedup + extraction with a KEY-WIDTH dedup pass (round-5 scaling
    * lever — the ~12 KB/row extracted-record shuffle was the cluster
    * scaling tail once extraction itself went scanner-fast):
    *
    *  1. Pass 1 shuffles only (url, warc_ts) multiplicities — ~30 bytes
    *     per row — and keeps just the CONTESTED urls (count > 1, ~2% of
    *     a crawl batch) with their winning timestamp. The html column is
    *     PRUNED out of this scan entirely (it is ~99% of the input
    *     bytes): the html hash only matters as a tie-break WITHIN a
    *     url's max warc_ts, so hashing every row up front — as the first
    *     cut of this plan did — re-read the whole corpus just to break
    *     ties that almost never happen. The narrow winner table is
    *     localCheckpoint-ed: ONE materialization feeds every consumer
    *     (no second corpus scan), and the winner set is pinned even if
    *     the upstream source is not bit-deterministic across jobs.
    *  2. Pass 2 scans the input once and drops loser rows with a
    *     BROADCAST HASH JOIN against the winner table — built
    *     executor-side from the checkpointed pass-1 output, no driver
    *     round-trip (round 6; the driver HashMap it replaces was a heap
    *     cliff at ~4M contested urls and compared raw Timestamps —
    *     null-winner NPE, sub-microsecond mismatch hazard; the SQL-side
    *     equality is Catalyst-truncated on both sides and null-ts
    *     winners escalate instead of NPE-ing). Uncontested urls pass
    *     untouched; only winners are ever extracted, and the extracted
    *     rows never cross a shuffle.
    *
    * The keep-latest tie-break is unchanged and shared: max (warc_ts,
    * xxhash64(html)) — the ONE frozen total-order key of dedupLatest and
    * Incremental.diff (Det.xxh64Bytes ≡ SQL xxhash64). A url with a
    * UNIQUE max warc_ts (the overwhelmingly common case) never consults
    * the hash leg of that key, so skipping the hash is semantics-free.
    * The rare url whose max warc_ts is held by SEVERAL rows (same-second
    * recrawls, byte-identical captures) — or is null — is ESCALATED to
    * the legacy wide-shuffle plan on just its own rows: the full frozen
    * key, decided at the driver from a [[MaxEscalatedUrls]]-capped
    * collect, so the common case plans no second branch at all.
    *
    * ≙ reference chunk-merge dedup (clangd_index_yaml_parser.py:355-372
    * "last wins" dict insert), re-shaped so the merge key is ~30 bytes
    * instead of the record. */
  def run(
      pages: Dataset[PageRow],
      extractor: TextExtractor = HtmlTextExtractor): Dataset[ExtractedPage] = {
    val spark = pages.sparkSession
    import spark.implicits._
    // lazy checkpoint + ONE aggregate as its materializing action: total
    // and escalated counts in a single job decide the plan path (the
    // first cut ran count + an incremental take — ~5 driver-synchronous
    // jobs; visible fixed cost at small-corpus latencies)
    val winners = contestedUrls(pages).localCheckpoint(false)
    val escCond = $"c" > 1L || $"warc_ts".isNull
    val r = winners
      .agg(count(lit(1)).as("n"), count_if(escCond).as("nEsc")).head()
    val (nWin, nEsc) = (r.getLong(0), r.getLong(1))
    if (nWin > MaxBroadcastWinners || nEsc > MaxEscalatedUrls)
      return runWideShuffle(pages, extractor)
    val esc: Array[String] =
      if (nEsc == 0L) Array.empty
      else winners.filter(escCond).select($"url").as[String].collect()

    val keep = winners.filter($"c" === 1L && $"warc_ts".isNotNull)
      .select($"url", $"warc_ts".as("__win_ts"))
    // left join: uncontested urls get a null __win_ts and pass; loser
    // rows (warc_ts ≠ winning ts, including null warc_ts under a
    // non-null winner) fail the filter and are never extracted
    val probed = pages.toDF()
      .join(broadcast(keep), Seq("url"), "left")
      .filter($"__win_ts".isNull || $"warc_ts" === $"__win_ts")
      .drop("__win_ts").as[PageRow]
    val out =
      if (esc.isEmpty) probed.map(p => extractOne(p, extractor))
      else { // winner-key ties (need the html-hash leg of the frozen key):
             // only THEIR rows take the legacy wide plan
        val escB = spark.sparkContext.broadcast(esc.toSet)
        probed.filter(p => !escB.value.contains(p.url))
          .map(p => extractOne(p, extractor))
          .union(
            runWideShuffle(pages.filter(p => escB.value.contains(p.url)), extractor))
      }
    // Parallelism floor for the DOWNSTREAM consumers (guide §2.5/§6 +
    // §8 "move the heavy bytes once, decide on light rows"): parquet
    // bin-packing folds a small-file input into far fewer splits than
    // cores (the 20k bench table packs 256 × ~0.5 MB files into ~10
    // splits), and the pipeline's extracted cache inherits that width —
    // every downstream stage then runs ~10-wide on 32 cores. When the
    // scan grants fewer partitions than the session's task target,
    // round-robin the EXTRACTED rows up to it: they are ~4× narrower
    // than the html they came from (round-6 measurement: repartitioning
    // the html side cost 1.3 s of the 2.4 s extract stage at 20k;
    // extraction itself runs the same total work at scan width, 0.6 s
    // either way). At cluster scale a real corpus has orders of
    // magnitude more splits than cores, so this branch never fires.
    val taskTarget = math.max(spark.sparkContext.defaultParallelism * 3,
      spark.sessionState.conf.numShufflePartitions)
    if (pages.rdd.getNumPartitions < taskTarget) out.repartition(taskTarget)
    else out
  }

  /** Pass 1 of [[run]]: per-url (winning warc_ts, its multiplicity) for
    * urls with more than one crawl row — columns (url, warc_ts, c).
    * Shuffles only (url, warc_ts) multiplicities; the html column is
    * pruned out of the scan (plan-asserted in ExtractDedupSpec — this
    * pruning, not the narrow shuffle alone, is what makes pass 1 nearly
    * free: html is ~99% of the input bytes). */
  private[graft] def contestedUrls(pages: Dataset[PageRow]) = {
    val spark = pages.sparkSession
    import spark.implicits._
    // ONE exchange (round 6, guide §2.4): hash-partitioning by url
    // satisfies BOTH aggregates' distributions (url is a subset of
    // (url, warc_ts)), so the explicit repartition replaces the two
    // back-to-back aggregate exchanges the previous shape planned. The
    // trade: raw (url, warc_ts) pairs cross the wire instead of
    // map-side-combined (url, warc_ts, partial-count) rows — at a
    // crawl's ~2% dup rate the combine collapsed almost nothing, so one
    // full-width narrow shuffle beats two ~full-width ones. Aggregate
    // expressions (and null/max_by semantics) unchanged.
    pages.toDF()
      .select($"url", $"warc_ts")
      .repartition($"url")
      .groupBy($"url", $"warc_ts").agg(count(lit(1)).as("c"))
      .groupBy($"url")
      .agg(sum($"c").as("n"),
        max_by(struct($"warc_ts", $"c"), $"warc_ts").as("w"))
      .filter($"n" > 1)
      .select($"url", $"w.warc_ts", $"w.c")
  }

  /** The pre-round-5 plan: extract every row map-side, then one wide
    * shuffle of the full extracted records with a `max_by` hash
    * aggregate. Correct at any contested-set size (nothing driver-side);
    * kept as the fallback for [[run]]'s capped paths and as the
    * agreement reference in ExtractDedupSpec. */
  private[graft] def runWideShuffle(
      pages: Dataset[PageRow],
      extractor: TextExtractor = HtmlTextExtractor): Dataset[ExtractedPage] = {
    val spark = pages.sparkSession
    import spark.implicits._
    val ex = pages.map(p => extractOne(p, extractor))
    ex.groupBy($"url")
      .agg(max_by(struct(ex.columns.toSeq.map(col): _*),
        struct($"warc_ts", $"html_xxh64")).as("r"))
      .select($"r.*")
      .as[ExtractedPage]
  }
}
