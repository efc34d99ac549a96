package graft.streaming

import graft.extract.Extract
import graft.model.{ExtractedPage, PageRow}
import org.apache.spark.sql.{Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

/** Structured-Streaming facade over the batch pipeline.
  *
  * The reference is batch + git-commit-granularity incremental (SURVEY.md
  * §2.8 — "no streaming required by reference semantics"); the faithful
  * streaming analog is micro-batch over the input table:
  * `Trigger.AvailableNow` + url-dedup keep-max-warc_ts as the late-data
  * policy. Provided because a web-scale ingest naturally arrives as WARC
  * drops: point the file source at the landing directory and each run
  * drains exactly the available input, checkpointed, then stops —
  * restart-safe by the sink's exactly-once file commit + the source's
  * offset log.
  */
object StreamingIngest {

  /** Drain all available page parquet under `inDir`; per micro-batch:
    * url-dedup (keep max warc_ts), extract, append to `outDir`.
    * Cross-batch duplicate urls are resolved at read time by the same
    * keep-latest rule (dedupLatest is idempotent over appends). */
  def drainAvailable(
      spark: SparkSession,
      inDir: String,
      outDir: String,
      checkpointDir: String): Unit = {
    import spark.implicits._
    val schema = spark.emptyDataset[PageRow].schema
    val pages = spark.readStream.schema(schema).parquet(inDir).as[PageRow]
    val q = pages.writeStream
      .foreachBatch { (batch: Dataset[PageRow], _: Long) =>
        Extract.run(batch).toDF()
          .write.mode(SaveMode.Append).parquet(outDir)
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Event-time windowed aggregation with a watermark (§2.8): pages per
    * (site, event-time window); a window's row is emitted exactly once,
    * after the watermark passes its end (append mode) — the crawl-rate /
    * late-data accounting shape of a streaming ingest. */
  def sitePagesPerWindow(
      pages: Dataset[ExtractedPage],
      windowLen: String = "1 hour",
      lateness: String = "30 minutes") = {
    pages.toDF()
      .withWatermark("warc_ts", lateness)
      .groupBy(window(col("warc_ts"), windowLen), col("site"))
      .agg(count(lit(1)).as("n_pages"))
      .select(col("window.start").as("win_start"), col("site"),
        col("n_pages"))
  }

  /** Read the streaming sink with cross-batch keep-latest semantics —
    * the SAME frozen (warc_ts, xxhash64(html)) key as the batch
    * pipeline: extracted rows carry the source payload's hash
    * (ExtractedPage.html_xxh64), so same-url same-warc_ts duplicates
    * landing in different micro-batches resolve identically to a batch
    * run over the union of their inputs. */
  def readLatest(spark: SparkSession, outDir: String): Dataset[ExtractedPage] = {
    import spark.implicits._
    spark.read.parquet(outDir)
      .groupBy(col("url"))
      .agg(max_by(struct(col("*")), struct(col("warc_ts"), col("html_xxh64"))).as("r"))
      .select(col("r.*")).as[ExtractedPage]
  }

  // ---------------------------------------------------- streaming dedup

  /** Streaming EXACT dedup on content hash with watermark-bounded state
    * (the LLM-ingest dedup gate): duplicates of an html payload arriving
    * within `lateness` of each other are dropped, and the engine evicts
    * a key's state once the watermark passes — unbounded-stream-safe,
    * unlike a plain dropDuplicates whose state grows forever. */
  def dedupExactWithinWatermark(
      pages: Dataset[PageRow],
      lateness: String = "1 hour"): Dataset[PageRow] = {
    val spark = pages.sparkSession
    import spark.implicits._
    pages.toDF()
      .withColumn("content_h", xxhash64(col("html")))
      .withWatermark("warc_ts", lateness)
      .dropDuplicatesWithinWatermark("content_h")
      .drop("content_h").as[PageRow]
  }

  /** warc_ts rides at top level (not only inside `page`): the
    * event-time watermark tag lives on the COLUMN, and the streaming
    * checker must see a tagged top-level column downstream of the
    * grouping for EventTimeTimeout to be allowed. */
  final case class SigPage(
      sig: String, warc_ts: java.sql.Timestamp, page: ExtractedPage)

  /** Streaming NEAR-dup gate: first-seen-wins per minhash signature,
    * custom state with EVENT-TIME eviction (flatMapGroupsWithState).
    * A page whose k-slot signature was last seen less than `ttlMs` of
    * event time ago is suppressed (re-arrivals extend the window); once
    * the watermark passes last-seen + ttl the state times out and the
    * signature may be admitted again. Within one micro-batch the
    * admitted row is the (warc_ts, html_xxh64, url)-minimal one — the
    * pipeline's frozen tie-break, so replaying the same drops admits
    * the same pages. */
  def nearDupGate(
      pages: Dataset[ExtractedPage],
      n: Int = 3,
      k: Int = 8,
      lateness: String = "30 minutes",
      ttlMs: Long = 60L * 60 * 1000): Dataset[ExtractedPage] = {
    val spark = pages.sparkSession
    import spark.implicits._
    sigPages(pages.withWatermark("warc_ts", lateness), n, k)
      .groupByKey(_.sig)
      .flatMapGroupsWithState[Long, ExtractedPage](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_, rows, state) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            // per-key per-batch rows: bounded buffer (one micro-batch)
            val rs = rows.toArray
            val out =
              if (state.exists || rs.isEmpty) Iterator.empty
              else Iterator.single(rs
                .minBy(sp => (sp.warc_ts.getTime, sp.page.html_xxh64,
                  sp.page.url)).page)
            state.update(1L)
            // TTL anchored to the key's max EVENT time, not the
            // watermark: the watermark lags a whole batch, and anchoring
            // there evicts one trigger too early. Clamped to stay above
            // the current watermark: a re-arrival more than ttl older
            // than the watermark would otherwise compute a timeout in
            // the past and the engine rejects it (found by the
            // 100k-corpus StreamGateBench). Such a row passes the late
            // filter, which uses the previous batch's watermark, when no
            // empty batch advanced that watermark first; StreamingSpec
            // builds that case. Such a key is evictable at the very next
            // trigger, which the +1 encodes.
            if (rs.nonEmpty)
              state.setTimeoutTimestamp(
                math.max(rs.map(_.warc_ts.getTime).max + ttlMs,
                  state.getCurrentWatermarkMs() + 1))
            out
          }
      }
  }

  /** The same near-dup gate on Spark 4's transformWithState API, with
    * EVENT-TIME eviction (round 6 — VERDICT r5 #5): the processor
    * mirrors [[nearDupGate]]'s policy exactly — state is evicted once
    * the watermark passes the key's last-seen max event time + ttl —
    * via an explicit event-time timer per signature. The processing-time
    * TTL shape it replaced kept EVERY signature's state live for a
    * wall-clock hour regardless of event-time progress: replaying a
    * 10^12-doc backlog admits years of event time in minutes of wall
    * clock, so nothing ever evicted — the measured 106 vs 52 MB state
    * at 109k docs (BENCH/BASELINE.md) was a state blow-up in the
    * making. Requires the RocksDB state store provider.
    * Admission is identical to nearDupGate for rows at or above the
    * watermark (first-seen-wins by the frozen tie-break). A first-seen
    * row that arrives below the watermark is dropped as late, before
    * the processor sees it — and nearDupGate, whose
    * flatMapGroupsWithState runs with an event-time timeout, drops it
    * too. StreamingSpec pins both, with one such row per gate.
    *
    * Operational caveats (measured, Spark 4.1):
    *  - event-time timers only fire as the watermark advances, so the
    *    query QUIESCES normally (processAllAvailable / AvailableNow
    *    return) — unlike processing-time timers, which schedule a timer
    *    batch after every batch, forever;
    *  - under many concurrent RocksDB snapshot uploads,
    *    spark.sql.streaming.checkpoint.fileChecksum.enabled=true (the
    *    default) deadlocked its own I/O pool in local[4] testing —
    *    disable it or enable RocksDB changelog checkpointing. */
  def nearDupGateTws(
      pages: Dataset[ExtractedPage],
      n: Int = 3,
      k: Int = 8,
      lateness: String = "30 minutes",
      ttl: java.time.Duration = java.time.Duration.ofHours(1)): Dataset[ExtractedPage] = {
    val spark = pages.sparkSession
    import spark.implicits._
    val sigged = sigPages(pages, n, k).toDF()
      .withWatermark("warc_ts", lateness).as[SigPage]
    sigged
      .groupByKey(_.sig)
      .transformWithState(new NearDupProcessor(ttl.toMillis),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append())
  }

  /** (sig, warc_ts, page) stream shared by both near-dup gates. */
  private def sigPages(
      pages: Dataset[ExtractedPage], n: Int, k: Int): Dataset[SigPage] = {
    val spark = pages.sparkSession
    import spark.implicits._
    import graft.ops.{DedupOps, TextOps}
    pages.toDF()
      .withColumn("sig", concat_ws("|",
        DedupOps.minhashSigFromShingles(
          DedupOps.shingles(TextOps.tokens(col("text")), n), k)))
      .select(col("sig"), col("warc_ts"),
        struct(col("url"), col("site"), col("warc_ts"),
          col("text"), col("lang"), col("links"), col("text_sha256"),
          col("html_xxh64")).as("page"))
      .as[SigPage]
  }

  /** StatefulProcessor for nearDupGateTws: the ValueState holds the
    * key's registered timer expiry (last-seen max event time + ttl,
    * clamped above the watermark exactly as [[nearDupGate]] clamps its
    * timeout — a re-arrival older than watermark − ttl must still be
    * evictable at the next trigger, not rejected); a re-sighting moves
    * the timer, and expiry clears the state so the signature may be
    * admitted again. */
  final class NearDupProcessor(ttlMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, SigPage, ExtractedPage] {
    @transient private var seen: org.apache.spark.sql.streaming.ValueState[Long] = _

    override def init(
        outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      seen = getHandle.getValueState[Long]("seen",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }

    override def handleInputRows(
        key: String,
        rows: Iterator[SigPage],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[ExtractedPage] = {
      val rs = rows.toArray
      if (rs.isEmpty) return Iterator.empty
      val out =
        if (seen.exists()) Iterator.empty
        else Iterator.single(rs
          .minBy(sp => (sp.warc_ts.getTime, sp.page.html_xxh64, sp.page.url))
          .page)
      val expiry = math.max(rs.map(_.warc_ts.getTime).max + ttlMs,
        timerValues.getCurrentWatermarkInMs() + 1)
      if (seen.exists()) {
        val old = seen.get()
        if (old != expiry) {
          getHandle.deleteTimer(old)
          getHandle.registerTimer(expiry)
        }
      } else getHandle.registerTimer(expiry)
      seen.update(expiry)
      out
    }

    override def handleExpiredTimer(
        key: String,
        timerValues: org.apache.spark.sql.streaming.TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[ExtractedPage] = {
      // only the CURRENT timer can fire (re-sightings delete the old
      // one before registering the new), so expiry means the watermark
      // passed last-seen + ttl: forget the signature
      seen.clear()
      Iterator.empty
    }
  }

  // ---------------------------------------------------- stateful operator

  final case class SiteCount(site: String, n_pages: Long)

  /** Running pages-per-site counter via mapGroupsWithState — the custom-
    * state shape (KeyValueGroupedDataset) a streaming KG ingest uses for
    * e.g. per-site crawl budgets. Update-mode, no timeout. */
  def sitePageCounts(pages: Dataset[ExtractedPage]): Dataset[SiteCount] = {
    val spark = pages.sparkSession
    import spark.implicits._
    pages.groupByKey(_.site)
      .mapGroupsWithState[Long, SiteCount](GroupStateTimeout.NoTimeout) {
        (site: String, rows: Iterator[ExtractedPage], state: GroupState[Long]) =>
          val n = state.getOption.getOrElse(0L) + rows.size
          state.update(n)
          SiteCount(site, n)
      }
  }

  /** Batch cross-check of the same aggregation (for tests). */
  def sitePageCountsBatch(pages: Dataset[ExtractedPage]): Dataset[SiteCount] = {
    val spark = pages.sparkSession
    import spark.implicits._
    pages.groupBy(col("site")).agg(count(lit(1)).as("n_pages"))
      .as[SiteCount]
  }
}
