package graft.streaming

import java.nio.file.Files

import graft.SparkSpec
import graft.synth.{Synth, SynthConfig}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private val cfg = SynthConfig(nPages = 80L, nSites = 4, nEntities = 20)

  test("AvailableNow drain: extract-on-ingest matches the batch pipeline") {
    val in = Files.createTempDirectory("graft-stream-in").toString
    val out = Files.createTempDirectory("graft-stream-out").toString
    val ckpt = Files.createTempDirectory("graft-stream-ckpt").toString

    // two WARC drops landing separately
    Synth.pages(spark, cfg).filter($"url".substr(-1, 1).isin("0", "1", "2", "3", "4"))
      .write.parquet(s"$in/drop1")
    Synth.pages(spark, cfg).filter(!$"url".substr(-1, 1).isin("0", "1", "2", "3", "4"))
      .write.parquet(s"$in/drop2")
    // file source needs a flat dir: re-land
    val all = spark.read.parquet(s"$in/drop1").union(spark.read.parquet(s"$in/drop2"))
    val flat = Files.createTempDirectory("graft-stream-flat").toString
    all.write.mode("overwrite").parquet(flat)

    StreamingIngest.drainAvailable(spark, flat, out, ckpt)
    val streamed = StreamingIngest.readLatest(spark, out)
      .collect().map(e => e.url -> e.text_sha256).toMap

    val batch = graft.extract.Extract.run(Synth.pages(spark, cfg))
      .collect().map(e => e.url -> e.text_sha256).toMap
    streamed shouldBe batch
  }

  test("second drain after new files ingests only the delta (checkpointed)") {
    val flat = Files.createTempDirectory("graft-stream2-in").toString
    val out = Files.createTempDirectory("graft-stream2-out").toString
    val ckpt = Files.createTempDirectory("graft-stream2-ckpt").toString

    val p = Synth.pages(spark, cfg)
    p.limit(40).write.mode("append").parquet(flat)
    StreamingIngest.drainAvailable(spark, flat, out, ckpt)
    val n1 = spark.read.parquet(out).count()

    p.write.mode("append").parquet(flat) // full set lands (40 overlap)
    StreamingIngest.drainAvailable(spark, flat, out, ckpt)
    val finalRows = StreamingIngest.readLatest(spark, out).collect()

    n1 should be > 0L
    // keep-latest read resolves cross-batch duplicates to one row per url
    finalRows.map(_.url).distinct.length shouldBe finalRows.length
    finalRows.length shouldBe graft.extract.Extract
      .run(p).count().toInt
  }

  test("cross-batch same-warc_ts duplicates resolve on the ONE frozen tie-break key") {
    import java.sql.Timestamp
    import graft.extract.HtmlText
    import graft.model.PageRow
    import graft.util.Det
    // two html variants of one url, SAME warc_ts, whose xxh64 order
    // DISAGREES with their text_sha256 order — the round-2 asterisk: a
    // sink dedup keyed on text_sha256 would pick the other winner
    val variants = (0 until 60).map(i =>
      s"<html><body><p>variant $i content</p></body></html>".getBytes("UTF-8"))
    val Seq(a, b) = variants.combinations(2).find { case Seq(x, y) =>
      (Det.xxh64Bytes(x) < Det.xxh64Bytes(y)) !=
        (HtmlText.sha256Hex(HtmlText.extract(x)) <
          HtmlText.sha256Hex(HtmlText.extract(y)))
    }.get
    val ts = new Timestamp(5000L)
    val out = Files.createTempDirectory("graft-stream-tie").toString
    // the duplicates land in DIFFERENT micro-batches (separate appends)
    Seq(a, b).foreach { html =>
      graft.extract.Extract.run(spark.createDataset(
        Seq(PageRow("http://s/x", ts, html, null, "en")))).toDF()
        .write.mode("append").parquet(out)
    }
    val streamed = StreamingIngest.readLatest(spark, out).collect()
    streamed.length shouldBe 1
    // ...and the winner equals a batch run over the UNION of the inputs
    val batch = graft.extract.Extract.run(spark.createDataset(Seq(
      PageRow("http://s/x", ts, a, null, "en"),
      PageRow("http://s/x", ts, b, null, "en")))).collect()
    streamed.head.text_sha256 shouldBe batch.head.text_sha256
    streamed.head.html_xxh64 shouldBe batch.head.html_xxh64
  }

  test("watermarked event-time window agg emits closed windows once (append mode)") {
    import java.sql.Timestamp
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[graft.model.ExtractedPage]
    val agg = StreamingIngest.sitePagesPerWindow(mem.toDS())
    val q = agg.writeStream.format("memory").queryName("win_counts")
      .outputMode(OutputMode.Append()).start()
    def page(url: String, site: String, ts: Long) =
      graft.model.ExtractedPage(url, site, new Timestamp(ts), "t", "en", Nil, "")
    val h = 3600L * 1000L
    mem.addData(page("u1", "s1", 0L), page("u2", "s1", 10000L),
      page("u3", "s2", 20000L))
    q.processAllAvailable()
    // watermark has not passed the [0, 1h) window → nothing emitted yet
    spark.table("win_counts").count() shouldBe 0L
    mem.addData(page("u4", "s1", 3 * h)) // event time jumps; watermark follows
    q.processAllAvailable()
    mem.addData(page("u5", "s1", 4 * h)) // next trigger flushes closed windows
    q.processAllAvailable()
    val got = spark.table("win_counts").collect()
      .map(r => (r.getTimestamp(0).getTime, r.getString(1), r.getLong(2))).toSet
    q.stop()
    got should contain((0L, "s1", 2L))
    got should contain((0L, "s2", 1L))
  }

  test("streaming exact dedup drops in-watermark duplicates, evicts state after") {
    import java.sql.Timestamp
    import graft.model.PageRow
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[PageRow]
    val out = StreamingIngest.dedupExactWithinWatermark(mem.toDS(), "10 minutes")
    val q = out.writeStream.format("memory").queryName("dedup_exact")
      .outputMode(OutputMode.Append()).start()
    def page(url: String, ts: Long, html: String) =
      PageRow(url, new Timestamp(ts), html.getBytes("UTF-8"), null, "en")
    val h = 3600L * 1000L
    mem.addData(page("u1", 0L, "<p>X</p>"), page("u2", 10000L, "<p>X</p>"),
      page("u3", 20000L, "<p>Y</p>"))
    q.processAllAvailable()
    spark.table("dedup_exact").count() shouldBe 2L // one X, one Y
    mem.addData(page("u4", 60000L, "<p>X</p>")) // in-watermark dup → dropped
    q.processAllAvailable()
    spark.table("dedup_exact").count() shouldBe 2L
    // jump event time: watermark passes X's state → key admissible again
    mem.addData(page("u5", 5 * h, "<p>Z</p>"))
    q.processAllAvailable()
    mem.addData(page("u6", 5 * h + 1000L, "<p>X</p>"))
    q.processAllAvailable()
    val urls = spark.table("dedup_exact").collect().map(_.getString(0)).toSet
    q.stop()
    urls should contain("u6") // X re-admitted after state eviction
    // exactly ONE of the intra-batch X duplicates survived (which one is
    // engine-arbitrary within a batch), and the cross-batch dup never did
    Set("u1", "u2").intersect(urls).size shouldBe 1
    (urls should not).contain("u4")
  }

  test("streaming near-dup gate: first-seen-wins per signature with TTL eviction") {
    import java.sql.Timestamp
    import graft.model.ExtractedPage
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[ExtractedPage]
    // lateness 10 min, ttl 30 min of event time
    val out = StreamingIngest.nearDupGate(mem.toDS(),
      n = 3, k = 8, lateness = "10 minutes", ttlMs = 30L * 60 * 1000)
    val q = out.writeStream.format("memory").queryName("neardup_gate")
      .outputMode(OutputMode.Append()).start()
    val textA = "the quick brown fox jumps over the lazy dog again and again"
    val textB = "a completely different document about spark catalyst plans"
    def page(url: String, ts: Long, text: String, xxh: Long = 0L) =
      ExtractedPage(url, "s", new Timestamp(ts), text, "en", Nil, "sha", xxh)
    val m = 60L * 1000L
    // batch 1: two same-signature docs + one distinct — tie-break by
    // (warc_ts, html_xxh64, url) admits u1. Event times start well
    // above 0: rows at/below the initial watermark are dropped as late.
    mem.addData(page("u2", 60 * m, textA, xxh = 9L),
      page("u1", 60 * m, textA, xxh = 3L),
      page("u3", 61 * m, textB))
    q.processAllAvailable()
    val got1 = spark.table("neardup_gate").collect().map(_.getString(0)).toSet
    got1 shouldBe Set("u1", "u3")
    // batch 2: same signature within TTL → suppressed
    mem.addData(page("u4", 65 * m, textA))
    q.processAllAvailable()
    spark.table("neardup_gate").count() shouldBe 2L
    // advance event time far past lateness+ttl, then let the timeout
    // trigger fire (timeouts process at the NEXT trigger after the
    // watermark moves), then re-offer the signature
    mem.addData(page("u5", 120 * m, textB + " tail one"))
    q.processAllAvailable()
    mem.addData(page("u6", 121 * m, textB + " tail two"))
    q.processAllAvailable()
    mem.addData(page("u7", 122 * m, textA))
    q.processAllAvailable()
    // a first-seen signature arriving below the watermark (112 min now)
    // is dropped as late, exactly as the transformWithState gate drops it
    mem.addData(page("u8", 30 * m, "an unseen page about late event-time rows"))
    q.processAllAvailable()
    val urls = spark.table("neardup_gate").collect().map(_.getString(0)).toSet
    q.stop()
    urls should contain("u7") // signature re-admitted after eviction
    (urls should not).contain("u8")
    (urls should not).contain("u2")
    (urls should not).contain("u4")
  }

  test("near-dup gate survives a re-arrival far older than the watermark") {
    // a replayed WARC drop can deliver a row more than ttl older than
    // the current watermark, whose naive event-time+ttl timeout lies in
    // the past — the engine rejects past timeouts, so the gate must
    // clamp (regression: found by StreamGateBench at 100k, crashed the
    // query). A micro-batch filters late rows against the PREVIOUS
    // batch's watermark, while the gate's getCurrentWatermarkMs is
    // already this batch's. With no-data batches off, no empty batch
    // advances the late filter between a1's batch and a2's, so a2 passes
    // it (late-filter watermark 0) and reaches the gate, whose watermark
    // is 50 min: the timeout is clamped and a2 is admitted.
    import java.sql.Timestamp
    import graft.model.ExtractedPage
    implicit val sqlCtx = spark.sqlContext
    val noData = "spark.sql.streaming.noDataMicroBatches.enabled"
    val prevNoData = spark.conf.getOption(noData)
    spark.conf.set(noData, "false")
    try {
      val mem = MemoryStream[ExtractedPage]
      val out = StreamingIngest.nearDupGate(mem.toDS(),
        n = 3, k = 8, lateness = "10 minutes", ttlMs = 30L * 60 * 1000)
      val q = out.writeStream.format("memory").queryName("neardup_late")
        .outputMode(OutputMode.Append()).start()
      val m = 60L * 1000L
      def page(url: String, ts: Long, text: String) =
        ExtractedPage(url, "s", new Timestamp(ts), text, "en", Nil, "sha", 0L)
      mem.addData(page("a1", 60 * m, "alpha doc one two three four"))
      q.processAllAvailable()
      // watermark now 50 min; replay a row from t=5 min (55 min late,
      // ttl is 30 min → naive timeout 35 min < watermark): must not crash
      mem.addData(page("a2", 5 * m, "very old replayed doc six seven eight"))
      q.processAllAvailable()
      mem.addData(page("a3", 120 * m, "fresh doc nine ten eleven twelve"))
      q.processAllAvailable()
      val urls = spark.table("neardup_late").collect().map(_.getString(0)).toSet
      q.stop()
      urls should contain("a1")
      urls should contain("a2") // reached the gate: its timeout was clamped
      urls should contain("a3")
    } finally prevNoData match {
      case Some(v) => spark.conf.set(noData, v)
      case None => spark.conf.unset(noData)
    }
  }

  test("transformWithState near-dup gate admits the same pages (RocksDB TTL state)") {
    import java.sql.Timestamp
    import graft.model.ExtractedPage
    implicit val sqlCtx = spark.sqlContext
    val prevProvider = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // Spark 4.1's ChecksumCheckpointFileManager deadlocks its own I/O
    // pool when several tasks close RocksDB snapshot zips concurrently
    // under local[4] (observed via jstack: every task parked in
    // awaitResult inside zipToDfsFile) — turn the checksum layer off
    // for this query
    val prevChecksum = spark.conf.getOption(
      "spark.sql.streaming.checkpoint.fileChecksum.enabled")
    spark.conf.set("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
    // cheap per-batch commits (no snapshot zip per batch per partition)
    spark.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
      "true")
    try {
      val mem = MemoryStream[ExtractedPage]
      val out = StreamingIngest.nearDupGateTws(mem.toDS(), n = 3, k = 8,
        ttl = java.time.Duration.ofHours(2))
      val ckpt = Files.createTempDirectory("graft-tws-ckpt").toString
      // event-time timers quiesce, so processAllAvailable drives each
      // step, as in the flatMapGroupsWithState gate test
      val q = out.writeStream.format("memory").queryName("neardup_tws")
        .outputMode(OutputMode.Append())
        .option("checkpointLocation", ckpt)
        .start()
      val textA = "the quick brown fox jumps over the lazy dog again and again"
      val textB = "a completely different document about spark catalyst plans"
      def page(url: String, ts: Long, text: String, xxh: Long = 0L) =
        ExtractedPage(url, "s", new Timestamp(ts), text, "en", Nil, "sha", xxh)
      val m = 60L * 1000L
      mem.addData(page("u2", 60 * m, textA, xxh = 9L),
        page("u1", 60 * m, textA, xxh = 3L),
        page("u3", 61 * m, textB))
      q.processAllAvailable()
      // identical admission to the event-time gate: u1 by tie-break + u3
      spark.table("neardup_tws").collect().map(_.getString(0)).toSet shouldBe
        Set("u1", "u3")
      mem.addData(page("u4", 65 * m, textA)) // within TTL → suppressed
      q.processAllAvailable()
      spark.table("neardup_tws").count() shouldBe 2L
      // EVENT-TIME eviction (round 6): textA's timer expires at
      // last-seen-max (65m) + ttl (120m) = 185m. Advance the watermark
      // past it with fresh docs (300m − 30m lateness = 270m), then a
      // textA re-arrival must be ADMITTED again — the processing-time-
      // TTL shape this replaced kept every signature live for a
      // wall-clock hour and would still suppress it here.
      val textC = "yet another unrelated page about parquet row groups"
      val textD = "and one more on shuffle partitions and exchange reuse"
      mem.addData(page("u5", 300 * m, textC)) // admits; wm → 270m after
      q.processAllAvailable()
      mem.addData(page("u6", 310 * m, textD)) // admits; textA timer fires
      q.processAllAvailable()
      mem.addData(page("u7", 320 * m, textA)) // state cleared → admitted
      q.processAllAvailable()
      spark.table("neardup_tws").collect().map(_.getString(0)).toSet shouldBe
        Set("u1", "u3", "u5", "u6", "u7")
      // a first-seen signature below the watermark (290m after u7) is
      // dropped as late, as the event-time gate drops it; u9 rides in the
      // same batch, so the batch is observed
      mem.addData(page("u8", 100 * m, "an unseen page about late event-time rows"),
        page("u9", 330 * m, "a last fresh page on broadcast hash joins"))
      q.processAllAvailable()
      spark.table("neardup_tws").collect().map(_.getString(0)).toSet shouldBe
        Set("u1", "u3", "u5", "u6", "u7", "u9")
      q.stop()
    } finally {
      prevProvider match {
        case Some(p) =>
          spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None =>
          spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
      prevChecksum match {
        case Some(p) =>
          spark.conf.set("spark.sql.streaming.checkpoint.fileChecksum.enabled", p)
        case None =>
          spark.conf.unset("spark.sql.streaming.checkpoint.fileChecksum.enabled")
      }
    }
  }

  test("mapGroupsWithState site counter matches batch aggregation") {
    val ex = graft.extract.Extract.run(Synth.pages(spark, cfg))
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[graft.model.ExtractedPage]
    val counts = StreamingIngest.sitePageCounts(mem.toDS())
    val q = counts.writeStream.format("memory").queryName("site_counts")
      .outputMode(OutputMode.Update()).start()
    val rows = ex.collect()
    mem.addData(rows.take(rows.length / 2).toIndexedSeq)
    q.processAllAvailable()
    mem.addData(rows.drop(rows.length / 2).toIndexedSeq)
    q.processAllAvailable()
    // latest state per site:
    val got = spark.table("site_counts")
      .groupBy("site").agg(org.apache.spark.sql.functions.max("n_pages").as("n_pages"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    q.stop()
    val want = StreamingIngest.sitePageCountsBatch(ex)
      .collect().map(c => c.site -> c.n_pages).toMap
    got shouldBe want
  }
}
