package graft.tools

import graft.extract.Extract
import graft.streaming.StreamingIngest
import graft.synth.{Synth, SynthConfig}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.Trigger

/** Bench: the near-dup gate at corpus scale — WARC-drop micro-batches
  * over the landing-dir file source, RocksDB state store.
  *
  *   runMain graft.tools.StreamGateBench [nPages] [nDrops] [cpus] [mode]
  *
  * mode = fmgws (default): flatMapGroupsWithState, event-time TTL
  * eviction, AvailableNow drain (event-time timeouts quiesce).
  * mode = tws: the same gate on transformWithState with EVENT-time
  * timers (round 6) — drains with AvailableNow like fmgws; the state
  * row of this bench is the bounded-live-state evidence (signatures
  * whose watermark passed last-seen + ttl are evicted mid-run).
  *
  * Drops overlap by 10%: each re-lands the tail of the previous drop,
  * so the gate has real suppression work (same text → same signature →
  * suppressed within the TTL), not just pass-through. Prints ONE JSON
  * line with throughput and state-store size; the MemoryStream specs
  * pin the semantics, this pins the scale behavior.
  *
  * RocksDB config: checkpoint fileChecksum is DISABLED — with many
  * concurrent snapshot zip uploads the checksum writer deadlocked its
  * own I/O pool (measured, Spark 4.1; see StreamingIngest scaladoc).
  * Changelog checkpointing is the alternative fix.
  *
  * Its scratch dirs go under `BenchInput.root` (`/dev/shm` unless
  * `SPARK_GRAFT_BENCH_INPUT_ROOT` names another directory).
  */
object StreamGateBench {
  def main(args: Array[String]): Unit = {
    val nPages = if (args.length > 0) args(0).toLong else 100000L
    val nDrops = if (args.length > 1) args(1).toInt else 10
    val cpus = if (args.length > 2) args(2) else
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val mode = if (args.length > 3) args(3) else "fmgws"
    require(mode == "fmgws" || mode == "tws", s"unknown mode $mode")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-stream-gate-bench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    if (mode == "tws") // changelog ckpt: no snapshot-zip storm
      spark.conf.set(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true")

    val base = s"${graft.synth.BenchInput.root}/graft-stream-gate-$nPages"
    val inDir = s"$base/in"
    val outDir = s"$base/out"
    val ckptDir = s"$base/ckpt"
    delete(base)

    // land nDrops overlapping WARC drops: drop j = pages
    // [j*step - overlap, (j+1)*step); ~20 KB realistic pages (same synth
    // shape as Bench/ScalingBench so docs/sec is comparable)
    val cfg = SynthConfig(nPages = nPages, nSites = 50, nEntities = 1000,
      fillerParas = 30, mentionSlots = 12)
    val step = nPages / nDrops
    val overlap = step / 10
    var landed = 0L
    (0 until nDrops).foreach { j =>
      val lo = math.max(0L, j * step - overlap)
      val hi = (j + 1) * step
      landed += hi - lo
      spark.range(lo, hi).flatMap(i => Synth.pageRows(cfg, i))
        .write.mode("append").parquet(inDir)
    }

    val schema = spark.emptyDataset[graft.model.PageRow].schema
    val pages = spark.readStream.schema(schema)
      // one micro-batch ≈ one drop (each drop lands `cpus` part files)
      .option("maxFilesPerTrigger", cpus)
      .parquet(inDir).as[graft.model.PageRow]
    val extracted = pages.map(p => Extract.extractOne(p))
    val gated: Dataset[graft.model.ExtractedPage] =
      if (mode == "tws")
        StreamingIngest.nearDupGateTws(extracted,
          ttl = java.time.Duration.ofHours(1))
      else StreamingIngest.nearDupGate(extracted)

    val t0 = System.nanoTime()
    val q = gated.writeStream
      .foreachBatch { (batch: Dataset[graft.model.ExtractedPage], _: Long) =>
        batch.write.mode("append").parquet(outDir)
        ()
      }
      .option("checkpointLocation", ckptDir)
      .trigger(Trigger.AvailableNow()) // event-time timeouts: quiesces
      .start()
    q.awaitTermination()
    val wall = (System.nanoTime() - t0) / 1e9

    val admitted = spark.read.parquet(outDir).count()
    val progress = q.lastProgress
    val st = progress.stateOperators.headOption
    val stateRows = st.map(_.numRowsTotal).getOrElse(-1L)
    val stateBytes = st.map(_.memoryUsedBytes).getOrElse(-1L)
    val ckptBytes = dirSize(new java.io.File(ckptDir))
    println(
      f"""{"bench":"stream-gate","mode":"$mode","pages_landed":$landed,"drops":$nDrops,"""
        + f""""admitted":$admitted,"suppressed":${landed - admitted},"""
        + f""""wall_secs":$wall%.1f,"docs_per_sec":${landed / wall}%.1f,"""
        + f""""state_rows":$stateRows,"state_bytes":$stateBytes,"""
        + f""""ckpt_bytes":$ckptBytes,"cpus":"$cpus"}""")
    spark.stop()
  }

  private def dirSize(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(dirSize).sum).getOrElse(0L)
    else f.length()

  private def delete(path: String): Unit = {
    def rec(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rec))
      f.delete(); ()
    }
    rec(new java.io.File(path))
  }
}
