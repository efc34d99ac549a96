package graft.tools

import java.sql.Timestamp

import graft.incr.Incremental
import graft.pipeline.Pipeline
import graft.synth.{Synth, SynthConfig}
import org.apache.spark.sql.SparkSession

/** Incremental-vs-full-rebuild wall-time evidence on the realistic page
  * shape (≈20 KB html — extraction-dominant, like a real crawl):
  *
  *   runMain graft.tools.IncrementalBench [nPages] [nBuckets] [nChanged]
  *
  * The mutation is ALIAS-NEUTRAL (appends non-dictionary filler), so the
  * relink scope is exactly the dirty buckets — the favorable case the
  * bucket design optimizes for. A mutation that changes a head alias's
  * document frequency correctly forces a global relink instead
  * (incremental ≡ full rebuild comes first); UpdateKg demos that path.
  * Between the build and the update it builds again at the same
  * snapshot id, which resumes every stage from its manifest. Prints one
  * JSON line with the walls and Spark job counts of the build, the
  * resumed build and the update (`Harness.measure`).
  */
object IncrementalBench {
  def main(args: Array[String]): Unit = {
    val nPages = if (args.length > 0) args(0).toLong else 20000L
    val nBuckets = if (args.length > 1) args(1).toInt else 32
    val nChanged = if (args.length > 2) args(2).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-incr-bench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.parquet.columnarReaderBatchSize", "512")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val cfg = graft.synth.BenchInput.cfg(nPages)
    val inputDir = graft.synth.BenchInput.ensure(spark, nPages)
    def oldPages() = spark.read.parquet(inputDir).as[graft.model.PageRow]
    val changed = (1 to nChanged).map(i => s"/${i * 7}")
    def newPages() = oldPages().map { p =>
      if (changed.exists(p.url.endsWith))
        p.copy(
          warc_ts = new Timestamp(p.warc_ts.getTime + 7200000L),
          html = (new String(p.html, "UTF-8")
            .replace("</body>", "<p>zzfiller qqfiller</p></body>"))
            .getBytes("UTF-8"))
      else p
    }

    val outDir = java.nio.file.Files
      .createTempDirectory("graft-incr-bench").toString
    val jobs = new JobCounter(spark.sparkContext)
    def build() = Pipeline.build(spark, oldPages(), Synth.aliases(spark, cfg),
      Synth.sameAs(spark, cfg), cfg.nPages, outDir, "snap-old", nBuckets)
    val (_, full) = Harness.measure(jobs, "build")(build())
    val (_, resume) = Harness.measure(jobs, "resume")(build())
    // production path: diff against the persisted urlhash stage — the
    // old corpus is never read
    val (dirty, upd) = Harness.measure(jobs, "update") {
      Incremental.updateFromStored(spark, newPages(),
        Synth.aliases(spark, cfg), Synth.sameAs(spark, cfg), cfg.nPages,
        outDir, "snap-new", nBuckets)
    }
    jobs.close()
    println(f"""{"bench":"incremental","pages":$nPages,"buckets":$nBuckets,""" +
      f""""changed_pages":$nChanged,"dirty_buckets":${dirty.size},""" +
      f""""full_build_secs":${full.secs}%.2f,"update_secs":${upd.secs}%.2f,""" +
      f""""resume_secs":${resume.secs}%.2f,""" +
      f""""build_jobs":${full.jobs},"resume_jobs":${resume.jobs},""" +
      f""""update_jobs":${upd.jobs},""" +
      f""""speedup":${full.secs / upd.secs}%.2f}""")
    spark.stop()
  }
}
