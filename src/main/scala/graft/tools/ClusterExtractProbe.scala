package graft.tools

import graft.extract.Extract
import org.apache.spark.sql.functions._

/** Attribution probe for the extract leg under REAL separate executor
  * JVMs: times the key-width dedup (round 5), the wide-shuffle plan it
  * replaced, and their components (pass-1 key aggregation alone; a
  * no-dedup extract-everything scan as the lower bound) on the shared
  * bench input, on the shared [[Harness.clusterSession]].
  *
  *   sbt package && sbt "runMain graft.tools.ClusterExtractProbe <workers> <coresPerWorker> <nPages>"
  */
object ClusterExtractProbe {
  def main(args: Array[String]): Unit = {
    val nWorkers = args(0).toInt
    val coresPerWorker = args(1).toInt
    val nPages = if (args.length > 2) args(2).toLong else 50000L
    val spark = Harness.clusterSession(nWorkers, coresPerWorker,
      "graft-extract-probe")
    import spark.implicits._

    val inputDir = graft.synth.BenchInput.ensure(spark, nPages)
    def pages() = spark.read.parquet(inputDir).as[graft.model.PageRow]

    // shuffle-write bytes per timed block, summed from TaskEnd metrics
    // (the VERDICT "Done" evidence: key-width dedup must shuffle ~40 B
    // per row where the wide plan shuffled the full extracted record)
    val jobs = new JobCounter(spark.sparkContext)

    def t(name: String)(body: => Any): Unit = {
      body // warm
      val secs = (1 to 3).map { _ =>
        val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
      }.min
      jobs.sync()
      val b0 = jobs.shuffleBytesWritten
      body
      jobs.sync()
      val mb = (jobs.shuffleBytesWritten - b0) / 1e6
      println(f"[cluster-extract-probe] $nWorkers x $coresPerWorker $name " +
        f"$secs%.2f s  shuffle-write $mb%.1f MB")
    }

    // consume like the PIPELINE does — referencing the heavy columns.
    // A bare count() lets Catalyst prune the max_by payload to keys-only
    // BEFORE the exchange (measured: the "wide" plan shuffled 0.8 MB at
    // 50k pages under count() vs the ~600 MB the persisted extracted
    // stage actually pays), flattering exactly the plan under test.
    def consume(ds: org.apache.spark.sql.Dataset[graft.model.ExtractedPage]): Unit = {
      ds.toDF().select(sum(length($"text")), sum(size($"links")),
        sum(length($"text_sha256")), sum($"html_xxh64" * 0)).collect()
      ()
    }
    t("narrow winner pass alone (pass-1 shape, html pruned)") {
      pages().toDF().select($"url", $"warc_ts")
        .groupBy($"url", $"warc_ts").agg(count(lit(1)).as("c"))
        .groupBy($"url").agg(sum($"c").as("n"))
        .filter($"n" > 1).count()
    }
    t("scan+hash pass (first-cut pass-1: reads all html)") {
      pages().toDF().select($"url", $"warc_ts", xxhash64($"html").as("h"))
        .groupBy($"url", $"warc_ts", $"h").agg(count(lit(1)).as("c"))
        .groupBy($"url").agg(sum($"c").as("n"))
        .filter($"n" > 1).count()
    }
    t("extract-everything, no dedup (lower bound)") {
      consume(pages().map(p => Extract.extractOne(p)))
    }
    t("key-width run (round 5)") { consume(Extract.run(pages())) }
    t("wide-shuffle run (round 4)") { consume(Extract.runWideShuffle(pages())) }
    // the PIPELINE's extract leg is persist(MEMORY_AND_DISK) + count —
    // the columnar cache build is its own cost center on ~12 KB rows, so
    // time it separately for both dedup plans (the bench legs' gap vs
    // the consume() blocks above is exactly this)
    def persisted(name: String)(mk: => org.apache.spark.sql.Dataset[graft.model.ExtractedPage]): Unit =
      t(name) {
        val e = mk.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        e.count()
        e.unpersist(blocking = true)
      }
    persisted("key-width + persist + count (pipeline extract-leg shape)") {
      Extract.run(pages())
    }
    persisted("wide-shuffle + persist + count (round-4 extract-leg shape)") {
      Extract.runWideShuffle(pages())
    }
    spark.stop()
  }
}
