package graft.tools

import graft.pipeline.Pipeline
import graft.synth.Synth
import org.apache.spark.sql.SparkSession

/** Scaling-efficiency evidence (north_rule: throughput efficiency >= 0.8
  * from N to 4N executors; no cluster in this sandbox, so the same job
  * runs at two local parallelism levels on IDENTICAL input —
  * SURVEY.md §7.5).
  *
  *   runMain graft.tools.ScalingBench <cpus> <nPages>
  *
  * One JVM per parallelism level (spark.master is fixed per JVM);
  * shuffle partitions scale with cores. Prints one JSON line.
  */
object ScalingBench {
  def main(args: Array[String]): Unit = {
    val cpus = args(0).toInt
    val nPages = if (args.length > 1) args(1).toLong else 50000L
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graft-scaling-$cpus")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Shuffle spill to tmpfs: locally both parallelism levels share ONE
      // disk, which a real N-node vs 4N-node cluster does not — spilling
      // to RAM removes that shared-device artifact from the comparison.
      .config("spark.local.dir", "/dev/shm/graft-spark")
      // wide-binary corpus: default 4096-row reader batches cost ~80 MB
      // per concurrent reader on ≈20 KB rows
      .config("spark.sql.parquet.columnarReaderBatchSize", "512")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Realistic page shape (tens of KB, ~6 mentions/page) — see
    // SynthConfig scaladoc; the fixture defaults are unrealistically
    // light and make the job overhead-bound instead of extract-bound.
    val cfg = graft.synth.BenchInput.cfg(nPages)

    // The north rule's input is a TABLE of web pages, not a generator —
    // materialize the corpus to parquet once (unmeasured; shared across
    // parallelism levels) and measure the pipeline reading it.
    import spark.implicits._
    val inputDir = graft.synth.BenchInput.ensure(spark, nPages)
    def readPages() = spark.read.parquet(inputDir).as[graft.model.PageRow]

    // warm-up out of the measured window (both parallelism levels get
    // the same treatment)
    Harness.warmUp(readPages(), cfg)

    val trials = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      val g = Pipeline.run(readPages(), Synth.aliases(spark, cfg),
        Synth.sameAs(spark, cfg), cfg.nPages)
      val triples = g.triples.count()
      val secs = (System.nanoTime() - t0) / 1e9
      g.unpersist()
      secs -> triples
    }
    val (secs, triples) = trials.minBy(_._1)
    println(f"""{"bench":"scaling","cpus":$cpus,"pages":$nPages,""" +
      f""""triples":$triples,"secs":$secs%.2f,""" +
      f""""docs_per_sec":${nPages / secs}%.1f,"triples_per_sec":${triples / secs}%.1f}""")
    spark.stop()
  }
}
