package graft.tools

import graft.pipeline.Pipeline
import graft.synth.Synth

/** Scaling-efficiency evidence with REAL separate executor JVMs:
  * `local-cluster[N, cores, mem]` launches N worker processes on this
  * box, each with its own heap, GC, and codegen cache — the closest
  * sandbox analog to N cluster executors, and free of the single-JVM
  * memory-bandwidth/GC coupling that muddied the plain local[k]
  * comparison (BENCH/BASELINE.md round 1).
  *
  *   sbt package && sbt "runMain graft.tools.ClusterScalingBench <workers> <coresPerWorker> <nPages>"
  *
  * Session recipe: [[Harness.clusterSession]]. Same protocol as
  * ScalingBench: materialized parquet input shared across runs, the
  * shared warm-up out of the window, min-of-3 trials, one JSON
  * line out. Compare workers=2 vs workers=8 at equal coresPerWorker for
  * the N→4N story.
  */
object ClusterScalingBench {
  def main(args: Array[String]): Unit = {
    val nWorkers = args(0).toInt
    val coresPerWorker = args(1).toInt
    val nPages = if (args.length > 2) args(2).toLong else 50000L
    val spark = Harness.clusterSession(nWorkers, coresPerWorker,
      "graft-cluster-scaling")
    import spark.implicits._

    val cfg = graft.synth.BenchInput.cfg(nPages)
    // one fixed BenchInput.PartFiles layout regardless of generating session: a table
    // written by a 2-core session would otherwise cap scan parallelism at
    // a handful of row-group splits and silently wreck the scaling story
    val inputDir = graft.synth.BenchInput.ensure(spark, nPages)
    def readPages() = spark.read.parquet(inputDir).as[graft.model.PageRow]

    Harness.warmUp(readPages(), cfg)

    val trials = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      val g = Pipeline.run(readPages(), Synth.aliases(spark, cfg),
        Synth.sameAs(spark, cfg), cfg.nPages)
      g.extracted.count() // materialize the extract stage first …
      val tExtract = (System.nanoTime() - t0) / 1e9
      val triples = g.triples.count() // … then everything downstream
      val secs = (System.nanoTime() - t0) / 1e9
      g.unpersist()
      (secs, tExtract, triples)
    }
    val (secs, tExtract, triples) = trials.minBy(_._1)
    println(f"""{"bench":"cluster-scaling","workers":$nWorkers,""" +
      f""""cores_per_worker":$coresPerWorker,"pages":$nPages,""" +
      f""""triples":$triples,"secs":$secs%.2f,"extract_secs":$tExtract%.2f,""" +
      f""""docs_per_sec":${nPages / secs}%.1f}""")
    spark.stop()
  }
}
