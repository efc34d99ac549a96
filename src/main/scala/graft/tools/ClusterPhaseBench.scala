package graft.tools

import graft.pipeline.Pipeline
import graft.synth.{BenchInput, Synth}

/** Per-stage wall time and Spark job count of `Pipeline.run` under REAL
  * separate executor JVMs, built to attribute the N→4N efficiency gap
  * stage by stage (BENCH/BASELINE.md). Times the construction, then
  * fills each of the graph's six caches in dependency order
  * ([[Harness.timeStages]]), so the steps sum to the bench legs' work.
  *
  *   sbt package && sbt "runMain graft.tools.ClusterPhaseBench <workers> <coresPerWorker> <nPages>"
  */
object ClusterPhaseBench {
  def main(args: Array[String]): Unit = {
    val nWorkers = args(0).toInt
    val coresPerWorker = args(1).toInt
    val nPages = if (args.length > 2) args(2).toLong else 200000L
    val spark = Harness.clusterSession(nWorkers, coresPerWorker, "graft-phase")
    import spark.implicits._

    val cfg = BenchInput.cfg(nPages)
    val inputDir = BenchInput.ensure(spark, nPages)
    def readPages() = spark.read.parquet(inputDir).as[graft.model.PageRow]
    Harness.warmUp(readPages(), cfg)

    val tag = s"[cluster-phase] $nWorkers x $coresPerWorker"
    val jobs = new JobCounter(spark.sparkContext)
    val g = Harness.timeStages(jobs, s => println(s"$tag $s")) {
      Pipeline.run(readPages(), Synth.aliases(spark, cfg),
        Synth.sameAs(spark, cfg), cfg.nPages)
    }
    try println(s"$tag triples=${g.triples.count()}") finally g.unpersist()
    jobs.close()
    spark.stop()
  }
}
