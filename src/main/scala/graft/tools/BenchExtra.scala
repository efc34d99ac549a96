package graft.tools

import graft.SparkEntry
import graft.pipeline.Pipeline
import graft.synth.Synth
import graft.util.Checksum
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, to_json}

/** Round-6 optimization instrument (spark_optimization_guide.md §1) —
  * NOT part of the frozen driver contract (Bench.scala is the graded
  * harness; this main exists so optimization evidence can be gathered
  * without touching it).
  *
  * Modes (args(0)):
  *  - `plans <tag> [qname...]`: write `.explain("formatted")` of each
  *    declared query to plans/r06/<qname>_<tag>.txt (default: all).
  *  - `queries [qname...]`: noop-sink-isolated min-of-3 per query
  *    (guide §1.4 — times the computation, not the count() shortcut).
  *  - `phases [nPages]`: per-stage wall time and Spark job count of
  *    `Pipeline.run` itself — its construction, then each of its six
  *    caches filled in dependency order ([[Harness.timeStages]]) — the
  *    end-to-end kg leg, and an outputs leg: Pipeline.run's
  *    construction, then all-column checksums of triples, nodes and
  *    adjacency (the ones perfbench's run_dense takes), each with its
  *    wall time and Spark job count.
  *
  * Session setup mirrors graft.Bench (same master/shuffle conf) so the
  * numbers are comparable to BENCH_r*.json legs.
  */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-bench-extra")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def time(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }

    args.headOption.getOrElse("queries") match {
      case "plans" =>
        val tag = args(1)
        val wanted =
          if (args.length > 2) args.drop(2).toSet
          else SparkEntry.queries.keySet
        val dir = new java.io.File("plans/r06")
        dir.mkdirs()
        SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
          if (wanted(name)) {
            val df = fn(spark, sfDir)
            val txt = df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            val out = new java.io.PrintWriter(
              new java.io.File(dir, s"${name}_$tag.txt"))
            try out.println(txt) finally out.close()
            println(s"[plans] wrote ${name}_$tag.txt")
          }
        }

      case "queries" =>
        val wanted =
          if (args.length > 1) args.drop(1).toSet
          else SparkEntry.queries.keySet
        // one warm-up action for JIT/codegen, as Bench's kg leg does
        noop(SparkEntry.queries("q06_histogram")(spark, sfDir))
        SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
          if (wanted(name)) {
            spark.sparkContext.setJobDescription(name)
            val ts = (1 to 3).map(_ => time(noop(fn(spark, sfDir))))
            println(f"[q] $name min=${ts.min}%.3f s  runs=${ts.map(t => f"$t%.3f").mkString(",")}")
            spark.sparkContext.setJobDescription(null)
          }
        }

      case "phases" =>
        import spark.implicits._
        val nPages = if (args.length > 1) args(1).toLong else 20000L
        val cfg = graft.synth.BenchInput.cfg(nPages)
        val inputDir = graft.synth.BenchInput.ensure(spark, nPages)
        spark.conf.set("spark.sql.parquet.columnarReaderBatchSize", "512")
        def construct(): Pipeline.Graph = Pipeline.run(
          spark.read.parquet(inputDir).as[graft.model.PageRow],
          Synth.aliases(spark, cfg), Synth.sameAs(spark, cfg), cfg.nPages)
        val jobs = new JobCounter(spark.sparkContext)
        def leg(): Unit = {
          val g = Harness.timeStages(jobs, s => println(s"[phase] $s"))(construct())
          try println(s"[phase]   triples=${g.triples.count()}")
          finally g.unpersist()
        }
        // warm-up leg then two measured legs (Bench protocol shape)
        println("[phase] === warm-up leg ===")
        leg()
        println("[phase] === measured leg 1 ===")
        leg()
        println("[phase] === measured leg 2 ===")
        leg()
        // end-to-end, exactly as Bench times it
        var triples = 0L
        def kgOnce(): Double = time {
          val g = construct()
          triples = g.triples.count()
          g.unpersist()
        }
        val es = (1 to 3).map(_ => kgOnce())
        println(f"[phase] end-to-end min=${es.min}%.2f s runs=${es.map(t => f"$t%.2f").mkString(",")} triples=$triples")
        // outputs leg: wall and job count of Pipeline.run's construction
        // and of each output action
        (1 to 3).foreach { round =>
          def measured[T](name: String)(body: => T): T = {
            val (r, step) = Harness.measure(jobs, name)(body)
            println(s"[outputs] round $round $step")
            r
          }
          val g = measured("construct")(construct())
          try {
            measured("triples") {
              Checksum.of(g.triples.toDF(), Seq("subj", "pred", "obj"))
            }
            measured("nodes") {
              Checksum.of(g.nodes.toDF()
                .withColumn("props_json", to_json(col("props"))),
                Seq("node_id", "label", "props_json"))
            }
            measured("adjacency") {
              Checksum.of(g.adjacency.toDF(), Seq("src", "dst", "pred"))
            }
          } finally g.unpersist()
        }
        jobs.close()

      case other =>
        System.err.println(s"unknown mode $other")
        sys.exit(2)
    }
    spark.stop()
  }
}
