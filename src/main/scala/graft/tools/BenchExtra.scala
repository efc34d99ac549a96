package graft.tools

import graft.SparkEntry
import graft.pipeline.Pipeline
import graft.synth.{BenchInput, Synth}
import graft.util.Checksum
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, to_json}

/** Round-6 optimization instrument (spark_optimization_guide.md §1) —
  * NOT part of the frozen driver contract (Bench.scala is the graded
  * harness; this main exists so optimization evidence can be gathered
  * without touching it).
  *
  * Modes (args(0)):
  *  - `plans <tag> [name...]`: write the plans of each declared query
  *    (`.explain("formatted")`) and the optimized and executed plans of
  *    `Pipeline.run`'s triples, nodes and adjacency on
  *    `BenchInput.cfg(1000)` (`run_triples`, `run_nodes`,
  *    `run_adjacency`) to plans/<tag>/<name>.txt (default: all), with
  *    run-dependent ids normalised (`normalisePlan`). "Plans
  *    unchanged" is then `diff -r plans/<tag1> plans/<tag2>`.
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
        val dir = new java.io.File(s"plans/$tag")
        dir.mkdirs()
        def write(name: String, plan: String): Unit = {
          val out = new java.io.PrintWriter(new java.io.File(dir, s"$name.txt"))
          try out.println(normalisePlan(plan)) finally out.close()
          println(s"[plans] wrote $tag/$name.txt")
        }
        val runOutputs = Seq("run_triples", "run_nodes", "run_adjacency")
        val wanted =
          if (args.length > 2) args.drop(2).toSet
          else SparkEntry.queries.keySet ++ runOutputs
        SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
          if (wanted(name)) write(name, fn(spark, sfDir).queryExecution
            .explainString(org.apache.spark.sql.execution.FormattedMode))
        }
        if (runOutputs.exists(wanted)) {
          val cfg = BenchInput.cfg(1000L)
          val g = Pipeline.run(Synth.pages(spark, cfg), Synth.aliases(spark, cfg),
            Synth.sameAs(spark, cfg), cfg.nPages)
          try runOutputs.zip(Seq(g.triples.toDF(), g.nodes.toDF(), g.adjacency.toDF()))
            .foreach { case (name, df) =>
              if (wanted(name)) write(name,
                "== Optimized Logical Plan ==\n" + df.queryExecution.optimizedPlan +
                  "\n== Physical Plan ==\n" + df.queryExecution.executedPlan)
            }
          finally g.unpersist()
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
        val cfg = BenchInput.cfg(nPages)
        val inputDir = BenchInput.ensure(spark, nPages)
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

  /** `plan` with what differs between two runs of the same plan replaced
    * by placeholders: expression ids (`#12`), plan ids (`plan_id=3`), RDD
    * ids and call-site lines of checkpointed scans (`MapPartitionsRDD[148]
    * at localCheckpoint at X.scala:92`), lambda class names and object
    * hashes (`$$Lambda/0x...@1f2e`) and lambda-variable counters (`x_7`). */
  private def normalisePlan(plan: String): String = Seq(
    """#\d+""" -> "#N",
    """plan_id=\d+""" -> "plan_id=N",
    """RDD\[\d+\]""" -> "RDD[N]",
    """\.scala:\d+""" -> ".scala:N",
    """\$\$Lambda[^\s,)\]]*""" -> "\\$\\$Lambda",
    """@[0-9a-f]{4,}\b""" -> "@H",
    """\bx_\d+""" -> "x_K").foldLeft(plan) { case (s, (re, to)) => s.replaceAll(re, to) }
}
