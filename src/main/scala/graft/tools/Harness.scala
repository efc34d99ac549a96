package graft.tools

import graft.model.PageRow
import graft.pipeline.Pipeline
import graft.synth.{Synth, SynthConfig}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{Dataset, Row, SparkSession}

/** What the measuring tools share: the `local-cluster` session recipe,
  * the warm-up, and the stage-by-stage timing of the real
  * `Pipeline.run` (no tool re-composes the stage chain). */
object Harness {

  /** A `local-cluster[nWorkers, coresPerWorker, mem]` session: separate
    * executor JVMs on this box, each with its own heap, GC and codegen
    * cache — the closest single-box analog to N cluster executors. The
    * executors load the packaged jar, so run `sbt package` first. Spark
    * supplies their JDK 17 module options itself: SparkContext prepends
    * `JavaModuleOptions.defaultModuleOptions()` (the `--add-opens` set
    * build.sbt passes to the forked JVM, and more) to
    * `spark.executor.extraJavaOptions`.
    *
    * Environment:
    *  - `SPARK_GRAFT_EXEC_MB`: per-executor memory in MB (default 4096),
    *    the same on every topology so N→4N compares equal executors;
    *  - `SPARK_GRAFT_SHUFFLE`: shuffle partitions (default: total cores);
    *  - `SPARK_GRAFT_APC=off`: drop the `-XX:ActiveProcessorCount` cap.
    *    A real cluster caps each executor's visible CPUs (cgroups); a
    *    local-cluster executor JVM sees every host core and sizes its
    *    GC/JIT/netty pools for them, so by default each executor sees
    *    only its granted cores. The cap also shrinks GC worker pools,
    *    which costs allocation-heavy legs; hence the A/B switch. */
  def clusterSession(
      nWorkers: Int, coresPerWorker: Int, appName: String): SparkSession = {
    val jar = new java.io.File(
      "target/scala-2.13/clangdtoneo4jspark_2.13-0.1.0.jar").getAbsolutePath
    require(new java.io.File(jar).exists(), s"run `sbt package` first: $jar")
    val execMb = sys.env.getOrElse("SPARK_GRAFT_EXEC_MB", "4096").toInt
    val settings = SparkSession.builder()
      .master(s"local-cluster[$nWorkers, $coresPerWorker, $execMb]")
      .appName(s"$appName-$nWorkers-x-$coresPerWorker")
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse(
        "SPARK_GRAFT_SHUFFLE", (nWorkers * coresPerWorker).toString))
      .config("spark.jars", jar)
      .config("spark.executor.memory", s"${execMb}m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // shuffle spill to tmpfs: the executors share ONE local disk, which
      // N separate nodes would not
      .config("spark.local.dir", "/dev/shm/graft-spark")
      // wide-binary corpus: default 4096-row reader batches cost ~80 MB
      // per concurrent reader on ≈20 KB rows
      .config("spark.sql.parquet.columnarReaderBatchSize", "512")
    if (!sys.env.get("SPARK_GRAFT_APC").contains("off"))
      settings.config("spark.executor.extraJavaOptions",
        s"-XX:ActiveProcessorCount=$coresPerWorker")
    val spark = settings.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    println("[cluster] spark.executor.extraJavaOptions=" +
      spark.sparkContext.getConf.get("spark.executor.extraJavaOptions", ""))
    spark
  }

  /** JIT and codegen warm-up, out of the measured window:
    * `Pipeline.run` over the first 1,000 pages through the triple count. */
  def warmUp(pages: Dataset[PageRow], cfg: SynthConfig): Unit = {
    val spark = pages.sparkSession
    val g = Pipeline.run(pages.limit(1000),
      Synth.aliases(spark, cfg), Synth.sameAs(spark, cfg), 1000L)
    g.triples.count()
    g.unpersist()
  }

  /** One measured step: wall seconds and the Spark jobs it ran. */
  final case class Step(name: String, secs: Double, jobs: Long) {
    override def toString: String = f"$name $secs%.2f s jobs=$jobs"
  }

  /** Runs `body`, timing its wall and counting its Spark jobs. */
  def measure[T](jobs: JobCounter, name: String)(body: => T): (T, Step) = {
    val n0 = jobs.sync()
    val t0 = System.nanoTime()
    val r = body
    val secs = (System.nanoTime() - t0) / 1e9
    (r, Step(name, secs, jobs.sync() - n0))
  }

  /** Times `construct` (a `Pipeline.run` call), then fills each cache of
    * the graph it returns in dependency order (`Graph.caches`), so a
    * step's wall and jobs are its own stage's work: every input it reads
    * is already cached. Each step goes to `report` as it ends. Returns the
    * graph; the caller unpersists it. */
  def timeStages(jobs: JobCounter, report: Step => Unit)(
      construct: => Pipeline.Graph): Pipeline.Graph = {
    val (g, built) = measure(jobs, "construct")(construct)
    report(built)
    g.caches.foreach { case (name, ds) =>
      report(measure(jobs, name) {
        ds.toDF().foreachPartition((_: Iterator[Row]) => ())
      }._2)
    }
    g
  }
}

/** Counts the Spark jobs an action runs and the shuffle bytes its tasks
  * write. Listener events arrive asynchronously, in order: `sync()` runs
  * a one-task marker job and waits until the listener has seen it start,
  * so every job submitted and every task ended before the marker has
  * been counted. The jobs of an action are the difference of the counts
  * `sync()` returns around it; marker jobs are not counted (their one
  * task writes no shuffle). */
final class JobCounter(sc: SparkContext) extends SparkListener {
  private val Marker = "graft-job-counter-marker-"
  @volatile private var jobs = 0L
  @volatile private var shuffleWritten = 0L
  private val markers = new java.util.concurrent.LinkedBlockingQueue[String]()
  private var nMarkers = 0
  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
      .filter(_.startsWith(Marker)) match {
      case Some(m) => markers.put(m)
      case None => jobs += 1
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(e.taskMetrics).foreach(m =>
      shuffleWritten += m.shuffleWriteMetrics.bytesWritten)

  /** Shuffle bytes written by the tasks seen so far; read it after
    * `sync()`. */
  def shuffleBytesWritten: Long = shuffleWritten

  /** Jobs counted so far, once every earlier job has been seen. */
  def sync(): Long = {
    nMarkers += 1
    val tag = s"$Marker$nMarkers"
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(tag)
    try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(prev)
    while (markers.take() != tag) ()
    jobs
  }

  def close(): Unit = sc.removeSparkListener(this)
}
