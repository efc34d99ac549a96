package graft.tools

import graft.emit.Emit
import graft.extract.Extract
import graft.link.Link
import graft.mention.Mention
import graft.pipeline.Pipeline
import graft.synth.Synth
import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel

/** Per-stage wall-time breakdown under REAL separate executor JVMs —
  * the cluster-topology sibling of [[PhaseBench]], built to attribute
  * the N→4N efficiency gap stage by stage (BENCH/BASELINE.md names the
  * eager mention/alias-df pass as the round-6 suspect). Same session
  * recipe as ClusterScalingBench; stages mirror Pipeline.run, including
  * its cache coalesce, so the sum corresponds to the bench legs.
  *
  *   sbt package && sbt "runMain graft.tools.ClusterPhaseBench <workers> <coresPerWorker> <nPages>"
  */
object ClusterPhaseBench {
  def main(args: Array[String]): Unit = {
    val nWorkers = args(0).toInt
    val coresPerWorker = args(1).toInt
    val nPages = if (args.length > 2) args(2).toLong else 200000L
    val totalCores = nWorkers * coresPerWorker

    val jar = new java.io.File(
      "target/scala-2.13/clangdtoneo4jspark_2.13-0.1.0.jar").getAbsolutePath
    require(new java.io.File(jar).exists(), s"run `sbt package` first: $jar")
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar")
      .map(p => s"--add-opens=$p=ALL-UNNAMED").mkString(" ") +
      (if (sys.env.get("SPARK_GRAFT_APC").contains("off")) ""
       else s" -XX:ActiveProcessorCount=$coresPerWorker")
    val execMb = sys.env.getOrElse("SPARK_GRAFT_EXEC_MB", "4096").toInt
    val spark = SparkSession.builder()
      .master(s"local-cluster[$nWorkers, $coresPerWorker, $execMb]")
      .appName(s"graft-phase-$nWorkers-x-$coresPerWorker")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", totalCores.toString))
      .config("spark.jars", jar)
      .config("spark.executor.memory", s"${execMb}m")
      .config("spark.executor.extraJavaOptions", addOpens)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", "/dev/shm/graft-spark")
      .config("spark.sql.parquet.columnarReaderBatchSize", "512")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val cfg = graft.synth.BenchInput.cfg(nPages)
    val inputDir = graft.synth.BenchInput.ensure(spark, nPages)
    def readPages() = spark.read.parquet(inputDir).as[graft.model.PageRow]

    def t[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime(); val r = body
      println(f"[cluster-phase] $nWorkers x $coresPerWorker $name " +
        f"${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }

    // warm-up (JIT + codegen), out of the window
    {
      val w = Extract.run(readPages().limit(1000))
        .persist(StorageLevel.MEMORY_AND_DISK)
      Mention.detect(w, Synth.aliases(spark, cfg)).count()
      w.unpersist()
    }

    val cacheParts = math.max(spark.sparkContext.defaultParallelism * 3,
      spark.sessionState.conf.numShufflePartitions)
    val extracted = t("extract+persist (scan→dedup→extract→cache)") {
      val e = Extract.run(readPages()).coalesce(cacheParts)
        .persist(StorageLevel.MEMORY_AND_DISK)
      e.count(); e
    }
    val cands = t("mention-detect+persist (broadcast dict flatMap)") {
      val c = Mention.detect(extracted, Synth.aliases(spark, cfg))
        .persist(StorageLevel.MEMORY_AND_DISK)
      c.count(); c
    }
    val linked = t("link (alias-df agg + one candidate shuffle)") {
      val l = Link.resolve(cands, cfg.nPages)
        .persist(StorageLevel.MEMORY_AND_DISK)
      l.count(); l
    }
    val canon = t("cc canon") {
      val c = Pipeline.canonOf(Synth.aliases(spark, cfg), Synth.sameAs(spark, cfg))
        .persist(StorageLevel.MEMORY_AND_DISK)
      c.count(); c
    }
    t("emit (4 triple branches)") {
      Emit.triples(extracted, linked, canon).count()
    }
    spark.stop()
  }
}
