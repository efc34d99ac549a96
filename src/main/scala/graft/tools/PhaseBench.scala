package graft.tools

import graft.emit.Emit
import graft.extract.Extract
import graft.link.Link
import graft.mention.Mention
import graft.pipeline.Pipeline
import graft.synth.{Synth, SynthConfig}
import org.apache.spark.sql.SparkSession

/** Per-stage wall-time breakdown at a given parallelism — the tool used
  * to attribute scaling losses to stages (see BENCH/BASELINE.md). */
object PhaseBench {
  def main(args: Array[String]): Unit = {
    val cpus = args(0).toInt
    val nPages = if (args.length > 1) args(1).toLong else 50000L
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graft-phase-$cpus")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val cfg = SynthConfig(nPages = nPages, nSites = 50, nEntities = 1000,
      fillerParas = 30, mentionSlots = 12) // match ScalingBench
    def t[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime(); val r = body
      println(f"[phase] $name ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
    }

    // small warmup
    Extract.run(Synth.pages(spark, cfg.copy(nPages = 200L))).count()

    val extracted = t("synth+extract") {
      val e = Extract.run(Synth.pages(spark, cfg)).persist()
      e.count(); e
    }
    val cands = t("mention") {
      val c = Mention.detect(extracted, Synth.aliases(spark, cfg)).persist()
      c.count(); c
    }
    val linked = t("link") {
      val l = Link.resolve(cands, cfg.nPages).persist()
      l.count(); l
    }
    val canon = t("cc") {
      val c = Pipeline.canonOf(Synth.aliases(spark, cfg), Synth.sameAs(spark, cfg))
        .persist()
      c.count(); c
    }
    t("emit") {
      Emit.triples(extracted, linked, canon).count()
    }
    spark.stop()
  }
}
