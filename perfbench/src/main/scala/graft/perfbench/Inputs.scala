package graft.perfbench

import java.io.File

import graft.synth.{Synth, SynthConfig}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Seeded input tables. Every table is a pure function of (workload,
  * seed, size), is generated once into the run's data directory (one per
  * workload and seed, chosen and pruned by run.py), and is validated by
  * part-file count the way `BenchInput.ensure` validates the frozen
  * bench's tables; a table with the wrong layout is regenerated.
  * Generation is never timed. */
object Inputs {

  /** Part files of every page table: fixed, so scan parallelism does not
    * depend on the session that wrote the table. */
  val PartFiles = 16

  def partCount(dir: String): Int =
    Option(new File(dir).list()).map(_.count(f => f.startsWith("part-") && f.endsWith(".parquet")))
      .getOrElse(0)

  def valid(dir: String, parts: Int): Boolean =
    new File(dir, "_SUCCESS").exists() && partCount(dir) == parts

  /** Path of a valid table at `dir`, (re)generating it with `gen`. */
  def ensure(dir: String, parts: Int = PartFiles)(gen: => DataFrame): String = {
    if (!valid(dir, parts)) gen.repartition(parts).write.mode("overwrite").parquet(dir)
    dir
  }

  // ------------------------------------------------------- page corpora

  /** run_dense: light, mention-dense pages (no filler paragraphs, up to
    * 40 mention slots), 1,000 entities, ~2% late duplicates. */
  def denseCfg(seed: Long, nPages: Long): SynthConfig =
    SynthConfig(seed = seed, nPages = nPages, nSites = 50, nEntities = 1000,
      fillerParas = 0, mentionSlots = 40)

  def pages(spark: SparkSession, cfg: SynthConfig): DataFrame = Synth.pages(spark, cfg).toDF()
}
