package graft.synth

import org.apache.spark.sql.SparkSession

/** The ONE bench-corpus contract shared by every benchmark generator
  * (Bench, ScalingBench, ClusterScalingBench, ClusterPhaseBench,
  * ClusterExtractProbe, IncrementalBench, BenchExtra phases —
  * BENCH/BASELINE.md):
  *
  *  - realistic page shape (tens of KB html, ~6 mentions/page) — the
  *    fixture defaults are deliberately light and would make the KG
  *    pipeline overhead-bound instead of extract-bound;
  *  - a FIXED PartFiles-count parquet layout. Scan parallelism is capped
  *    by input splits, so a stale table written by a low-core session
  *    (or by a pre-64-file version of a generator) silently caps EVERY
  *    later run regardless of executor count — measured 2.2× scaling
  *    distortion at 4×2 executors from a 2-file table. `ensure`
  *    therefore validates the part-file COUNT, not just _SUCCESS, and
  *    regenerates on any mismatch.
  */
object BenchInput {

  /** Canonical bench corpus config for `nPages` (north rule: the input
    * is a TABLE of web pages; generation happens once, unmeasured). */
  def cfg(nPages: Long): SynthConfig = SynthConfig(nPages = nPages,
    nSites = 50, nEntities = 1000, fillerParas = 30, mentionSlots = 12)

  /** Required part-file count of a valid bench input table. 256 (round
    * 5; was 64): with 64 splits an 8-core topology runs 8 task waves and
    * loses ~(cores−1)/(2·splits) ≈ 5.5% to the last-wave tail, vs 0.8%
    * at 2 cores — a pure scan-side scaling distortion. 256 splits cut
    * the 8-core tail to ~1.4% while leaving the 2-core side unchanged. */
  val PartFiles = 256

  /** Effective part-file count: `SPARK_GRAFT_PARTFILES` overrides the
    * contract for layout A/B probes only — every published number uses
    * the default. The table dir is suffixed for non-default layouts so
    * an A/B can never poison the canonical cached table. */
  def partFiles: Int =
    sys.env.get("SPARK_GRAFT_PARTFILES").map(_.toInt).getOrElse(PartFiles)

  /** Directory holding the bench input tables: `/dev/shm` unless
    * `SPARK_GRAFT_BENCH_INPUT_ROOT` names another. */
  def root: String = sys.env.getOrElse("SPARK_GRAFT_BENCH_INPUT_ROOT", "/dev/shm")

  def dirFor(nPages: Long): String = {
    val suffix = if (partFiles == PartFiles) "" else s"-f$partFiles"
    s"$root/graft-bench-input-$nPages$suffix"
  }

  /** Path of a valid (committed AND PartFiles-count) bench input table
    * for `nPages`, (re)generating if absent, uncommitted, or
    * mis-laid-out. */
  def ensure(spark: SparkSession, nPages: Long): String = {
    val dir = dirFor(nPages)
    val d = new java.io.File(dir)
    val parts = Option(d.list()).map(_.count(f =>
      f.startsWith("part-") && f.endsWith(".parquet"))).getOrElse(0)
    val ok = new java.io.File(d, "_SUCCESS").exists() && parts == partFiles
    if (!ok) {
      if (d.exists())
        System.err.println(s"[bench-input] regenerating $dir: " +
          s"found $parts part files, need $partFiles (stale layout would " +
          "cap scan parallelism and distort scaling numbers)")
      Synth.pages(spark, cfg(nPages)).repartition(partFiles)
        .write.mode("overwrite").parquet(dir)
    }
    dir
  }
}
