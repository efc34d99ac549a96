package graft.meta

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.sql.Timestamp

import graft.model.LineageRow
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, Encoder, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Iceberg-semantics-on-Parquet stage protocol (SURVEY.md §7.6), and the
  * one module that commits to a store: `Pipeline.build` (through
  * [[stage]]) and the incremental updater both replace table files with
  * [[replace]] and record what they committed with [[record]].
  *
  * No Iceberg/Delta jars ship in this image, so snapshot/resume is a
  * small explicit protocol on plain Parquet:
  *  - a stage table lives at {base}/{stage}/data (Parquet, optionally
  *    partitioned; a bucketed table's last partition column is `bucket`);
  *  - Spark's committer writes via _temporary + rename and drops
  *    _SUCCESS only on full commit;
  *  - the write counts the rows it writes per bucket (an observed
  *    aggregate in the write's own job, as Iceberg records each data
  *    file's row count when it writes the file), so no table is read
  *    back to count it;
  *  - AFTER the data commit, [[record]] appends the stage's
  *    per-partition lineage rows (SURVEY.md §7.7) to {base}/lineage and
  *    then atomically writes {base}/{stage}/_graft_manifest.json
  *    recording (snapshot_id, version, rows, wall_ms);
  *  - re-running with the same (snapshot_id, version) SKIPS the compute
  *    and reads the committed table (resume-from-last-committed-stage;
  *    ≙ the reference's mtime/git-hash-validated .pkl caches,
  *    clangd_index_yaml_parser.py:136-163, compilation_manager.py:27-94).
  */
object Snapshot {

  final case class Manifest(snapshotId: String, version: String, rows: Long, wallMs: Long)

  /** The partitions a scoped [[replace]] replaces: each partition column
    * with the values it takes, in the table's partition order; empty =
    * the whole table. */
  type Scope = Seq[(String, Seq[Any])]

  /** One committed stage, as [[record]] writes it: its rows per lineage
    * partition ([[lineagePartition]]) and the wall time of its commits. */
  final case class Commit(stage: String, version: String, parts: Seq[String],
      rows: Map[Int, Long], wallMs: Long, rowsIn: Long = -1L)

  private def manifestPath(dir: String): Path = Paths.get(dir, "_graft_manifest.json")

  def readManifest(dir: String): Option[Manifest] = {
    val p = manifestPath(dir)
    if (!Files.exists(p)) None
    else {
      val s = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
      def field(k: String): Option[String] =
        ("\"" + k + "\"\\s*:\\s*(\"([^\"]*)\"|[0-9]+)").r.findFirstMatchIn(s)
          .map(m => if (m.group(2) != null) m.group(2) else m.group(1))
      for {
        sid <- field("snapshot_id"); v <- field("version")
        r <- field("rows"); w <- field("wall_ms")
      } yield Manifest(sid, v, r.toLong, w.toLong)
    }
  }

  private def writeManifest(dir: String, m: Manifest): Unit = {
    val json =
      s"""{"snapshot_id": "${m.snapshotId}", "version": "${m.version}", """ +
        s""""rows": ${m.rows}, "wall_ms": ${m.wallMs}}"""
    val tmp = Paths.get(dir, "_graft_manifest.json.tmp")
    Files.createDirectories(Paths.get(dir))
    Files.write(tmp, json.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, manifestPath(dir), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Run (or resume) one stage. `compute` is only invoked when no
    * committed manifest matches (snapshotId, version); its rows are then
    * written, counted by the write, and recorded. */
  def stage(
      spark: SparkSession,
      baseDir: String,
      stageName: String,
      snapshotId: String,
      version: String,
      partitionCols: Seq[String] = Nil,
      rowsIn: Long = -1L)(compute: => DataFrame): DataFrame = {
    val dir = s"$baseDir/$stageName"
    val dataDir = s"$dir/data"
    readManifest(dir) match {
      case Some(m) if m.snapshotId == snapshotId && m.version == version =>
        spark.read.parquet(dataDir)
      case _ =>
        // invalidate FIRST: a kill between the data overwrite and the new
        // manifest write must not leave the old manifest pointing at
        // destroyed/mixed data (resume would trust it)
        invalidate(dir)
        val t0 = System.nanoTime()
        val df = compute
        val rows = replace(df, dataDir, partitionCols)
        record(spark, baseDir, snapshotId, Seq(Commit(stageName, version, partitionCols,
          rows, (System.nanoTime() - t0) / 1000000L, rowsIn)))
        // read back with the computed schema: a legitimately EMPTY stage
        // (e.g. zero mention candidates) writes only _SUCCESS, and a
        // schema-less read would fail with UNABLE_TO_INFER_SCHEMA
        spark.read.schema(df.schema).parquet(dataDir)
    }
  }

  /** Remove a stage's manifest (mark in-progress) BEFORE its data dir is
    * rewritten, so a kill mid-overwrite cannot leave a committed manifest
    * pointing at partial data. Idempotent. */
  def invalidate(dir: String): Unit =
    Files.deleteIfExists(manifestPath(dir))

  /** The lineage partition a row of a table partitioned by `parts`
    * counts in: its bucket, or 0 for a table without one. */
  def lineagePartition(parts: Seq[String]): Column =
    if (parts.contains("bucket")) col("bucket").cast("int") else lit(0)

  /** Exact rows per key, as one observed aggregate: no built-in exact
    * per-key count works inside `observe`. */
  private object RowsPer extends Aggregator[Int, Map[Int, Long], Map[Int, Long]] {
    def zero: Map[Int, Long] = Map.empty
    def reduce(m: Map[Int, Long], k: Int): Map[Int, Long] = m.updated(k, m.getOrElse(k, 0L) + 1L)
    def merge(a: Map[Int, Long], b: Map[Int, Long]): Map[Int, Long] =
      b.foldLeft(a) { case (m, (k, n)) => m.updated(k, m.getOrElse(k, 0L) + n) }
    def finish(m: Map[Int, Long]): Map[Int, Long] = m
    def bufferEncoder: Encoder[Map[Int, Long]] = ExpressionEncoder[Map[Int, Long]]()
    def outputEncoder: Encoder[Map[Int, Long]] = ExpressionEncoder[Map[Int, Long]]()
  }

  /** Replaces the files of the table at `dataDir`, partitioned by
    * `parts`, with `df`'s rows: the whole table for the empty scope;
    * otherwise the partitions of `scope` are overwritten dynamically,
    * and those of them not in `filled` (the partitions `df` has rows in,
    * as value lists in the scope's column order) are deleted. Returns
    * the rows written per [[lineagePartition]], counted by the write's
    * own job: the count is observed on `df`, above any repartition, so
    * it runs in the write's result stage, where Spark applies each
    * task's accumulator update once. */
  def replace(df: DataFrame, dataDir: String, parts: Seq[String],
      scope: Scope = Nil, filled: Set[Seq[Any]] = Set.empty): Map[Int, Long] = {
    val rows = new Observation()
    val w0 = df.observe(rows, udaf(RowsPer).apply(lineagePartition(parts)).as("rows"))
      .write.mode(SaveMode.Overwrite)
    val w = if (parts.isEmpty) w0 else w0.partitionBy(parts: _*)
    if (scope.isEmpty) w.parquet(dataDir)
    else {
      w.option("partitionOverwriteMode", "dynamic").parquet(dataDir)
      val fs = new HPath(dataDir).getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
      scope.foldLeft(Seq(Seq.empty[Any])) { case (ps, (_, vs)) =>
        for (p <- ps; v <- vs) yield p :+ v
      }.filterNot(filled).foreach { p =>
        fs.delete(new HPath(dataDir, scope.map(_._1).zip(p)
          .map { case (c, v) => s"$c=$v" }.mkString("/")), true)
      }
    }
    rows.get("rows").asInstanceOf[collection.Map[Int, Long]].toMap
  }

  /** Records committed stages under `snapshotId`: their lineage rows in
    * one append — one per bucket, or the one partition 0 of a table
    * without a bucket — then their manifests. */
  def record(spark: SparkSession, baseDir: String, snapshotId: String,
      commits: Seq[Commit]): Unit = {
    val now = new Timestamp(System.currentTimeMillis())
    val lineage = for (c <- commits; (pid, n) <- if (c.parts.contains("bucket"))
        c.rows.toSeq.sorted else Seq(0 -> c.rows.getOrElse(0, 0L)))
      yield LineageRow(c.stage, snapshotId, pid, s"${c.stage}/data", c.rowsIn, n,
        c.version, c.wallMs, now)
    spark.createDataFrame(lineage).write.mode(SaveMode.Append).parquet(s"$baseDir/lineage")
    commits.foreach(c => writeManifest(s"$baseDir/${c.stage}",
      Manifest(snapshotId, c.version, c.rows.values.sum, c.wallMs)))
  }
}
