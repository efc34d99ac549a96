package graft.meta

import java.nio.file.Files

import graft.SparkSpec
import graft.model.{Label, NodeRow}
import graft.pipeline.Pipeline
import graft.synth.{Synth, SynthConfig}
import org.apache.spark.sql.functions._

class SnapshotSpec extends SparkSpec {

  test("stage computes once, then resumes from the committed table") {
    val dir = Files.createTempDirectory("graft-snap").toString
    var computes = 0
    import spark.implicits._
    def once() = Snapshot.stage(spark, dir, "s1", "snapA", "v1") {
      computes += 1
      Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    }
    val first = once().collect().map(_.toSeq).toSet
    val second = once().collect().map(_.toSeq).toSet
    computes shouldBe 1
    second shouldBe first
  }

  test("a new snapshot id or stage version invalidates the checkpoint") {
    val dir = Files.createTempDirectory("graft-snap2").toString
    var computes = 0
    import spark.implicits._
    def run(sid: String, v: String) =
      Snapshot.stage(spark, dir, "s1", sid, v) {
        computes += 1; Seq((computes.toLong, "x")).toDF("id", "v")
      }
    run("snapA", "v1"); run("snapA", "v2"); run("snapB", "v2"); run("snapB", "v2")
    computes shouldBe 3
  }

  test("lineage rows are appended per committed stage") {
    val dir = Files.createTempDirectory("graft-snap3").toString
    import spark.implicits._
    Snapshot.stage(spark, dir, "st", "sid1", "v1", rowsIn = 5L) {
      Seq(1L, 2L, 3L).toDF("id")
    }
    val lin = spark.read.parquet(s"$dir/lineage")
    lin.count() shouldBe 1L
    val r = lin.head()
    r.getAs[String]("stage") shouldBe "st"
    r.getAs[String]("snapshot_id") shouldBe "sid1"
    r.getAs[Long]("rows_out") shouldBe 3L
    r.getAs[Long]("rows_in") shouldBe 5L
  }

  test("stale manifest is removed BEFORE the overwrite starts (kill mid-write is safe)") {
    val dir = Files.createTempDirectory("graft-snap4").toString
    import spark.implicits._
    Snapshot.stage(spark, dir, "s1", "snapA", "v1") {
      Seq((1L, "a")).toDF("id", "v")
    }
    Snapshot.readManifest(s"$dir/s1") should not be empty
    // a recompute that dies mid-way (here: before writing any data) must
    // already have invalidated the old manifest — resume must NOT trust
    // the old commit over a possibly-mixed data dir
    intercept[RuntimeException] {
      Snapshot.stage(spark, dir, "s1", "snapB", "v1") {
        throw new RuntimeException("killed mid-stage")
      }
    }
    Snapshot.readManifest(s"$dir/s1") shouldBe empty
  }

  test("debug dump: deterministic JSON-lines + summary, re-dump is byte-identical") {
    val cfg = SynthConfig(nPages = 40L, nSites = 3, nEntities = 15)
    val g = Pipeline.run(Synth.pages(spark, cfg), Synth.aliases(spark, cfg),
      Synth.sameAs(spark, cfg), cfg.nPages)
    try {
      val d1 = Files.createTempDirectory("graft-dbg1").toString
      val d2 = Files.createTempDirectory("graft-dbg2").toString
      DebugDump.dump(g, d1)
      DebugDump.dump(g, d2)
      def jsonOf(dir: String) = {
        val f = new java.io.File(s"$dir/triples").listFiles()
          .filter(_.getName.endsWith(".json")).head
        new String(Files.readAllBytes(f.toPath), "UTF-8")
      }
      jsonOf(d1) shouldBe jsonOf(d2)
      jsonOf(d1).linesIterator.size.toLong shouldBe g.triples.count()
      new String(Files.readAllBytes(
        java.nio.file.Paths.get(d1, "summary.txt")), "UTF-8") should
        include("triples by predicate:")
    } finally g.unpersist()
  }

  test("full build is idempotent and kill-resume-safe at stage granularity") {
    val cfg = SynthConfig(nPages = 60L, nSites = 3, nEntities = 20)
    val dir = Files.createTempDirectory("graft-build").toString
    def buildOnce(): Unit = Pipeline.build(
      spark, Synth.pages(spark, cfg), Synth.aliases(spark, cfg),
      Synth.sameAs(spark, cfg), cfg.nPages, dir, "snap-1", nBuckets = 4)

    buildOnce()
    val t1 = spark.read.parquet(s"$dir/triples/data")
      .select("subj", "pred", "obj").collect().map(_.toSeq).toSet

    // simulate a crash after stage 'extracted': wipe downstream manifests
    Files.delete(java.nio.file.Paths.get(s"$dir/triples/_graft_manifest.json"))
    Files.delete(java.nio.file.Paths.get(s"$dir/linked/_graft_manifest.json"))
    buildOnce() // resumes: extracted is skipped, linked/triples recomputed
    val t2 = spark.read.parquet(s"$dir/triples/data")
      .select("subj", "pred", "obj").collect().map(_.toSeq).toSet
    t2 shouldBe t1

    // full re-run with same snapshot id recomputes nothing and changes
    // nothing: no stage body runs, each stage only reads its committed
    // table's schema (one job), and no lineage row is added
    val lineageRows = spark.read.parquet(s"$dir/lineage").count()
    val jobs = new graft.tools.JobCounter(spark.sparkContext)
    val (_, resumed) =
      try graft.tools.Harness.measure(jobs, "resume")(buildOnce()) finally jobs.close()
    resumed.jobs should be <= Pipeline.Layouts.size.toLong
    spark.read.parquet(s"$dir/lineage").count() shouldBe lineageRows
    val t3 = spark.read.parquet(s"$dir/triples/data")
      .select("subj", "pred", "obj").collect().map(_.toSeq).toSet
    t3 shouldBe t1

    // bucketed layout present (explicit url-hash-range partitioning)
    spark.read.parquet(s"$dir/triples/data").columns should contain("bucket")

    // build ≡ run: the committed triples, adjacency and nodes (props
    // included) are Pipeline.run's on the same input; the only
    // difference is the snapshot stamp on the PROJECT row
    val g = Pipeline.run(Synth.pages(spark, cfg), Synth.aliases(spark, cfg),
      Synth.sameAs(spark, cfg), cfg.nPages)
    try {
      import spark.implicits._
      def rows(df: org.apache.spark.sql.DataFrame, cols: String*) =
        df.select(cols.map(col): _*).collect().map(_.toSeq).toSet
      t1 shouldBe rows(g.triples.toDF(), "subj", "pred", "obj")
      rows(spark.read.parquet(s"$dir/adjacency/data"), "src", "dst", "pred") shouldBe
        rows(g.adjacency.toDF(), "src", "dst", "pred")
      spark.read.parquet(s"$dir/nodes/data").as[NodeRow].collect().toSet shouldBe
        g.nodes.collect().map { n =>
          if (n.label == Label.Project) n.copy(props = n.props + ("snapshot_id" -> "snap-1"))
          else n
        }.toSet
    } finally g.unpersist()
  }
}
