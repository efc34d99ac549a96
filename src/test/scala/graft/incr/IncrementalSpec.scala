package graft.incr

import java.nio.file.Files
import java.sql.Timestamp

import graft.SparkSpec
import graft.model.PageRow
import graft.pipeline.Pipeline
import graft.synth.{Synth, SynthConfig}
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._

/** Incremental update must converge to exactly what a fresh full build
  * of the new snapshot produces (the reference's updater contract —
  * purge stale + rebuild dirty ≡ rebuild all, SURVEY.md §3.2).
  */
class IncrementalSpec extends SparkSpec {
  import spark.implicits._

  private val cfg = SynthConfig(nPages = 120L, nSites = 5, nEntities = 40)
  private val N = 4 // buckets

  private def oldPages: Dataset[PageRow] = Synth.pages(spark, cfg)

  /** New snapshot: 3 changed pages, 2 added, 1 deleted. */
  private def newPages: Dataset[PageRow] = {
    val changedIds = Set(5L, 17L, 42L)
    val base = oldPages
      .filter(!col("url").endsWith("/7")) // delete page 7
      .map { p =>
        if (changedIds.exists(i => p.url.endsWith(s"/$i")))
          p.copy(
            warc_ts = new Timestamp(p.warc_ts.getTime + 7200000L),
            html = (new String(p.html, "UTF-8")
              .replace("</body>", "<p>fresh content acme globex</p></body>"))
              .getBytes("UTF-8"))
        else p
      }
    val added = spark.createDataset(Seq(200L, 201L).flatMap(i =>
      Synth.pageRows(cfg.copy(nPages = 250L), i)))
    base.union(added)
  }

  /** Default full builds of the old and the new snapshot. Most tests
    * start from the first or compare against the second, so each is
    * built once per spec and copied into every test's own directory. */
  private lazy val oldStore = buildStore(oldPages, "snap-old")
  private lazy val newStore = buildStore(newPages, "snap-new")

  private def buildStore(pages: Dataset[PageRow], snapshotId: String) = {
    val dir = Files.createTempDirectory(s"graft-$snapshotId")
    Pipeline.build(spark, pages, Synth.aliases(spark, cfg),
      Synth.sameAs(spark, cfg), cfg.nPages, dir.toString, snapshotId, N)
    dir
  }

  /** A fresh directory holding a copy of `store`. */
  private def copyOf(store: java.nio.file.Path, prefix: String): String = {
    val dir = Files.createTempDirectory(prefix)
    copyTree(store, dir)
    dir.toString
  }

  test("diff classifies added/deleted/changed/unchanged") {
    val d = Incremental.diff(oldPages, newPages)
      .groupBy("status").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    d("added") shouldBe 2L
    d("deleted") shouldBe 1L
    d("changed") shouldBe 3L
    d("unchanged") shouldBe (120L - 1 - 3)
  }

  test("incremental update == fresh full build of the new snapshot") {
    // full build of OLD snapshot, then incremental to NEW
    val incDir = copyOf(oldStore, "graft-inc")
    val dirty = Incremental.update(spark, oldPages, newPages,
      Synth.aliases(spark, cfg), Synth.sameAs(spark, cfg), cfg.nPages,
      incDir, "snap-new", N)
    dirty should not be empty
    dirty.size should be < N.toLong.toInt + 1 // sanity: subset of buckets

    // fresh full build of NEW snapshot
    val fullDir = copyOf(newStore, "graft-full")

    // every stage the build commits is one the updater's crash/version
    // guard knows, under the same version string
    val committed = new java.io.File(fullDir).listFiles()
      .filter(d => new java.io.File(d, "_graft_manifest.json").exists())
      .map(_.getName).toSet
    committed shouldBe Pipeline.StageVersions.keySet
    for ((stage, version) <- Pipeline.StageVersions) withClue(s"$stage: ") {
      graft.meta.Snapshot.readManifest(s"$fullDir/$stage").get.version shouldBe
        version
    }

    def triplesOf(dir: String) = spark.read.parquet(s"$dir/triples/data")
      .select("subj", "pred", "obj").collect().map(_.toSeq).toSet
    def nodesOf(dir: String) = spark.read.parquet(s"$dir/nodes/data")
      .select("node_id", "label").collect().map(_.toSeq).toSet

    triplesOf(incDir) shouldBe triplesOf(fullDir)
    nodesOf(incDir) shouldBe nodesOf(fullDir)

    def enrichedOf(dir: String) = spark.read.parquet(s"$dir/enriched/data")
      .select("node_id", "label", "summary").collect().map(_.toSeq).toSet
    enrichedOf(incDir) shouldBe enrichedOf(fullDir)

    // the content-embedding index converges too (changed text → new
    // embedding → possibly a new cell; deleted urls gone)
    def annOf(dir: String) = spark.read.parquet(s"$dir/ann_ivf/data")
      .select("id", "cell").collect().map(_.toSeq).toSet
    annOf(incDir) shouldBe annOf(fullDir)

    // and every committed table agrees on every column, partition
    // columns (bucket, pred, label, cell) included
    val (incRows, fullRows) = (storeRows(incDir), storeRows(fullDir))
    for (stage <- Pipeline.StageVersions.keys) withClue(s"$stage: ") {
      incRows(stage) shouldBe fullRows(stage)
    }

    // the build records what it committed
    assertRecorded(fullDir)

    // deleted page really gone; changed page's new mention present
    val t = triplesOf(incDir)
    t.exists(r => r.head.toString.endsWith("/7")) shouldBe false

    // manifests stamped with the new snapshot id, and the update records
    // what it committed as the build does
    graft.meta.Snapshot.readManifest(s"$incDir/extracted").get.snapshotId shouldBe "snap-new"
    graft.meta.Snapshot.readManifest(s"$incDir/triples").get.snapshotId shouldBe "snap-new"
    assertRecorded(incDir)

    // re-running the SAME update is a no-op-equivalent (kill-and-rerun
    // safety: a crashed update is recovered by running it again)
    Incremental.update(spark, oldPages, newPages,
      Synth.aliases(spark, cfg), Synth.sameAs(spark, cfg), cfg.nPages,
      incDir, "snap-new-rerun", N)
    triplesOf(incDir) shouldBe triplesOf(fullDir)
    nodesOf(incDir) shouldBe nodesOf(fullDir)
  }

  /** Every row of every committed table of a store as JSON over its
    * sorted columns, partition columns included; a table with no data
    * file has no rows. */
  private def storeRows(dir: String): Map[String, Set[String]] =
    Pipeline.StageVersions.keys.map { stage =>
      val data = s"$dir/$stage/data"
      stage -> (if (fileSet(data).isEmpty) Set.empty[String] else {
        val df = spark.read.parquet(data)
        df.select(to_json(struct(df.columns.sorted.map(col).toSeq: _*)))
          .collect().map(_.getString(0)).toSet
      })
    }.toMap

  /** Every committed stage of a store records what it holds: the
    * manifest's rows are the table's count, and the lineage rows of the
    * manifest's snapshot id are its rows per bucket (one partition-0 row
    * for a table without a bucket). */
  private def assertRecorded(dir: String): Unit = {
    val lineage = spark.read.parquet(s"$dir/lineage")
    for ((stage, l) <- Pipeline.Layouts) withClue(s"$stage: ") {
      val m = graft.meta.Snapshot.readManifest(s"$dir/$stage").get
      val rows = spark.read.schema(l.schema).parquet(s"$dir/$stage/data")
      m.rows shouldBe rows.count()
      val perBucket =
        if (l.parts.contains("bucket")) rows.groupBy(col("bucket").cast("int")).count()
          .collect().map(r => r.getInt(0) -> r.getLong(1)).toSeq
        else Seq(0 -> m.rows)
      lineage.filter(col("stage") === stage && col("snapshot_id") === m.snapshotId)
        .select(col("partition_id"), col("rows_out")).collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toSeq.sorted shouldBe perBucket.sorted
    }
  }

  test("update to an empty snapshot == fresh full build of the empty snapshot") {
    // every page deleted: every table ends empty except what a build of
    // no pages writes too (the PROJECT root and its roll-up)
    val incDir = copyOf(oldStore, "graft-empty")
    Incremental.update(spark, oldPages, oldPages.limit(0),
      Synth.aliases(spark, cfg), Synth.sameAs(spark, cfg), cfg.nPages,
      incDir, "snap-empty", N) should not be empty
    val fullDir = Files.createTempDirectory("graft-empty-full").toString
    Pipeline.build(spark, oldPages.limit(0), Synth.aliases(spark, cfg),
      Synth.sameAs(spark, cfg), cfg.nPages, fullDir, "snap-empty", N)
    val (incRows, fullRows) = (storeRows(incDir), storeRows(fullDir))
    for (stage <- Pipeline.StageVersions.keys) withClue(s"$stage: ") {
      incRows(stage) shouldBe fullRows(stage)
    }
    incRows("triples") shouldBe empty
  }

  private def fileSet(dir: String): Set[String] = {
    val p = java.nio.file.Paths.get(dir)
    if (!Files.exists(p)) Set.empty
    else {
      val s = java.nio.file.Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.map(_.toString)
          .filter(_.endsWith(".parquet")).toSet
      } finally s.close()
    }
  }

  test("text-only change rewrites ONLY the dirty bucket's url-local partitions") {
    val dir = copyOf(oldStore, "graft-gran")

    // scenario A: append NON-alias filler to one page — its bucket is
    // dirty, but candidates/links are byte-identical, so every derived
    // table (candidates, aliasdf, linked, all triple preds) is SKIPPED:
    // only the extracted partition of that bucket is rewritten
    val newP = oldPages.map { p =>
      if (p.url.endsWith("/3"))
        p.copy(
          warc_ts = new Timestamp(p.warc_ts.getTime + 7200000L),
          html = (new String(p.html, "UTF-8")
            .replace("</body>", "<p>zzzfiller qqqfiller</p></body>"))
            .getBytes("UTF-8"))
      else p
    }
    val targetUrl = oldPages.filter(col("url").endsWith("/3")).head().url
    val b = spark.createDataset(Seq(targetUrl)).toDF("url")
      .select(Pipeline.bucketOf(col("url"), N)).head().getLong(0)

    val urlLocal = Seq("extracted/data", "candidates/data", "aliasdf/data",
      "linked/data",
      "triples/data/pred=mentions", "triples/data/pred=links_to",
      "adjacency/data/pred=mentions", "adjacency/data/pred=links_to")
    def snap() = (for (t <- urlLocal; i <- 0 until N)
      yield s"$t/bucket=$i" -> fileSet(s"$dir/$t/bucket=$i")).toMap ++
      Map("triples/data/pred=contains" ->
        fileSet(s"$dir/triples/data/pred=contains"),
        "triples/data/pred=relates_to" ->
          fileSet(s"$dir/triples/data/pred=relates_to"))
    val beforeA = snap()
    def annCells() = (0 until Pipeline.AnnCells)
      .map(c => c -> fileSet(s"$dir/ann_ivf/data/cell=$c")).toMap
    val annBefore = annCells()

    val dirtyA = Incremental.update(spark, oldPages, newP,
      Synth.aliases(spark, cfg), Synth.sameAs(spark, cfg), cfg.nPages,
      dir, "snap-new", N)
    dirtyA shouldBe Seq(b)

    val afterA = snap()
    for ((k, v) <- beforeA) withClue(s"A: $k (dirty bucket = $b): ") {
      if (k == s"extracted/data/bucket=$b") afterA(k) should not be v
      else afterA(k) shouldBe v // derived tables provably unchanged → skipped
    }
    // the content-embedding index update is CELL-granular: one edited
    // page touches at most its old + new cell partitions; the rest of
    // the index is byte-untouched
    val annAfter = annCells()
    val changedCells = annBefore.count { case (c, v) => annAfter(c) != v }
    changedCells should be >= 1
    changedCells should be <= 2

    // scenario B: append an alias the page ALREADY mentions — candidates
    // and linked change (new mention position, support shifts) but only
    // in that bucket; alias df is unchanged (same distinct-url set), the
    // mention ENTITY set per page is unchanged, so mentions/relates stay
    val existingAlias = spark.read.parquet(s"$dir/candidates/data")
      .filter(col("url") === targetUrl)
      .select(col("alias")).head().getString(0)
    val newP2 = newP.map { p =>
      if (p.url.endsWith("/3"))
        p.copy(
          warc_ts = new Timestamp(p.warc_ts.getTime + 14400000L),
          html = (new String(p.html, "UTF-8")
            .replace("</body>", s"<p>$existingAlias</p></body>"))
            .getBytes("UTF-8"))
      else p
    }
    val beforeB = snap()
    val dirtyB = Incremental.update(spark, newP, newP2,
      Synth.aliases(spark, cfg), Synth.sameAs(spark, cfg), cfg.nPages,
      dir, "snap-new2", N)
    dirtyB shouldBe Seq(b)
    val afterB = snap()
    for (t <- Seq("extracted/data", "candidates/data", "linked/data"))
      withClue(s"B: $t/bucket=$b: ") {
        afterB(s"$t/bucket=$b") should not be beforeB(s"$t/bucket=$b")
      }
    // linked changed → mentions (+ relates, global) are recomputed, but
    // ONLY the relink bucket's mention partitions; link arrays did not
    // change, so links_to and its adjacency stay untouched everywhere
    for (i <- 0 until N if i.toLong != b;
         t <- urlLocal)
      withClue(s"B: $t/bucket=$i: ") {
        afterB(s"$t/bucket=$i") shouldBe beforeB(s"$t/bucket=$i")
      }
    for (t <- Seq("triples/data/pred=links_to", "adjacency/data/pred=links_to"))
      withClue(s"B: $t/bucket=$b: ") {
        afterB(s"$t/bucket=$b") shouldBe beforeB(s"$t/bucket=$b")
      }
    withClue("B: contains: ") {
      afterB("triples/data/pred=contains") shouldBe
        beforeB("triples/data/pred=contains")
    }
  }

  test("a bucket whose urls are ALL deleted loses its partitions entirely") {
    val incDir = copyOf(oldStore, "graft-del")
    val fullDir = Files.createTempDirectory("graft-del-full").toString

    val b = oldPages.toDF()
      .select(Pipeline.bucketOf(col("url"), N).as("b"))
      .groupBy("b").count().orderBy("b").head().getLong(0)
    val newP = oldPages.toDF()
      .filter(Pipeline.bucketOf(col("url"), N) =!= b).as[PageRow]

    val dirty = Incremental.update(spark, oldPages, newP,
      Synth.aliases(spark, cfg), Synth.sameAs(spark, cfg), cfg.nPages,
      incDir, "snap-new", N)
    dirty should contain(b)

    for (t <- Seq("extracted/data", "aliasdf/data", "linked/data",
      "triples/data/pred=mentions", "enriched/data"))
      withClue(s"$t/bucket=$b: ") {
        Files.exists(java.nio.file.Paths.get(s"$incDir/$t/bucket=$b")) shouldBe false
      }

    // and the result still equals a fresh full build of the new snapshot
    Pipeline.build(spark, newP, Synth.aliases(spark, cfg),
      Synth.sameAs(spark, cfg), cfg.nPages, fullDir, "snap-new", N)
    def triplesOf(dir: String) = spark.read.parquet(s"$dir/triples/data")
      .select("subj", "pred", "obj").collect().map(_.toSeq).toSet
    triplesOf(incDir) shouldBe triplesOf(fullDir)
  }

  test("corpus with no internal links and no mentions: build + update still work") {
    // pred=links_to / pred=mentions / pred=relates_to directories are
    // never created (partitionBy writes no empty leaves) — the updater
    // must tolerate the missing sub-tables
    def mk(i: Long, extra: String, ts: Long) = PageRow(
      s"http://only$i.example/p/$i", new Timestamp(ts),
      s"<html><body><p>plain words $i $extra</p></body></html>"
        .getBytes("UTF-8"),
      null, "en")
    val old = spark.createDataset((1L to 12L).map(i => mk(i, "", 1000L * i)))
    val neu = spark.createDataset((1L to 12L).map(i =>
      if (i == 5L) mk(i, "changed", 999999L) else mk(i, "", 1000L * i)))
    val incDir = Files.createTempDirectory("graft-nolinks").toString
    val fullDir = Files.createTempDirectory("graft-nolinks-full").toString
    val al = Synth.aliases(spark, cfg)
    val sa = Synth.sameAs(spark, cfg)

    Pipeline.build(spark, old, al, sa, 12L, incDir, "s-old", N)
    Incremental.update(spark, old, neu, al, sa, 12L, incDir, "s-new", N) should not be empty
    Pipeline.build(spark, neu, al, sa, 12L, fullDir, "s-new", N)

    def triplesOf(dir: String) = spark.read.parquet(s"$dir/triples/data")
      .select("subj", "pred", "obj").collect().map(_.toSeq).toSet
    triplesOf(incDir) shouldBe triplesOf(fullDir)
    triplesOf(incDir).map(_(1).toString) shouldBe Set("contains")
  }

  test("no-op update (identical snapshots) touches nothing") {
    val d = Incremental.diff(oldPages, oldPages)
    Incremental.dirtyBuckets(d, N) shouldBe empty
  }

  test("updateFromStored: diff against the persisted urlhash stage, no old corpus") {
    val incDir = copyOf(oldStore, "graft-stored")

    // old pages never passed in — only the new snapshot
    val dirty = Incremental.updateFromStored(spark, newPages,
      Synth.aliases(spark, cfg), Synth.sameAs(spark, cfg), cfg.nPages,
      incDir, "snap-new", N)
    dirty should not be empty

    val fullDir = copyOf(newStore, "graft-stored-full")
    def triplesOf(dir: String) = spark.read.parquet(s"$dir/triples/data")
      .select("subj", "pred", "obj").collect().map(_.toSeq).toSet
    triplesOf(incDir) shouldBe triplesOf(fullDir)

    // the stored hashes were maintained: a SECOND stored-diff against the
    // same snapshot is a no-op
    val again = Incremental.updateFromStored(spark, newPages,
      Synth.aliases(spark, cfg), Synth.sameAs(spark, cfg), cfg.nPages,
      incDir, "snap-new2", N)
    again shouldBe empty
  }

  test("extraction-invariant html edit: ONLY extracted rewritten; nodes root restamped") {
    val dir = copyOf(oldStore, "graft-inv")

    // edit INSIDE an html comment: the html hash changes (dirty bucket)
    // but extracted text, links, and sha are all byte-identical
    val newP = oldPages.map { p =>
      if (p.url.endsWith("/3"))
        p.copy(
          warc_ts = new Timestamp(p.warc_ts.getTime + 7200000L),
          html = (new String(p.html, "UTF-8")
            .replace("<!-- page 3 -->", "<!-- page 3 recrawled -->"))
            .getBytes("UTF-8"))
      else p
    }
    val watched = Seq("nodes/data/label=PAGE", "nodes/data/label=SITE",
      "nodes/data/label=SECTION", "nodes/data/label=ENTITY",
      "enriched/data/bucket=-1")
    val before = watched.map(t => t -> fileSet(s"$dir/$t")).toMap
    val beforeProj = fileSet(s"$dir/nodes/data/label=PROJECT")

    val dirty = Incremental.update(spark, oldPages, newP,
      Synth.aliases(spark, cfg), Synth.sameAs(spark, cfg), cfg.nPages,
      dir, "snap-new", N)
    dirty should have size 1

    // every non-PROJECT node partition and the roll-up leaf untouched
    for (t <- watched) withClue(s"$t: ") {
      fileSet(s"$dir/$t") shouldBe before(t)
    }
    // ...but the snapshot stamp on the root moved
    fileSet(s"$dir/nodes/data/label=PROJECT") should not be beforeProj
    val rootProps = spark.read.parquet(s"$dir/nodes/data")
      .filter(col("label") === "PROJECT")
      .select("props").head().getMap[String, String](0)
    rootProps("snapshot_id") shouldBe "snap-new"
  }

  test("keepOrphans retains unmentioned canonical entities; default drops them") {
    val incDir = Files.createTempDirectory("graft-orph").toString
    Pipeline.build(spark, oldPages, Synth.aliases(spark, cfg),
      Synth.sameAs(spark, cfg), cfg.nPages, incDir, "snap-old", N,
      keepOrphans = true)
    val canonIds = spark.read.parquet(s"$incDir/canon/data")
      .select("canon_id").distinct().count()
    val entCount = spark.read.parquet(s"$incDir/nodes/data")
      .filter(col("label") === "ENTITY").count()
    entCount shouldBe canonIds // every canonical entity kept
    // the incremental path preserves the flag's semantics
    Incremental.update(spark, oldPages, newPages,
      Synth.aliases(spark, cfg), Synth.sameAs(spark, cfg), cfg.nPages,
      incDir, "snap-new", N, keepOrphans = true)
    spark.read.parquet(s"$incDir/nodes/data")
      .filter(col("label") === "ENTITY").count() shouldBe canonIds
    // default build drops the never-mentioned ones (fixture has some)
    val dropDir = copyOf(oldStore, "graft-orph-drop")
    spark.read.parquet(s"$dropDir/nodes/data")
      .filter(col("label") === "ENTITY").count() should be < canonIds
  }

  test("crashed update + empty diff: force-mode rebuilds full scope instead of 'nothing to do'") {
    val incDir = copyOf(oldStore, "graft-crash-empty")
    // simulate a prior update that died mid-way: its first act is
    // invalidating every stage manifest; forge mixed derived state too
    graft.meta.Snapshot.invalidate(s"$incDir/linked")
    deleteTree(java.nio.file.Paths.get(s"$incDir/linked/data"))
    // a same-snapshot update sees an empty diff, but the missing
    // manifest forces a full-scope rebuild that reconciles everything
    val dirty = Incremental.updateFromStored(spark, oldPages,
      Synth.aliases(spark, cfg), Synth.sameAs(spark, cfg), cfg.nPages,
      incDir, "snap-new", N)
    dirty should not be empty // full scope, not "nothing to do"
    val fullDir = Files.createTempDirectory("graft-crash-empty-full").toString
    Pipeline.build(spark, oldPages, Synth.aliases(spark, cfg),
      Synth.sameAs(spark, cfg), cfg.nPages, fullDir, "snap-new", N)
    spark.read.parquet(s"$incDir/triples/data")
      .select("subj", "pred", "obj").collect().map(_.toSeq).toSet shouldBe
      spark.read.parquet(s"$fullDir/triples/data")
        .select("subj", "pred", "obj").collect().map(_.toSeq).toSet
    graft.meta.Snapshot.readManifest(s"$incDir/linked")
      .get.snapshotId shouldBe "snap-new"
  }

  test("crashed update rerun against a DIFFERENT snapshot: extraction scope widens too") {
    // the silent-divergence hole: a crashed update to snapshot A leaves
    // some buckets holding A's extracted rows; a rerun against snapshot
    // B sets force, but if extraction stayed diff(old, B)-scoped, the
    // buckets where B == old keep A's residue and every globally rebuilt
    // derived table bakes it in permanently. Force must widen extraction
    // to all buckets.
    val incDir = copyOf(oldStore, "graft-crash-b")
    // crashed update to snapshot A (= newPages): forge its partial state
    // — A's extraction fully written, manifests invalidated, urlhash
    // still old (it is written last)
    val aExtracted = graft.extract.Extract.run(newPages).toDF()
      .withColumn("bucket", Pipeline.bucketOf(col("url"), N))
    aExtracted.repartition(col("bucket")).write
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("bucket").parquet(s"$incDir/extracted/data")
    Seq("urlhash", "extracted", "candidates", "aliasdf", "linked", "canon",
      "triples", "nodes", "adjacency", "enriched")
      .foreach(s => graft.meta.Snapshot.invalidate(s"$incDir/$s"))
    // rerun against snapshot B = the ORIGINAL corpus (url set identical
    // to the stored urlhash base → diff is empty; A's residue is in
    // buckets the diff would never touch)
    Incremental.updateFromStored(spark, oldPages,
      Synth.aliases(spark, cfg), Synth.sameAs(spark, cfg), cfg.nPages,
      incDir, "snap-b", N)
    val fullDir = Files.createTempDirectory("graft-crash-b-full").toString
    Pipeline.build(spark, oldPages, Synth.aliases(spark, cfg),
      Synth.sameAs(spark, cfg), cfg.nPages, fullDir, "snap-b", N)
    def tset(dir: String) = spark.read.parquet(s"$dir/triples/data")
      .select("subj", "pred", "obj").collect().map(_.toSeq).toSet
    tset(incDir) shouldBe tset(fullDir)
    // the extracted store holds B's rows, not A's residue
    spark.read.parquet(s"$incDir/extracted/data")
      .select("url", "text_sha256").collect().map(_.toSeq).toSet shouldBe
      spark.read.parquet(s"$fullDir/extracted/data")
        .select("url", "text_sha256").collect().map(_.toSeq).toSet
  }

  test("version-mismatched store: refuse the in-place update, demand a full build") {
    val incDir = copyOf(oldStore, "graft-verm")
    // forge a store committed by an OLDER engine: same snapshot id,
    // different stage version string
    graft.meta.Snapshot.record(spark, incDir, "snap-old", Seq(graft.meta.Snapshot.Commit(
      "triples", "emit-v1", Pipeline.Layouts("triples").parts, Map.empty, 0L)))
    val e = intercept[IllegalStateException] {
      Incremental.update(spark, oldPages, newPages,
        Synth.aliases(spark, cfg), Synth.sameAs(spark, cfg), cfg.nPages,
        incDir, "snap-new", N)
    }
    e.getMessage should include("emit-v1")
    e.getMessage should include("full Pipeline.build")
  }

  test("crashed update rerun: force-mode converges despite mixed derived state") {
    val incDir = copyOf(oldStore, "graft-crash-rerun")

    // snapshot the OLD linked table, then complete an update to NEW
    val savedLinked = Files.createTempDirectory("graft-crash-saved")
    copyTree(java.nio.file.Paths.get(s"$incDir/linked/data"),
      savedLinked.resolve("data"))
    Incremental.update(spark, oldPages, newPages,
      Synth.aliases(spark, cfg), Synth.sameAs(spark, cfg), cfg.nPages,
      incDir, "snap-new", N)

    // forge the crash state a kill mid-update leaves behind: every
    // manifest missing, SOME derived table still holding old data
    // (urlhash is written last, so the diff base for a rerun-from-the-
    // old-corpus is irrelevant here — we rerun with explicit oldPages)
    Seq("urlhash", "extracted", "candidates", "aliasdf", "linked", "canon",
      "triples", "nodes", "adjacency", "enriched")
      .foreach(s => graft.meta.Snapshot.invalidate(s"$incDir/$s"))
    deleteTree(java.nio.file.Paths.get(s"$incDir/linked/data"))
    copyTree(savedLinked.resolve("data"),
      java.nio.file.Paths.get(s"$incDir/linked/data"))

    // rerun of the same update: force-mode must disable every change
    // short-circuit (the checksums would compare against MIXED state and
    // wrongly skip) and rebuild all derived tables over full scope
    Incremental.update(spark, oldPages, newPages,
      Synth.aliases(spark, cfg), Synth.sameAs(spark, cfg), cfg.nPages,
      incDir, "snap-new-rerun", N)

    val fullDir = copyOf(newStore, "graft-crash-full")
    def triplesOf(dir: String) = spark.read.parquet(s"$dir/triples/data")
      .select("subj", "pred", "obj").collect().map(_.toSeq).toSet
    def linkedOf(dir: String) = spark.read.parquet(s"$dir/linked/data")
      .select("url", "tok_start", "entity_id").collect().map(_.toSeq).toSet
    triplesOf(incDir) shouldBe triplesOf(fullDir)
    linkedOf(incDir) shouldBe linkedOf(fullDir)
    // manifests are whole again
    graft.meta.Snapshot.readManifest(s"$incDir/linked")
      .get.snapshotId shouldBe "snap-new-rerun"
  }

  private def copyTree(src: java.nio.file.Path, dst: java.nio.file.Path): Unit = {
    val s = Files.walk(src)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.foreach { p =>
        val t = dst.resolve(src.relativize(p))
        if (Files.isDirectory(p)) Files.createDirectories(t)
        else Files.copy(p, t,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    } finally s.close()
  }

  private def deleteTree(p: java.nio.file.Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
    } finally s.close()
  }

  test("Det.xxh64Bytes equals SQL xxhash64 on binary columns") {
    val samples = Seq("", "a", "hello world", "<p>x</p>é中")
      .map(_.getBytes("UTF-8"))
    val got = spark.createDataset(samples).toDF("b")
      .select(xxhash64(col("b"))).collect().map(_.getLong(0)).toSeq
    got shouldBe samples.map(graft.util.Det.xxh64Bytes)
  }

  test("same-warc_ts duplicates: run/dedupLatest/diff agree on one tie-break key") {
    import graft.extract.{Extract, HtmlText}
    import graft.util.Det
    // find two html variants whose xxh64 order DISAGREES with the order
    // of their extracted-text sha256 (the round-1 bug: three keys)
    val variants = (0 until 60).map(i =>
      s"<html><body><p>variant $i content</p></body></html>".getBytes("UTF-8"))
    val Seq(a, b) = variants.combinations(2).find { case Seq(x, y) =>
      val hashOrder = Det.xxh64Bytes(x) < Det.xxh64Bytes(y)
      val shaOrder = HtmlText.sha256Hex(HtmlText.extract(x)) <
        HtmlText.sha256Hex(HtmlText.extract(y))
      hashOrder != shaOrder
    }.get
    val ts = new Timestamp(1000L)
    val rows = Seq(
      PageRow("http://s/x", ts, a, null, "en"),
      PageRow("http://s/x", ts, b, null, "en"))
    val pages = spark.createDataset(rows)
    val expectedHtml = rows.maxBy(p => (p.warc_ts.getTime, Det.xxh64Bytes(p.html))).html
    // the extracted winner is the (warc_ts, xxh64(html)) max...
    Extract.run(pages).collect().head.text_sha256 shouldBe
      HtmlText.sha256Hex(HtmlText.extract(expectedHtml))
    // ...and so is the dedupLatest winner
    Extract.dedupLatest(pages).collect().head.html shouldBe expectedHtml
    // ...and diff sees identical snapshots as unchanged (winning-hash key)
    val statuses = Incremental.diff(pages, pages)
      .select("status").collect().map(_.getString(0)).toSet
    statuses shouldBe Set("unchanged")
  }
}
