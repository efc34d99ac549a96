package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.SparkEntry
import graft.canon.ConnectedComponents
import graft.emit.Emit
import graft.enrich.Enrich
import graft.extract.Extract
import graft.link.Link
import graft.mention.Mention
import graft.meta.Snapshot
import graft.model._
import graft.ops.AnnOps
import graft.pipeline.Pipeline
import graft.pipeline.Pipeline.bucketOf
import graft.synth.{Synth, SynthConfig}
import graft.util.Checksum
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The workloads. Each returns the raw record run.py reports from. */
object Workloads {

  /** run_dense's corpus size (BENCHMARK.json records it). */
  val DensePages = 1000L
  /** Url-hash buckets of the store. */
  val Buckets = 16
  /** q29 runs the KG pipeline on 120 pages and gives query_mix's
    * docs_per_s and triples_per_s. */
  val KgQuery = "q29_kg_triples"
  /** The queries that take several times the median query's time on the
    * sf0.01 tables (one client: q34 ~10 s, q29 ~4 s, q27 ~2.5 s, q22 and
    * q21 ~1.2 s; the median ~0.7 s), in the order a pass runs them. */
  val HeavyQueries: Seq[String] = Seq("q34_winnowing", KgQuery, "q27_cc_canon",
    "q22_minhash_lsh", "q21_jaccard_pairs")

  /** The scan setting the frozen bench (graft.Bench) uses for its KG leg,
    * so both time Pipeline.run under the same session settings. */
  val KgConf = Map("spark.sql.parquet.columnarReaderBatchSize" -> "512")

  type Ck = (Long, Long)

  def tripleCk(df: DataFrame): Ck = Checksum.of(df, Seq("subj", "pred", "obj"))

  /** Store tables compared between two stores, with their key columns. */
  val StoreTables: Seq[(String, Seq[String])] = Seq(
    "triples" -> Seq("subj", "pred", "obj"),
    "nodes" -> Seq("node_id", "label"),
    "adjacency" -> Seq("src", "dst", "pred"),
    "enriched" -> Seq("node_id", "label", "summary"),
    "ann_ivf" -> Seq("id", "cell"))

  def storeCk(spark: SparkSession, dir: String): Map[String, Ck] =
    StoreTables.map { case (t, cols) => t -> Checksum.of(spark.read.parquet(s"$dir/$t/data"), cols) }.toMap

  def dirBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
  }

  private def pagesOf(spark: SparkSession, dir: String): Dataset[PageRow] = {
    import spark.implicits._
    spark.read.parquet(dir).as[PageRow]
  }

  // ================================================================ run_dense

  /** Pipeline.run over light, mention-dense pages, with triples, nodes and
    * adjacency materialized through checksums over all their columns. The
    * warm-up op is the staged build of the same table into a store; its
    * triples are the reference every run is checked against. The traced
    * run's untraced ops are the layer-by-layer run with spans off, which
    * ComposedSpec checks equal to Pipeline.run. */
  def runDense(h: Harness): Map[String, Any] = {
    val cfg = Inputs.denseCfg(h.args.seed, DensePages)
    val dir = h.args.input.getOrElse(throw new IllegalArgumentException("missing --input"))
    val base = s"$dir/pages-n${cfg.nPages}"
    def build(table: String, out: String, sid: String): Unit =
      Pipeline.build(h.spark, pagesOf(h.spark, table), Synth.aliases(h.spark, cfg), Synth.sameAs(h.spark, cfg),
        cfg.nPages, out, sid, Buckets)

    val store = s"${h.work}/store"
    var expected: Ck = (0L, 0L)
    val (setupS, genS, _) = h.setup(KgConf)(s => Inputs.ensure(base)(Inputs.pages(s, cfg))) { _ =>
      h.deleteTree(store)
      build(base, store, "snap0")
      expected = tripleCk(h.spark.read.parquet(s"$store/triples/data"))
    }
    val outs = mutable.ArrayBuffer[Map[String, Ck]]()
    def checked(i: Int, s: Double, o: Map[String, Ck]): Op = {
      outs += o
      Op(s"run$i", s, o("triples") == expected,
        Map("docs" -> cfg.nPages.toDouble, "triples" -> o("triples")._1.toDouble))
    }
    // untraced: Pipeline.run until --seconds have passed. Traced: the
    // layer-by-layer run with spans off, traced, and off again; the trace
    // overhead compares the traced run with the mean of the two others.
    // Of two such runs in a row the second is 10-15% faster on a 4-core
    // box whichever is traced, so one pair would not resolve it.
    val counts = mutable.Map[String, Double]()
    var tracedRun: Option[(Double, Map[String, Ck])] = None
    val ops =
      if (!h.args.trace) h.loop { i =>
        val (s, o) = h.timed {
          val g = Pipeline.run(pagesOf(h.spark, base), Synth.aliases(h.spark, cfg), Synth.sameAs(h.spark, cfg),
            cfg.nPages)
          try denseOutputs(g.triples, g.nodes, g.adjacency)
          finally g.unpersist()
        }
        checked(i, s, o)
      } else {
        val off = new Tracer(h.spark.sparkContext, enabled = false)
        def plain(i: Int): Op = h.guarded(s"run$i") {
          val (s, o) = composedRun(h, off, pagesOf(h.spark, base), cfg, mutable.Map[String, Double]())
          checked(i, s, o)
        }
        val first = plain(0)
        tracedRun = Some(composedRun(h, h.tracer, pagesOf(h.spark, base), cfg, counts))
        Seq(first, plain(1))
      }

    val trace = tracedRun match {
      case None => Map.empty[String, Any]
      case Some((runS, runOut)) =>
        // the staged build, composed stage by stage (its commits, enrich
        // and ann_ivf run nowhere else), must write the same store as the
        // warm-up's Pipeline.build
        val traced = h.freshDir("store-traced")
        h.tracer.span("pipeline")(composedBuild(h, pagesOf(h.spark, base), cfg, traced, "snap0", counts))
        def same(what: String, a: Any, b: Any): Boolean =
          a == b || { System.err.println(s"[perfbench] $what differs"); false }
        val runEqual = outs.size == ops.size && outs.forall(o => same("traced run", runOut, o))
        val buildEqual = same("composed build", storeCk(h.spark, traced), storeCk(h.spark, store))
        Map("trace" -> (h.traceRecord(counts.toMap) ++ Map("untraced_s" -> ops.map(_.s).sum / ops.size,
          "traced_s" -> runS, "equal" -> (runEqual && buildEqual))))
    }
    h.record(setupS, genS, ops, Map("input" -> Map("pages" -> cfg.nPages, "buckets" -> Buckets)) ++ trace)
  }

  def denseOutputs(triples: Dataset[TripleRow], nodes: Dataset[NodeRow],
      adjacency: Dataset[AdjacencyRow]): Map[String, Ck] = Map(
    "triples" -> tripleCk(triples.toDF()),
    "nodes" -> Checksum.of(nodes.toDF().withColumn("props_json", to_json(col("props"))),
      Seq("node_id", "label", "props_json")),
    "adjacency" -> Checksum.of(adjacency.toDF(), Seq("src", "dst", "pred")))

  /** `Pipeline.run`, layer by layer, with the same caches, inside a
    * `pipeline` span of tracer `t`: each cached layer output is
    * materialized inside its own span, and the three outputs inside an
    * `emit` span. Returns the wall seconds of that span and the outputs.
    * The ratio counts are taken afterwards, outside the span and the
    * timing. */
  def composedRun(h: Harness, t: Tracer, pages: Dataset[PageRow], cfg: SynthConfig,
      counts: mutable.Map[String, Double]): (Double, Map[String, Ck]) = {
    val spark = h.spark
    import spark.implicits._
    val held = mutable.ArrayBuffer[Dataset[_]]()
    def layer[T](name: String)(ds: => Dataset[T]): Dataset[T] = t.span(name) {
      val d = ds.persist(StorageLevel.MEMORY_AND_DISK)
      held += d
      d.count()
      d
    }
    val al = Synth.aliases(spark, cfg)
    val cacheParts = math.max(spark.sparkContext.defaultParallelism * 3,
      spark.sessionState.conf.numShufflePartitions)
    val (s, (extracted, cands, linked, o)) = h.timed(t.span("pipeline") {
      val extracted = layer("extract")(Extract.run(pages).coalesce(cacheParts))
      val cands = layer("mention")(Mention.detect(extracted, al))
      val linked = layer("link")(Link.resolve(cands, cfg.nPages))
      val canon = layer("canon")(ConnectedComponents.canonMap(
        al.map(a => java.lang.Long.valueOf(a.entity_id)).distinct(), Synth.sameAs(spark, cfg)))
      val pe = layer("emit")(Emit.pageEntitySets(linked, canon))
      val triples = Emit.triples(extracted, linked, canon, Some(pe))
      (extracted, cands, linked, t.span("emit")(denseOutputs(triples,
        Emit.dropOrphans(Emit.nodes(extracted, canon), triples), Emit.adjacency(triples))))
    })
    val nIn = pages.count().toDouble
    val nEx = extracted.count().toDouble
    val nCand = cands.count().toDouble
    counts("extract.kept_frac") = nEx / nIn
    counts("mention.cands_per_doc") = nCand / nEx
    counts("link.linked_frac") = linked.count() / nCand
    counts("emit.triples") = o("triples")._1.toDouble
    held.foreach(_.unpersist())
    (s, o)
  }

  /** `Pipeline.build`, stage by stage, with a span around each layer call
    * and around each stage commit (`meta`). Each layer's output is
    * persisted and counted inside its span, so the commit that follows
    * writes it without recomputing it. The layers the composed run
    * already measures (extract to emit) get `build.`-prefixed spans, so
    * their per-layer metrics describe the run alone; enrich, ann_ivf and
    * meta run only here. */
  def composedBuild(h: Harness, pages: Dataset[PageRow], cfg: SynthConfig, out: String,
      sid: String, counts: mutable.Map[String, Double]): Unit = {
    val spark = h.spark
    import spark.implicits._
    val t = h.tracer
    val held = mutable.ArrayBuffer[DataFrame]()
    def layer(name: String)(df: => DataFrame): DataFrame = t.span(
        if (name == "enrich") name else s"build.$name") {
      val d = df.persist(StorageLevel.MEMORY_AND_DISK)
      held += d
      d.count()
      d
    }
    def commit(stage: String, version: String, parts: Seq[String])(df: DataFrame): DataFrame =
      t.span("meta")(Snapshot.stage(spark, out, stage, sid, version, parts)(df))
    def bucketed(df: DataFrame, key: String, parts: String*): DataFrame =
      df.withColumn("bucket", bucketOf(col(key), Buckets))
        .repartition((parts.map(col) :+ col("bucket")): _*)
    val al = Synth.aliases(spark, cfg)

    val exDf = layer("extract")(bucketed(Extract.run(pages).toDF(), "url"))
    val extracted = commit("extracted", Extract.StageVersion, Seq("bucket"))(exDf)
    commit("urlhash", "diff-v1", Seq("bucket"))(
      extracted.select(col("url"), col("html_xxh64").as("h"), col("bucket")))
    val ex = extracted.drop("bucket").as[ExtractedPage]

    val candDf = layer("mention")(bucketed(Mention.detect(ex, al).toDF(), "url"))
    val candidates = commit("candidates", "mention-v1", Seq("bucket"))(candDf)
    val aliasdf = commit("aliasdf", "link-v1", Seq("bucket"))(layer("link")(
      candidates.select(col("bucket"), col("url"), col("alias")).distinct()
        .groupBy(col("bucket"), col("alias")).agg(count(lit(1)).as("df_b"))
        .repartition(col("bucket"))))
    val linkedDf = layer("link")(bucketed(Link.resolve(candidates.drop("bucket").as[CandidateRow],
      cfg.nPages, Some(Link.collectAliasDf(Pipeline.globalAliasDf(aliasdf)))).toDF(), "url"))
    val linked = commit("linked", "link-v1", Seq("bucket"))(linkedDf)

    val canon = commit("canon", "canon-v1", Nil)(layer("canon")(ConnectedComponents.canonMap(
      al.map(a => java.lang.Long.valueOf(a.entity_id)).distinct(), Synth.sameAs(spark, cfg)).toDF()))
      .as[CanonRow]

    val lk = linked.drop("bucket").as[LinkedMention]
    val pe = layer("emit")(Emit.pageEntitySets(lk, canon))
    val triples = commit("triples", Pipeline.EmitVersion, Seq("pred", "bucket"))(layer("emit")(
      bucketed(Emit.triples(ex, lk, canon, Some(pe)).toDF(), "subj", "pred")))
    val td = triples.select(col("subj"), col("pred"), col("obj")).as[TripleRow]
    commit("nodes", Pipeline.EmitVersion, Seq("label"))(layer("emit")(
      Emit.dropOrphans(Emit.nodes(ex, canon, Some(sid)), td).toDF()))
    commit("adjacency", Pipeline.EmitVersion, Seq("pred", "bucket"))(layer("emit")(
      bucketed(Emit.adjacency(td).toDF(), "src", "pred")))

    val lt = triples.filter(col("pred") === Pred.LinksTo).select(col("subj"), col("obj"))
    commit("enriched", Pipeline.EnrichVersion, Seq("bucket"))(layer("enrich")(
      Enrich.nodeEnrichment(ex, lt)
        .withColumn("bucket", when(col("label") === lit(Label.Page), bucketOf(col("node_id"), Buckets))
          .otherwise(lit(-1L)))
        .repartition(col("bucket"))))

    t.span("ann_ivf")(AnnOps.buildIvfIndex(spark, out, Pipeline.pageTextEmbeddings(ex), "id", "emb",
      sid, seed = Pipeline.AnnSeed, nCells = Pipeline.AnnCells, dim = Pipeline.AnnDim).count())

    counts("meta.mb_written") = (dirBytes(out) - dirBytes(s"$out/ann_ivf")) / 1e6
    held.foreach(_.unpersist())
  }

  // ================================================================ query_mix

  /** Every SparkEntry query in closed-loop passes. A pass runs two
    * clients: one runs the heavy queries in a fixed order, the other the
    * rest in an order the seed shuffles. So two heavy queries never run
    * side by side, and every pass puts the same load beside the light
    * queries; one client alone needs ~45 s a pass on a 4-core box, more
    * than a run can spend.
    * Each execution writes its result as parquet, which materializes every
    * output column; run.py compares the last result of each query with its
    * DuckDB oracle. The tables are written by run.py (querydata.py) and
    * passed as `--input`. */
  def queryMix(h: Harness): Map[String, Any] = {
    val tables = h.args.input.getOrElse(throw new IllegalArgumentException("missing --input"))
    val out = h.freshDir("query-results")
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
    val tracedOut = s"$out/traced"
    def runQuery(name: String, dir: String = out): Unit =
      SparkEntry.queries(name)(h.spark, tables).write.mode("overwrite").parquet(s"$dir/$name")

    def order(p: Int): Seq[String] =
      new scala.util.Random(h.args.seed * 1000 + p).shuffle(queries.map(_._1))
    def timedQuery(q: String): Op = h.guarded(q)(Op(q, h.timed(runQuery(q))._1, ok = true))
    /** One pass, the heavy queries in one client and the rest in the
      * other: its wall time and its ops. */
    def pass(p: Int): (Double, Seq[Op]) = h.timed {
      val light = order(p).filterNot(HeavyQueries.contains)
      val clients = Seq(HeavyQueries, light).map { qs =>
        val done = mutable.ArrayBuffer[Op]()
        val t = new Thread(() => qs.foreach(q => done += timedQuery(q)))
        t.start()
        (t, done)
      }
      clients.flatMap { case (t, done) => t.join(); done }
    }

    // the warm-up op runs q29's pipeline on its corpus and keeps the
    // intermediates q29's oracle re-derives the triples from
    val aux = s"$out/.aux_kg"
    val (setupS, genS, _) = h.setup(Map.empty)(_ => ())(_ => dumpKgAux(h.spark, aux))
    val passes = mutable.ArrayBuffer[Double]()
    val ops = mutable.ArrayBuffer[Op]()
    val trace =
      if (!h.args.trace) {
        // timed passes until --seconds have passed (at least one)
        val deadline = System.nanoTime() + (h.args.seconds * 1e9).toLong
        do {
          val (s, o) = pass(passes.size)
          passes += s
          ops ++= o
        } while (System.nanoTime() < deadline)
        Map.empty[String, Any]
      } else {
        // one client; each query runs untraced and traced, alternating
        // which goes first, so neither gains from the other's warm-up
        var tracedS = 0.0
        order(0).zipWithIndex.foreach { case (q, i) =>
          def traced(): Unit = tracedS += h.timed(h.tracer.span(s"query.$q")(runQuery(q, tracedOut)))._1
          if (i % 2 == 1) traced()
          ops += timedQuery(q)
          if (i % 2 == 0) traced()
        }
        passes += ops.map(_.s).sum
        // run.py checks the traced results against the oracle as well
        Map("trace" -> (h.traceRecord(Map.empty) ++ Map("untraced_s" -> passes.head,
          "traced_s" -> tracedS, "equal" -> true, "results_dir" -> tracedOut)))
      }
    // the KG pipeline inside the mix: q29 builds a graph of 120 pages
    val kgTriples = h.spark.read.parquet(s"$out/$KgQuery").count().toDouble
    val counted = ops.map { o =>
      if (o.name != KgQuery) o
      else o.copy(counts = Map("docs" -> SparkEntry.KgOracleCfg.nPages.toDouble, "triples" -> kgTriples))
    }
    val auxAbs = Paths.get(aux).toAbsolutePath.toString
    val sql = Json(SparkEntry.oracleSql.map { case (k, v) => k -> v.replace("__AUX__", auxAbs) })
    Seq(out, tracedOut).filter(d => Files.isDirectory(Paths.get(d)))
      .foreach(d => Files.write(Paths.get(s"$d/oracle_sql.json"), sql.getBytes("UTF-8")))
    h.record(setupS, genS, counted.toSeq, Map("results_dir" -> out, "passes" -> passes.toSeq) ++ trace)
  }

  /** The pipeline intermediates q29's oracle re-derives the triples from
    * (the same dump graft.Verify writes). */
  private def dumpKgAux(spark: SparkSession, aux: String): Unit = {
    val cfg = SparkEntry.KgOracleCfg
    val g = Pipeline.run(Synth.pages(spark, cfg), Synth.aliases(spark, cfg), Synth.sameAs(spark, cfg),
      cfg.nPages)
    g.extracted.toDF().select(col("url"), col("links")).coalesce(1).write.parquet(s"$aux/extracted")
    g.linked.toDF().select(col("url"), col("entity_id")).coalesce(1).write.parquet(s"$aux/linked")
    g.canon.toDF().coalesce(1).write.parquet(s"$aux/canon")
    g.unpersist()
  }
}
