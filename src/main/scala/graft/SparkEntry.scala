package graft

import graft.canon.ConnectedComponents
import graft.ops._
import graft.pipeline.Pipeline
import graft.synth.{Synth, SynthConfig}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver contract (SURVEY.md §7, /root/repo/Verify.scala).
  *
  * Every operator family from SURVEY.md §2 that is SQL-expressible is
  * exposed here with a DuckDB oracle over the same parquet tables;
  * non-SQL-expressible operators (typed mapGroups interval join is SQL-
  * checkable and included; simhash UDF / LSH-ANN / multimodal stubs /
  * the synth KG pipeline are rows-only) are covered by golden-set specs
  * under src/test. Column names, ORDER BY, and numeric types are
  * deliberately mirrored between the Spark plan and the oracle SQL —
  * aggregated doubles go through DECIMAL(18,2) or round(x, 6) so
  * summation-order noise cannot flip the comparison.
  */
object SparkEntry {

  private def rd(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** The flagship/q29 synth corpus. nEntities = 120 > Emit.RelatesCap
    * (64) and every 40th page is a glossary head page mentioning every
    * entity, so the cap policy ACTUALLY FILTERS under the DuckDB oracle
    * (its rn <= cap branch drops rows; with the old nEntities = 40 the
    * filter was a no-op and cap drift between Emit/NaiveKg/oracle would
    * have passed). KgOracleCfgSpec pins >cap distinct canon ids. */
  val KgOracleCfg: SynthConfig =
    SynthConfig(nPages = 120L, nSites = 5, nEntities = 120, headPageEvery = 40)

  /** Flagship: the KG-construction pipeline end-to-end on the
    * deterministic synthetic corpus (driver smoke-checks rows > 0). */
  def entry(spark: SparkSession): DataFrame = kgTriples(spark)

  /** The q29 corpus's triples ordered by (subj, pred, obj), computed
    * eagerly: the ordered rows are localCheckpointed, so the returned
    * frame reads none of the caches `Pipeline.run` installs, and those
    * caches are released before returning. A lazy frame over them would
    * leave every call's caches registered for the session's life. */
  private def kgTriples(spark: SparkSession): DataFrame = {
    val cfg = KgOracleCfg
    val g = Pipeline.run(Synth.pages(spark, cfg), Synth.aliases(spark, cfg),
      Synth.sameAs(spark, cfg), cfg.nPages)
    try g.triples.toDF().orderBy("subj", "pred", "obj").localCheckpoint()
    finally g.unpersist()
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- A1 dedup-keep-latest (late-data url dedup analog) ----
    "q01_dedup_latest" -> ((s, d) => {
      rd(s, d, "events")
        .groupBy(col("user_id"))
        .agg(max_by(struct(col("event_id"), col("ts"), col("event_type")),
          struct(col("ts"), col("event_id"))).as("w"))
        .select(col("user_id"), col("w.event_id").as("last_event_id"),
          date_format(col("w.ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("last_ts"),
          col("w.event_type").as("last_type"))
        .orderBy("user_id")
    }),
    // ---- J1 semi join (ref linking: keep refs whose symbol exists) ----
    "q02_semi_join" -> ((s, d) => {
      val big = rd(s, d, "orders").filter(col("o_totalprice") > 400000.0)
      rd(s, d, "lineitem")
        .join(big, col("l_orderkey") === col("o_orderkey"), "left_semi")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          // decimal rendered as string: dtype-robust across engines
          sum(col("l_quantity")).cast("decimal(18,2)").cast("string").as("sum_qty"))
        .orderBy("l_returnflag")
    }),
    // ---- A8 anti join (orphan cleanup) ----
    "q03_anti_orphans" -> ((s, d) => {
      val bigOrders = rd(s, d, "orders").filter(col("o_totalprice") > 300000.0)
      rd(s, d, "customer").filter(col("c_custkey") < 100)
        .join(bigOrders, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy("c_custkey")
    }),
    // ---- J6 FK endpoint validation (CALLS-edge ingest analog) ----
    "q04_fk_edges" -> ((s, d) => {
      val fOrders = rd(s, d, "orders").filter(col("o_orderstatus") === "F")
      val bigParts = rd(s, d, "part").filter(col("p_size") > 40)
      rd(s, d, "lineitem")
        .join(fOrders, col("l_orderkey") === col("o_orderkey"), "left_semi")
        .join(bigParts, col("l_partkey") === col("p_partkey"), "left_semi")
        .groupBy(col("l_linestatus"))
        .agg(count(lit(1)).as("n"))
        .orderBy("l_linestatus")
    }),
    // ---- J2 left enrichment join, broadcast dim ----
    "q05_enrich_left" -> ((s, d) => {
      rd(s, d, "orders").filter(col("o_orderkey") % 100 === 0)
        .join(broadcast(rd(s, d, "customer")),
          col("o_custkey") === col("c_custkey"), "left")
        .select(col("o_orderkey"), col("c_name"), col("o_totalprice"))
        .orderBy("o_orderkey")
    }),
    // ---- A5 histogram ----
    "q06_histogram" -> ((s, d) =>
      rd(s, d, "events").groupBy(col("event_type"))
        .agg(count(lit(1)).as("n")).orderBy("event_type")),
    // ---- A6 global statistics ----
    "q07_stats" -> ((s, d) =>
      rd(s, d, "orders").agg(
        count(lit(1)).as("n_orders"),
        countDistinct(col("o_custkey")).as("n_custs"),
        sum(col("o_totalprice")).cast("decimal(18,2)").cast("string").as("sum_price"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"))),
    // ---- A3 ancestor explode + distinct ----
    "q08_ancestors" -> ((s, d) =>
      rd(s, d, "documents")
        .select(explode(array(col("source"),
          concat(col("source"), lit("/"), col("lang")))).as("anc"), col("doc_id"))
        // count ≡ countDistinct here BY CONSTRUCTION: doc_id is the
        // table key (one row per doc) and the two exploded ancs of a
        // row always differ (the second carries a '/'), so (doc_id,
        // anc) pairs are unique — dropping the distinct removes the
        // two-phase distinct aggregate (one exchange, not two); the
        // DuckDB oracle still computes count(DISTINCT doc_id)
        // independently and hash-matches.
        .groupBy("anc").agg(count(lit(1)).as("n_docs"))
        .orderBy("anc")),
    // ---- J4 interval containment, FIRST-match tie-break (typed cogroup) ----
    "q09_interval_first" -> ((s, d) => {
      import s.implicits._
      val pts = rd(s, d, "events").select(
        col("user_id").cast("long").as("key"),
        (col("value") * 1000.0).as("p"),
        col("event_id").cast("long").as("pid")).as[IntervalJoin.Point]
      val ivs = rd(s, d, "orders").filter(col("o_custkey") < 150)
        .select(col("o_custkey").cast("long").as("key"),
          col("o_totalprice").as("lo"),
          (col("o_totalprice") + 20000.0).as("hi"),
          col("o_orderkey").cast("long").as("iid")).as[IntervalJoin.Interval]
      // planned custom-Exec path when the session carries GraftExtensions
      // (Verify/Bench/tests do), typed-cogroup fallback otherwise
      IntervalJoin.firstMatchAuto(pts, ivs)
        .select(col("pid").as("event_id"), col("iid").as("o_orderkey"),
          col("key").as("user_id"))
        .orderBy("event_id")
    }),
    // ---- J11 iterative transitive closure ----
    "q10_reachable" -> ((s, d) => {
      val edges = rd(s, d, "orders").filter(col("o_orderkey") < 4000)
        .select(expr("o_orderkey DIV 2").as("src"), col("o_orderkey").as("dst"))
      val seeds = s.range(1, 2).select(col("id").as("node"))
      GraphOps.reachable(edges, seeds).orderBy("node")
    }),
    // ---- §2.6 union + distinct ----
    "q11_union_distinct" -> ((s, d) => {
      val nk = rd(s, d, "customer").select(col("c_nationkey").as("k"))
        .union(rd(s, d, "supplier").select(col("s_nationkey").as("k"))).distinct()
      rd(s, d, "nation")
        .join(nk, col("n_nationkey") === col("k"), "left_semi")
        .select(col("n_nationkey").as("nationkey"), col("n_name").as("nation"))
        .orderBy("nationkey")
    }),
    // ---- O2 windowed top-k per group ----
    "q12_topk_window" -> ((s, d) => {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      rd(s, d, "orders")
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
        .select(col("o_orderpriority"), col("rn"), col("o_orderkey"), col("o_totalprice"))
        .orderBy("o_orderpriority", "rn")
    }),
    // ---- A10 collect_set, order-insensitive rendering ----
    "q13_collect_types" -> ((s, d) =>
      rd(s, d, "events").groupBy(col("user_id"))
        .agg(array_join(array_sort(collect_set(col("event_type"))), ",").as("types"))
        .orderBy("user_id")),
    // ---- J13 snapshot diff (full outer + classify) ----
    "q14_snapshot_diff" -> ((s, d) => {
      val ev = rd(s, d, "events")
      val old = ev.filter(col("value") < 250.0).select(col("event_id").as("old_id"))
      val neu = ev.filter(col("value") >= 100.0).select(col("event_id").as("new_id"))
      old.join(neu, col("old_id") === col("new_id"), "full_outer")
        .select(when(col("old_id").isNull, lit("added"))
          .when(col("new_id").isNull, lit("deleted"))
          .otherwise(lit("retained")).as("status"))
        .groupBy("status").agg(count(lit(1)).as("n")).orderBy("status")
    }),
    // ---- O1/O3 sort + limit ----
    "q15_sort_limit" -> ((s, d) =>
      rd(s, d, "documents").select(col("doc_id"), col("n_chars"), col("source"))
        .orderBy(col("n_chars").desc, col("doc_id")).limit(10)),
    // ---- exact dedup clusters (hash groupBy) ----
    "q16_dedup_exact" -> ((s, d) =>
      DedupOps.exactClusters(rd(s, d, "documents"), "doc_id", "source")
        .orderBy("fp")),
    // ---- prefix fingerprint dedup ----
    "q17_fingerprint" -> ((s, d) =>
      rd(s, d, "documents")
        .groupBy(TextOps.prefixFingerprint(col("text"), 3).as("fp"))
        .agg(count(lit(1)).as("cluster_size"), min(col("doc_id")).as("keep_id"))
        .filter(col("cluster_size") > 1)
        .orderBy("fp")),
    // ---- text quality features ----
    "q18_quality" -> ((s, d) => {
      val q = TextOps.qualityFeatures(col("text"))
      rd(s, d, "documents").filter(col("doc_id") < 50)
        .select(col("doc_id") +: q.map { case (n, c) => c.as(n) }: _*)
        .orderBy("doc_id")
    }),
    // ---- language-ID heuristic ----
    "q19_lang_id" -> ((s, d) =>
      rd(s, d, "documents")
        .select(col("lang"), TextOps.langId(col("text")).as("pred"))
        .groupBy("lang", "pred").agg(count(lit(1)).as("n"))
        .orderBy("lang", "pred")),
    // ---- token counting ----
    "q20_token_count" -> ((s, d) =>
      rd(s, d, "documents").filter(col("doc_id") < 100)
        .select(col("doc_id"), TextOps.tokenCount(col("text")).as("n_tokens"))
        .orderBy("doc_id")),
    // ---- n-gram Jaccard near-dup pairs (exact baseline) ----
    "q21_jaccard_pairs" -> ((s, d) =>
      DedupOps.jaccardPairs(rd(s, d, "documents"), "doc_id", "text", 3, 0.35)
        .orderBy("id_a", "id_b")),
    // ---- MinHash + LSH banding candidates ----
    "q22_minhash_lsh" -> ((s, d) =>
      DedupOps.minhashCandidates(rd(s, d, "documents"), "doc_id", "text",
        n = 3, bands = 4, rowsPerBand = 2)
        .orderBy("id_a", "id_b")),
    // ---- SimHash near-dups (UDF hash — no SQL oracle, rows-only) ----
    "q23_simhash_pairs" -> ((s, d) =>
      DedupOps.simhashPairs(rd(s, d, "documents"), "doc_id", "text", 3)
        .orderBy("id_a", "id_b")),
    // ---- ANN: brute-force cosine top-k ----
    "q24_ann_brute" -> ((s, d) => {
      val emb = rd(s, d, "embeddings")
      val q = emb.filter(col("vec_id") === 0)
        .head().getAs[Seq[Float]]("embedding").toArray
      AnnOps.bruteForceTopK(emb, "vec_id", "embedding", q, 10)
    }),
    // ---- ANN: LSH-bucketed top-k (scale path; rows-only check) ----
    "q25_ann_lsh" -> ((s, d) => {
      val emb = rd(s, d, "embeddings")
      val q = emb.filter(col("vec_id") === 0)
        .head().getAs[Seq[Float]]("embedding").toArray
      AnnOps.lshTopK(emb, "vec_id", "embedding", q, 10)
    }),
    // ---- JSON scalar extraction ----
    "q26_json_props" -> ((s, d) =>
      rd(s, d, "events")
        .groupBy(col("event_type"))
        .agg(sum(get_json_object(col("props"), "$.k").cast("long")).as("sum_k"),
          count(lit(1)).as("n"))
        .orderBy("event_type")),
    // ---- connected components (iterative large/small-star) ----
    "q27_cc_canon" -> ((s, d) => {
      val edges = rd(s, d, "orders").filter(col("o_orderkey") < 300)
        .select(col("o_orderkey").cast("long").as("u"),
          (col("o_custkey") + 100000L).cast("long").as("v"))
      val cc = ConnectedComponents.run(edges)
      val nodes = edges.select(col("u").as("node"))
        .union(edges.select(col("v").as("node"))).distinct()
      nodes.join(cc.withColumnRenamed("u", "node"), Seq("node"), "left")
        .select(col("node"), coalesce(col("v"), col("node")).as("canon_id"))
        .orderBy("node")
    }),
    // ---- multimodal binary plumbing (stub codec; rows-only check) ----
    "q28_multimodal" -> ((s, d) => {
      import s.implicits._
      // REAL header bytes constructed from doc_id (6 formats), then
      // parsed back by the real byte-level parsers through the
      // mapPartitions codec path; the oracle recomputes the dim
      // formulas independently, so construct→parse must round-trip
      val media = rd(s, d, "documents").filter(col("doc_id") < 60)
        .select(col("doc_id").as("media_id"),
          when(col("doc_id") % 6 === 4, "video").otherwise("image").as("kind"),
          Multimodal.synthHeaderPayload(col("doc_id")).as("payload"))
        .as[Multimodal.MediaRow]
      Multimodal.decodeAndFeaturize(media).toDF()
        .select(col("media_id"), col("kind"), col("format"),
          col("width"), col("height"), col("n_bytes"))
        .orderBy("media_id")
    }),
    // ---- BPE-ish piece count + heuristic subword estimate ----
    "q33_bpe_count" -> ((s, d) =>
      rd(s, d, "documents").filter(col("doc_id") < 100)
        .select(col("doc_id"),
          TextOps.bpePieceCount(col("text")).as("n_pieces"),
          TextOps.subwordCountEstimate(col("text")).as("n_subwords"))
        .orderBy("doc_id")),
    // ---- winnowing (rolling-hash) document fingerprints ----
    "q34_winnowing" -> ((s, d) =>
      rd(s, d, "documents").filter(col("doc_id") < 100)
        .select(col("doc_id"),
          array_join(TextOps.winnowingFingerprints(col("text"), 4, 5), ",")
            .as("fps"))
        .orderBy("doc_id")),
    // ---- ANN: IVF (nearest-centroid lists, nProbe cells, exact re-rank) ----
    "q32_ann_ivf" -> ((s, d) => {
      val emb = rd(s, d, "embeddings")
      val q = emb.filter(col("vec_id") === 0)
        .head().getAs[Seq[Float]]("embedding").toArray
      AnnOps.ivfTopK(emb, "vec_id", "embedding", q, 10)
    }),
    // ---- all-pairs embedding cosine ≥ τ via SRP-bucket join ----
    "q31_cosine_pairs" -> ((s, d) =>
      AnnOps.cosinePairs(rd(s, d, "embeddings"), "vec_id", "embedding",
        tau = 0.2).orderBy("id_a", "id_b")),
    // ---- J9 neighbor-context collect join (enrichment context shape) ----
    "q30_context_join" -> ((s, d) => {
      val docs = rd(s, d, "documents")
      val nodeSums = docs.select(col("doc_id").as("url"),
        concat(col("source"), lit("/"), col("lang")).as("summary"))
      // deterministic synthetic link graph over the documents table
      val edges = docs.select(col("doc_id").as("subj"),
        ((col("doc_id") * 3 + 7) % 500).as("obj"))
      graft.enrich.Enrich.contextSummaries(edges, nodeSums)
        .select(col("url").as("doc_id"), col("summary"),
          array_join(col("neighborSummaries"), ",").as("neighbor_summaries"))
        .orderBy("doc_id")
    }),
    // ---- flagship KG pipeline on the synth corpus. Oracle: Verify dumps
    // the extracted/linked/canon intermediates and DuckDB re-derives all
    // four predicates (hierarchy chain, FK-validated links, canonical
    // mentions, capped relates pairs) from them — the emit stage is
    // hash-compared end-to-end. ----
    "q29_kg_triples" -> ((s, _) => kgTriples(s)),
    // ---- multimodal CONTENT decode for the codec-free formats: real
    // BMP pixel-mean and WAV PCM rate/duration/RMS, construct→parse
    // round-trip (synthAvBytes encodes real file layouts; the oracle
    // recomputes every value from the generating formulas alone) ----
    "q36_multimodal_av" -> ((s, d) => {
      import s.implicits._
      val media = rd(s, d, "documents").filter(col("doc_id") < 60)
        .select(col("doc_id")).as[Long]
        .map(id => Multimodal.MediaRow(
          id, if (id % 2 == 0) "image" else "audio",
          Multimodal.synthAvBytes(id)))
      Multimodal.decodeAvFeatures(media).toDF()
        .select(col("media_id"), col("format"), col("width"), col("height"),
          round(col("mean_px"), 6).as("mean_px"),
          col("sample_rate"), col("duration_ms"),
          round(col("rms"), 6).as("rms"))
        .orderBy("media_id")
    }),
    // ---- S8 full COMPRESSED decode tier: real PNG/GIF/JPEG files are
    // ENCODED from doc_id by the JDK's own codecs and pixel-DECODED back
    // through ImageIoCodec; the oracle recomputes the lossless means
    // (PNG gradient, GIF two-gray checkerboard) from the formulas alone
    // — the whole entropy-coded round trip must agree. JPEG is lossy, so
    // its oracle row checks real decoded DIMS and leaves mean_px NULL
    // (the spec pins its decoded mean to the solid gray within ±2). ----
    "q37_image_decode" -> ((s, d) => {
      import s.implicits._
      val media = rd(s, d, "documents").filter(col("doc_id") < 60)
        .select(col("doc_id")).as[Long]
        .map(id => Multimodal.MediaRow(id, "image",
          Multimodal.synthImageBytes(id)))
      Multimodal.decodeImageFeatures(media).toDF()
        .select(col("media_id"), col("format"), col("width"), col("height"),
          when(col("format") === "jpeg", lit(null).cast("double"))
            .otherwise(round(col("mean_px"), 6)).as("mean_px"))
        .orderBy("media_id")
    }),
    // ---- S8 compressed AUDIO decode: real G.711 μ-law WAV files
    // encoded from doc_id, companded-decoded by the JDK's javax.sound
    // codec; the oracle expands each 8-bit code through the G.711
    // closed form and recomputes the RMS the decoder must match
    // bit-exactly (the JDK table IS the closed form — spec-pinned). ----
    "q38_audio_ulaw" -> ((s, d) => {
      import s.implicits._
      val media = rd(s, d, "documents").filter(col("doc_id") < 60)
        .select(col("doc_id")).as[Long]
        .map(id => Multimodal.MediaRow(id, "audio",
          Multimodal.synthUlawBytes(id)))
      Multimodal.decodeAvFeatures(media).toDF()
        .select(col("media_id"), col("format"), col("sample_rate"),
          col("duration_ms"), round(col("rms"), 6).as("rms"))
        .orderBy("media_id")
    }),
    // ---- A3/A11 arbitrary-depth ancestor chain over a synthetic
    // variable-depth path column (the FOLDER-analog derivation, oracled
    // directly against an independent SQL prefix expansion). A fifth of
    // the urls carry a query string / fragment WITH embedded slashes —
    // binding the frozen messy-url policy (strip from the first ?/#
    // before prefix derivation) on both engines: without the strip,
    // "doc5?q=1" would become a SECTION-level prefix. ----
    "q35_path_ancestors" -> ((s, d) => {
      val doc = col("doc_id")
      val url = concat(lit("https://"), col("source"), lit(".example/"),
        col("lang"),
        when(doc % 3 === 1, concat(lit("/d"), doc % 7))
          .when(doc % 3 === 2, concat(lit("/d"), doc % 7, lit("/e"), doc % 2))
          .otherwise(lit("")),
        lit("/doc"), doc,
        when(doc % 5 === 0, lit("?q=1/x"))
          .when(doc % 5 === 3, lit("#f/y"))
          .otherwise(lit("")))
      rd(s, d, "documents").select(doc, url.as("url"))
        .select(doc, explode(graft.emit.Hierarchy.prefixesOf(col("url")))
          .as("anc"))
        // count ≡ countDistinct BY CONSTRUCTION: doc_id is the table
        // key and a url's ancestor prefixes are pairwise distinct
        // (strictly increasing lengths), so (doc_id, anc) pairs are
        // unique — one aggregate exchange instead of the two-phase
        // distinct; the oracle still computes count(DISTINCT doc_id).
        .groupBy("anc").agg(count(lit(1)).as("n_docs"))
        .orderBy("anc")
    }))

  /** q25's SRP hyperplanes inlined as DuckDB list literals (identical
    * deterministic values as the lshTopK call: seed 42, 8 planes, dim 64)
    * so the oracle reproduces the exact buckets, probes, and re-rank. */
  /** SRP hyperplanes (seed 42, dim 64) as DuckDB VALUES rows — the same
    * deterministic doubles the Spark plans inline via lit(...). */
  private def planeLiterals(nPlanes: Int): String =
    (0 until nPlanes).map { p =>
      val vs = AnnOps.hyperplane(42L, p, 64).map(_.toString).mkString(", ")
      s"($p, [$vs]::DOUBLE[])"
    }.mkString(",\n  ")

  private def q25OracleSql: String = {
    val planes = planeLiterals(8)
    s"""WITH planes(pid, pv) AS (VALUES
       |  $planes),
       |bucketed AS (
       |  SELECT e.vec_id AS id, e.embedding AS emb,
       |    CAST(sum(CASE WHEN list_sum([e.embedding[i]::DOUBLE * p.pv[i]
       |                   for i in range(1, 65)]) >= 0
       |             THEN (1::BIGINT << p.pid) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM embeddings e CROSS JOIN planes p
       |  GROUP BY e.vec_id, e.embedding),
       |qb AS (SELECT bucket AS qbucket FROM bucketed WHERE id = 0),
       |probes AS (
       |  SELECT qbucket AS pb FROM qb
       |  UNION ALL
       |  SELECT xor(qb.qbucket, (1::BIGINT << p.pid)) FROM qb CROSS JOIN planes p),
       |qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
       |SELECT b.id AS id,
       |  round(list_sum([b.emb[i]::DOUBLE * qv.qe[i]::DOUBLE for i in range(1, 65)]) /
       |    (sqrt(list_sum([b.emb[i]::DOUBLE * b.emb[i]::DOUBLE for i in range(1, 65)])) *
       |     sqrt(list_sum([qv.qe[i]::DOUBLE * qv.qe[i]::DOUBLE for i in range(1, 65)]))), 6) AS cos
       |FROM bucketed b, qv
       |WHERE b.bucket IN (SELECT pb FROM probes)
       |ORDER BY cos DESC, id LIMIT 10""".stripMargin
  }

  /** All-pairs cosine ≥ τ restricted to SRP-bucket collisions (recall <1
    * by design — the oracle reproduces the same bucketing exactly). */
  private def q31OracleSql: String = {
    val planes = planeLiterals(6)
    s"""WITH planes(pid, pv) AS (VALUES
       |  $planes),
       |b AS (
       |  SELECT e.vec_id AS id, e.embedding AS emb,
       |    CAST(sum(CASE WHEN list_sum([e.embedding[i]::DOUBLE * p.pv[i]
       |                   for i in range(1, 65)]) >= 0
       |             THEN (1::BIGINT << p.pid) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM embeddings e CROSS JOIN planes p
       |  GROUP BY e.vec_id, e.embedding)
       |SELECT id_a, id_b, round(cos, 6) AS cos FROM (
       |  SELECT a.id AS id_a, b2.id AS id_b,
       |    list_sum([a.emb[i]::DOUBLE * b2.emb[i]::DOUBLE
       |              for i in range(1, 65)]) /
       |    (sqrt(list_sum([a.emb[i]::DOUBLE * a.emb[i]::DOUBLE
       |              for i in range(1, 65)])) *
       |     sqrt(list_sum([b2.emb[i]::DOUBLE * b2.emb[i]::DOUBLE
       |              for i in range(1, 65)]))) AS cos
       |  FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.id < b2.id)
       |WHERE cos >= 0.2 ORDER BY id_a, id_b""".stripMargin
  }

  /** IVF codebook inlined; assignment = argmax dot with lowest-cell
    * tie-break (row_number ORDER BY dot DESC, cid), probes = the 4 cells
    * nearest the query, exact cosine re-rank inside them. */
  private def q32OracleSql: String = {
    val cents = (0 until 16).map { c =>
      val vs = AnnOps.ivfCentroid(42L, c, 64).map(_.toString).mkString(", ")
      s"($c, [$vs]::DOUBLE[])"
    }.mkString(",\n  ")
    s"""WITH centroids(cid, cv) AS (VALUES
       |  $cents),
       |scored AS (
       |  SELECT e.vec_id AS id, e.embedding AS emb, c.cid,
       |    list_sum([e.embedding[i]::DOUBLE * c.cv[i]
       |              for i in range(1, 65)]) AS dot
       |  FROM embeddings e CROSS JOIN centroids c),
       |assigned AS (
       |  SELECT id, emb, cid AS cell FROM (
       |    SELECT *, row_number() OVER (PARTITION BY id
       |      ORDER BY dot DESC, cid) rn FROM scored) WHERE rn = 1),
       |qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |probes AS (
       |  SELECT c.cid FROM centroids c, qv
       |  ORDER BY list_sum([qv.qe[i]::DOUBLE * c.cv[i]
       |                     for i in range(1, 65)]) DESC, c.cid
       |  LIMIT 4)
       |SELECT a.id AS id,
       |  round(list_sum([a.emb[i]::DOUBLE * qv.qe[i]::DOUBLE for i in range(1, 65)]) /
       |    (sqrt(list_sum([a.emb[i]::DOUBLE * a.emb[i]::DOUBLE for i in range(1, 65)])) *
       |     sqrt(list_sum([qv.qe[i]::DOUBLE * qv.qe[i]::DOUBLE for i in range(1, 65)]))), 6) AS cos
       |FROM assigned a, qv
       |WHERE a.cell IN (SELECT cid FROM probes)
       |ORDER BY cos DESC, id LIMIT 10""".stripMargin
  }

  /** Flagship q29 oracle: re-derive all four predicates in DuckDB from
    * the dumped pipeline intermediates (Verify substitutes __AUX__ with
    * the absolute aux_kg path). Encodes the SAME frozen policies as
    * Emit/NaiveKg: full path-prefix contains chain, FK-validated
    * links_to, canonical mention distinct, RelatesCap-smallest relates
    * pairs. */
  private def q29OracleSql: String = {
    val scheme = "^[a-zA-Z][a-zA-Z0-9+.-]*://"
    s"""WITH ex AS (SELECT url, links FROM read_parquet('__AUX__/extracted/*.parquet')),
       |lk AS (SELECT url, entity_id FROM read_parquet('__AUX__/linked/*.parquet')),
       |cn AS (SELECT entity_id, canon_id FROM read_parquet('__AUX__/canon/*.parquet')),
       |pe AS (SELECT DISTINCT l.url, c.canon_id FROM lk l JOIN cn c USING (entity_id)),
       |pref AS (
       |  SELECT url, CASE WHEN len(s) <= 1 THEN [p]
       |    ELSE [array_to_string(s[1:k], '/') for k in range(1, len(s))] END AS ps
       |  FROM (SELECT url, p, string_split(p, '/') s
       |        FROM (SELECT url, regexp_replace(
       |                regexp_replace(url, '$scheme', ''),
       |                '(?s)[?#].*', '') p
       |              FROM ex))),
       |contains_t AS (
       |  SELECT DISTINCT x.a AS subj, x.b AS obj
       |  FROM (SELECT list_prepend('graft:root', ps) anc FROM pref) t,
       |       unnest([{'a': t.anc[k], 'b': t.anc[k+1]}
       |               for k in range(1, len(t.anc))]) u(x)
       |  UNION
       |  SELECT ps[len(ps)] AS subj, url AS obj FROM pref),
       |links_t AS (
       |  SELECT DISTINCT e.url AS subj, u.l AS obj
       |  FROM ex e, unnest(e.links) u(l)
       |  WHERE u.l IN (SELECT url FROM ex)),
       |ments_t AS (SELECT DISTINCT url AS subj, 'ent:' || canon_id AS obj FROM pe),
       |capped AS (
       |  SELECT url, canon_id FROM (
       |    SELECT url, canon_id,
       |      row_number() OVER (PARTITION BY url ORDER BY canon_id) rn
       |    FROM pe) WHERE rn <= ${graft.emit.Emit.RelatesCap}),
       |rel_t AS (
       |  SELECT DISTINCT 'ent:' || a.canon_id AS subj, 'ent:' || b.canon_id AS obj
       |  FROM capped a JOIN capped b ON a.url = b.url AND a.canon_id < b.canon_id)
       |SELECT subj, 'contains' AS pred, obj FROM contains_t
       |UNION ALL SELECT subj, 'mentions' AS pred, obj FROM ments_t
       |UNION ALL SELECT subj, 'links_to' AS pred, obj FROM links_t
       |UNION ALL SELECT subj, 'relates_to' AS pred, obj FROM rel_t
       |ORDER BY subj, pred, obj""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(
    "q29_kg_triples" -> q29OracleSql,
    "q35_path_ancestors" ->
      """WITH urls AS (
        |  SELECT doc_id,
        |    'https://' || source || '.example/' || lang ||
        |    CASE WHEN doc_id % 3 = 1 THEN '/d' || (doc_id % 7)
        |         WHEN doc_id % 3 = 2 THEN '/d' || (doc_id % 7) || '/e' || (doc_id % 2)
        |         ELSE '' END || '/doc' || doc_id ||
        |    CASE WHEN doc_id % 5 = 0 THEN '?q=1/x'
        |         WHEN doc_id % 5 = 3 THEN '#f/y'
        |         ELSE '' END AS url
        |  FROM documents),
        |paths AS (
        |  SELECT doc_id,
        |    regexp_replace(regexp_replace(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://', ''),
        |      '(?s)[?#].*', '') AS p
        |  FROM urls),
        |pref AS (
        |  SELECT doc_id, unnest(
        |    CASE WHEN len(s) <= 1 THEN [p]
        |      ELSE [array_to_string(s[1:k], '/') for k in range(1, len(s))] END) AS anc
        |  FROM (SELECT doc_id, p, string_split(p, '/') s FROM paths))
        |SELECT anc, count(DISTINCT doc_id) AS n_docs FROM pref
        |GROUP BY anc ORDER BY anc""".stripMargin,
    "q32_ann_ivf" -> q32OracleSql,
    "q33_bpe_count" ->
      s"""SELECT doc_id,
        | len(regexp_extract_all(text, '${TextOps.BpePiecePattern}')) AS n_pieces,
        | CAST(list_sum(list_transform(regexp_split_to_array(trim(text), '\\s+'),
        |   w -> greatest(1, CAST(ceil(length(w) / 8.0) AS BIGINT)))) AS BIGINT) AS n_subwords
        |FROM documents WHERE doc_id < 100 ORDER BY doc_id""".stripMargin,
    // winnowing: 4-gram md5 hashes, min per window of 5, distinct+sorted
    // (DuckDB list slicing is 1-based INCLUSIVE: t[i:i+3] = 4 elements)
    "q34_winnowing" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') t
        |  FROM documents WHERE doc_id < 100),
        |g AS (
        |  SELECT doc_id,
        |    CASE WHEN len(t) >= 4 THEN
        |      [md5(array_to_string(t[i:i+3], ' ')) for i in range(1, len(t) - 2)]
        |    ELSE []::VARCHAR[] END AS grams
        |  FROM toks),
        |m AS (
        |  SELECT doc_id,
        |    CASE WHEN len(grams) >= 5 THEN
        |      [list_min(grams[j:j+4]) for j in range(1, len(grams) - 3)]
        |    WHEN len(grams) > 0 THEN [list_min(grams)]
        |    ELSE []::VARCHAR[] END AS mins
        |  FROM g)
        |SELECT doc_id,
        |  coalesce(array_to_string(list_sort(list_distinct(mins)), ','), '') AS fps
        |FROM m ORDER BY doc_id""".stripMargin,
    // SimHash brute-force re-derivation: md5-derived 64-bit token hash
    // ((hi-signed)*2^32+lo assembles the first 8 md5 bytes big-endian,
    // matching SimHash64's token hash), per-bit majority vote, all-pairs
    // hamming <= 3 — the banding in simhashPairs is exhaustive for
    // radius 3 (pigeonhole), so the sets must be equal.
    "q23_simhash_pairs" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) tok
        |  FROM documents),
        |th AS (
        |  SELECT doc_id,
        |    (CASE WHEN hi >= 2147483648 THEN hi - 4294967296 ELSE hi END)
        |      * 4294967296 + lo AS h
        |  FROM (SELECT doc_id,
        |          ('0x' || substr(md5(tok), 1, 8))::BIGINT hi,
        |          ('0x' || substr(md5(tok), 9, 8))::BIGINT lo
        |        FROM toks)),
        |bits AS (
        |  SELECT doc_id, r.range AS b,
        |    CASE WHEN sum(CASE WHEN ((h >> CAST(r.range AS INTEGER)) & 1) = 1
        |                       THEN 1 ELSE -1 END) > 0
        |         THEN 1 ELSE 0 END AS bit
        |  FROM th CROSS JOIN range(64) r
        |  GROUP BY doc_id, r.range),
        |pairs AS (
        |  SELECT a.doc_id id_a, b2.doc_id id_b,
        |    sum(CASE WHEN a.bit != b2.bit THEN 1 ELSE 0 END) AS hamming
        |  FROM bits a JOIN bits b2 ON a.b = b2.b AND a.doc_id < b2.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b, CAST(hamming AS INTEGER) AS hamming
        |FROM pairs WHERE hamming <= 3 ORDER BY id_a, id_b""".stripMargin,
    "q25_ann_lsh" -> q25OracleSql,
    "q31_cosine_pairs" -> q31OracleSql,
    // context-join shape: string_agg(DISTINCT .. ORDER BY) mirrors
    // array_join(array_sort(collect_set(..)))
    "q30_context_join" ->
      """WITH nodes AS (
        |  SELECT doc_id, source || '/' || lang AS summary FROM documents),
        |edges AS (
        |  SELECT doc_id AS subj, (doc_id * 3 + 7) % 500 AS obj FROM documents),
        |und AS (
        |  SELECT subj AS url, obj AS nbr FROM edges
        |  UNION ALL SELECT obj, subj FROM edges),
        |nbrs AS (
        |  SELECT u.url,
        |    string_agg(DISTINCT n.summary, ',' ORDER BY n.summary) AS ns
        |  FROM und u JOIN nodes n ON n.doc_id = u.nbr
        |  GROUP BY u.url)
        |SELECT n.doc_id, n.summary, coalesce(b.ns, '') AS neighbor_summaries
        |FROM nodes n LEFT JOIN nbrs b ON b.url = n.doc_id
        |ORDER BY doc_id""".stripMargin,
    "q01_dedup_latest" ->
      """SELECT user_id, event_id AS last_event_id,
        | strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS last_ts,
        | event_type AS last_type
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        |        ORDER BY ts DESC, event_id DESC) rn FROM events)
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "q02_semi_join" ->
      """SELECT l_returnflag, count(*) AS n,
        | CAST(CAST(sum(l_quantity) AS DECIMAL(18,2)) AS VARCHAR) AS sum_qty
        |FROM lineitem WHERE l_orderkey IN
        | (SELECT o_orderkey FROM orders WHERE o_totalprice > 400000.0)
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q03_anti_orphans" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE c_custkey < 100 AND NOT EXISTS (
        |  SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000.0)
        |ORDER BY c_custkey""".stripMargin,
    "q04_fk_edges" ->
      """SELECT l_linestatus, count(*) AS n FROM lineitem
        |WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F')
        |  AND l_partkey IN (SELECT p_partkey FROM part WHERE p_size > 40)
        |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,
    "q05_enrich_left" ->
      """SELECT o_orderkey, c_name, o_totalprice
        |FROM orders LEFT JOIN customer ON o_custkey = c_custkey
        |WHERE o_orderkey % 100 = 0 ORDER BY o_orderkey""".stripMargin,
    "q06_histogram" ->
      "SELECT event_type, count(*) AS n FROM events GROUP BY event_type ORDER BY event_type",
    "q07_stats" ->
      """SELECT count(*) AS n_orders, count(DISTINCT o_custkey) AS n_custs,
        | CAST(CAST(sum(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR) AS sum_price,
        | min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM orders""".stripMargin,
    "q08_ancestors" ->
      """SELECT anc, count(DISTINCT doc_id) AS n_docs FROM (
        |  SELECT source AS anc, doc_id FROM documents
        |  UNION ALL
        |  SELECT source || '/' || lang AS anc, doc_id FROM documents)
        |GROUP BY anc ORDER BY anc""".stripMargin,
    "q09_interval_first" ->
      """SELECT event_id, o_orderkey, user_id FROM (
        |  SELECT e.event_id, o.o_orderkey, e.user_id,
        |    row_number() OVER (PARTITION BY e.event_id
        |      ORDER BY o.o_totalprice, o.o_orderkey) rn
        |  FROM events e JOIN orders o ON o.o_custkey = e.user_id
        |   AND o.o_totalprice <= e.value * 1000.0
        |   AND e.value * 1000.0 <= o.o_totalprice + 20000.0
        |  WHERE o.o_custkey < 150)
        |WHERE rn = 1 ORDER BY event_id""".stripMargin,
    "q10_reachable" ->
      """WITH RECURSIVE e AS (
        |  SELECT o_orderkey // 2 AS src, o_orderkey AS dst
        |  FROM orders WHERE o_orderkey < 4000),
        |r(node) AS (
        |  SELECT CAST(1 AS BIGINT)
        |  UNION
        |  SELECT e.dst FROM e JOIN r ON e.src = r.node)
        |SELECT DISTINCT e.dst AS node FROM e JOIN r ON e.src = r.node
        |ORDER BY node""".stripMargin,
    "q11_union_distinct" ->
      """SELECT n_nationkey AS nationkey, n_name AS nation FROM nation
        |WHERE n_nationkey IN (
        |  SELECT c_nationkey FROM customer UNION SELECT s_nationkey FROM supplier)
        |ORDER BY nationkey""".stripMargin,
    "q12_topk_window" ->
      """SELECT o_orderpriority, rn, o_orderkey, o_totalprice FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice DESC, o_orderkey) rn
        |  FROM orders)
        |WHERE rn <= 3 ORDER BY o_orderpriority, rn""".stripMargin,
    "q13_collect_types" ->
      """SELECT user_id,
        | string_agg(DISTINCT event_type, ',' ORDER BY event_type) AS types
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q14_snapshot_diff" ->
      """SELECT status, count(*) AS n FROM (
        |  SELECT CASE WHEN o.old_id IS NULL THEN 'added'
        |              WHEN n.new_id IS NULL THEN 'deleted'
        |              ELSE 'retained' END AS status
        |  FROM (SELECT event_id AS old_id FROM events WHERE value < 250.0) o
        |  FULL OUTER JOIN
        |       (SELECT event_id AS new_id FROM events WHERE value >= 100.0) n
        |  ON o.old_id = n.new_id)
        |GROUP BY status ORDER BY status""".stripMargin,
    "q15_sort_limit" ->
      """SELECT doc_id, n_chars, source FROM documents
        |ORDER BY n_chars DESC, doc_id LIMIT 10""".stripMargin,
    "q16_dedup_exact" ->
      """SELECT md5(source) AS fp, count(*) AS cluster_size,
        | min(doc_id) AS keep_id
        |FROM documents GROUP BY md5(source) HAVING count(*) > 1
        |ORDER BY fp""".stripMargin,
    "q17_fingerprint" ->
      """SELECT md5(array_to_string(regexp_split_to_array(trim(text), '\s+')[1:3], ' ')) AS fp,
        | count(*) AS cluster_size, min(doc_id) AS keep_id
        |FROM documents
        |GROUP BY 1 HAVING count(*) > 1 ORDER BY fp""".stripMargin,
    "q18_quality" ->
      """SELECT doc_id,
        | len(t) AS n_tokens,
        | len(list_distinct(t)) AS n_distinct,
        | round(CAST(len(list_distinct(t)) AS DOUBLE) / len(t), 6) AS diversity,
        | round(CAST(length(trim(text)) AS DOUBLE) / len(t), 6) AS chars_per_token
        |FROM (SELECT doc_id, text, regexp_split_to_array(trim(text), '\s+') t
        |      FROM documents WHERE doc_id < 50)
        |ORDER BY doc_id""".stripMargin,
    "q19_lang_id" ->
      """SELECT lang, pred, count(*) AS n FROM (
        |  SELECT lang,
        |    CASE WHEN c_en > 0 AND c_en = best THEN 'en'
        |         WHEN c_de > 0 AND c_de = best THEN 'de'
        |         WHEN c_fr > 0 AND c_fr = best THEN 'fr'
        |         WHEN c_es > 0 AND c_es = best THEN 'es'
        |         ELSE 'und' END AS pred
        |  FROM (
        |    SELECT lang, c_en, c_de, c_fr, c_es,
        |      greatest(c_en, c_de, c_fr, c_es) AS best
        |    FROM (
        |      SELECT lang,
        |        len(regexp_extract_all(lower(text), '\b(the|and|of|to|a)\b')) AS c_en,
        |        len(regexp_extract_all(lower(text), '\b(der|die|und|das|ist)\b')) AS c_de,
        |        len(regexp_extract_all(lower(text), '\b(le|la|et|les|des)\b')) AS c_fr,
        |        len(regexp_extract_all(lower(text), '\b(el|los|las|una|del)\b')) AS c_es
        |      FROM documents)))
        |GROUP BY lang, pred ORDER BY lang, pred""".stripMargin,
    "q20_token_count" ->
      """SELECT doc_id,
        | len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens
        |FROM documents WHERE doc_id < 100 ORDER BY doc_id""".stripMargin,
    "q21_jaccard_pairs" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') t FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    [array_to_string(t[i:i+2], ' ') for i in range(1, len(t) - 1)])) s
        |  FROM toks WHERE len(t) >= 3),
        |sizes AS (SELECT doc_id, count(*) n_sh FROM sh GROUP BY doc_id),
        |pairs AS (
        |  SELECT a.doc_id id_a, b.doc_id id_b, count(*) common
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b, common, sa.n_sh AS n_a, sb.n_sh AS n_b,
        |  round(CAST(common AS DOUBLE) / (sa.n_sh + sb.n_sh - common), 6) AS jaccard
        |FROM pairs
        |JOIN sizes sa ON id_a = sa.doc_id
        |JOIN sizes sb ON id_b = sb.doc_id
        |WHERE CAST(common AS DOUBLE) / (sa.n_sh + sb.n_sh - common) >= 0.35
        |ORDER BY id_a, id_b""".stripMargin,
    "q22_minhash_lsh" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') t FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    [array_to_string(t[i:i+2], ' ') for i in range(1, len(t) - 1)])) s
        |  FROM toks WHERE len(t) >= 3),
        |sig AS (
        |  SELECT doc_id,
        |    min(md5(s || '#0')) m0, min(md5(s || '#1')) m1,
        |    min(md5(s || '#2')) m2, min(md5(s || '#3')) m3,
        |    min(md5(s || '#4')) m4, min(md5(s || '#5')) m5,
        |    min(md5(s || '#6')) m6, min(md5(s || '#7')) m7
        |  FROM sh GROUP BY doc_id),
        |bands AS (
        |  SELECT doc_id,
        |    unnest([m0 || '|' || m1, m2 || '|' || m3,
        |            m4 || '|' || m5, m6 || '|' || m7]) AS key,
        |    unnest([0, 1, 2, 3]) AS band
        |  FROM sig)
        |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |FROM bands a JOIN bands b
        |  ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
        |ORDER BY id_a, id_b""".stripMargin,
    "q24_ann_brute" ->
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
        |SELECT vec_id AS id,
        |  round(
        |    list_sum([e.embedding[i]::DOUBLE * q.qe[i]::DOUBLE
        |              for i in range(1, len(e.embedding) + 1)]) /
        |    (sqrt(list_sum([e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE
        |              for i in range(1, len(e.embedding) + 1)])) *
        |     sqrt(list_sum([q.qe[i]::DOUBLE * q.qe[i]::DOUBLE
        |              for i in range(1, len(q.qe) + 1)]))), 6) AS cos
        |FROM embeddings e, q
        |ORDER BY cos DESC, id LIMIT 10""".stripMargin,
    "q26_json_props" ->
      """SELECT event_type,
        | CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        | count(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q27_cc_canon" ->
      """WITH RECURSIVE base AS (
        |  SELECT CAST(o_orderkey AS BIGINT) u, CAST(100000 + o_custkey AS BIGINT) v
        |  FROM orders WHERE o_orderkey < 300),
        |und AS (SELECT u, v FROM base UNION SELECT v, u FROM base),
        |n AS (SELECT DISTINCT u AS node FROM und),
        |r(a, b) AS (
        |  SELECT node, node FROM n
        |  UNION
        |  SELECT r.a, und.v FROM r JOIN und ON und.u = r.b)
        |SELECT a AS node, min(b) AS canon_id FROM r GROUP BY a
        |ORDER BY node""".stripMargin,
    // q28: the engine constructs real media headers from doc_id and
    // parses them back byte-level; the oracle recomputes the embedded
    // dimension/size formulas independently of any byte logic — a
    // construct→parse round-trip check on the real parsers
    "q28_multimodal" ->
      """SELECT doc_id AS media_id,
        | CASE WHEN doc_id % 6 = 4 THEN 'video' ELSE 'image' END AS kind,
        | CASE doc_id % 6 WHEN 0 THEN 'png' WHEN 1 THEN 'gif'
        |   WHEN 2 THEN 'jpeg' WHEN 3 THEN 'riff' WHEN 4 THEN 'mp4'
        |   ELSE 'riff' END AS format,
        | CAST(16 + (doc_id * 7) % 1000 AS INT) AS width,
        | CAST(16 + (doc_id * 13) % 800 AS INT) AS height,
        | CAST(CASE doc_id % 6 WHEN 0 THEN 29 WHEN 1 THEN 13 WHEN 2 THEN 33
        |   WHEN 3 THEN 30 WHEN 4 THEN 124 ELSE 25 END AS BIGINT) AS n_bytes
        |FROM documents WHERE doc_id < 60 ORDER BY media_id""".stripMargin,
    // q36: the engine encodes REAL BMP/WAV files from doc_id and decodes
    // their CONTENT back (pixel mean / PCM RMS); the oracle recomputes
    // every value from the generating formulas, no byte logic shared
    "q36_multimodal_av" ->
      """SELECT doc_id AS media_id,
        | CASE WHEN doc_id % 2 = 0 THEN 'bmp' ELSE 'wav' END AS format,
        | CAST(CASE WHEN doc_id % 2 = 0 THEN 4 + (doc_id % 3) * 4 ELSE 0 END AS INT) AS width,
        | CAST(CASE WHEN doc_id % 2 = 0 THEN 1 + (doc_id % 4) ELSE 0 END AS INT) AS height,
        | CASE WHEN doc_id % 2 = 0 THEN round(list_avg(
        |   [CAST((doc_id * 31 + k) % 256 AS DOUBLE)
        |    for k in range(0, CAST((4 + (doc_id % 3) * 4) * 3 * (1 + (doc_id % 4)) AS INT))]), 6)
        |   ELSE 0.0 END AS mean_px,
        | CAST(CASE WHEN doc_id % 2 = 1 THEN 8000 + (doc_id % 8) * 1000 ELSE 0 END AS INT) AS sample_rate,
        | CAST(CASE WHEN doc_id % 2 = 1
        |   THEN (400 + (doc_id % 5) * 100) * 1000 // (8000 + (doc_id % 8) * 1000)
        |   ELSE 0 END AS BIGINT) AS duration_ms,
        | CASE WHEN doc_id % 2 = 1 THEN round(sqrt(list_avg(
        |   [CAST(((doc_id * 7 + 13 * k) % 2001 - 1000)
        |         * ((doc_id * 7 + 13 * k) % 2001 - 1000) AS DOUBLE)
        |    for k in range(0, CAST(400 + (doc_id % 5) * 100 AS INT))])), 6)
        |   ELSE 0.0 END AS rms
        |FROM documents WHERE doc_id < 60 ORDER BY media_id""".stripMargin,
    // q37: the engine ImageIO-encodes real PNG/GIF/JPEG files from
    // doc_id and pixel-decodes them back; the oracle recomputes dims
    // from the synthesis formulas and the LOSSLESS means exactly (PNG
    // gradient = the q36 closed form; GIF two-gray checkerboard with
    // even width = (A+B)/2). JPEG mean is NULL on both sides (lossy).
    "q37_image_decode" ->
      """SELECT doc_id AS media_id,
        | CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'gif' ELSE 'jpeg' END AS format,
        | CAST(CASE doc_id % 3 WHEN 0 THEN 5 + doc_id % 4
        |   WHEN 1 THEN 4 + 2 * (doc_id % 3)
        |   ELSE 8 + (doc_id % 5) * 4 END AS INT) AS width,
        | CAST(CASE doc_id % 3 WHEN 0 THEN 3 + doc_id % 3
        |   WHEN 1 THEN 3 + doc_id % 4
        |   ELSE 6 + (doc_id % 3) * 2 END AS INT) AS height,
        | CASE doc_id % 3
        |   WHEN 0 THEN round(list_avg(
        |     [CAST((doc_id * 31 + k) % 256 AS DOUBLE)
        |      for k in range(0, CAST((5 + doc_id % 4) * (3 + doc_id % 3) * 3 AS INT))]), 6)
        |   WHEN 1 THEN round(((doc_id * 37) % 256 + (doc_id * 53) % 256) / 2.0, 6)
        |   ELSE CAST(NULL AS DOUBLE) END AS mean_px
        |FROM documents WHERE doc_id < 60 ORDER BY media_id""".stripMargin,
    // q38: μ-law codes (id*13 + 7k) % 256 expanded through the G.711
    // closed form — u = 255 - code; exp/mant from u's low 7 bits;
    // linear = (mant*8 + 132) * 2^exp - 132, negated when u's top bit
    // is set — then RMS over the decoded samples. The engine decodes
    // the same bytes with the JDK's javax.sound μ-law codec.
    "q38_audio_ulaw" ->
      """SELECT doc_id AS media_id, 'wav' AS format,
        | CAST(8000 AS INT) AS sample_rate,
        | CAST((300 + (doc_id % 7) * 50) * 1000 // 8000 AS BIGINT) AS duration_ms,
        | round(sqrt(list_avg([
        |   CAST(power(
        |     (CASE WHEN (255 - (doc_id * 13 + 7 * k) % 256) >= 128
        |       THEN -(((((255 - (doc_id * 13 + 7 * k) % 256) % 128) % 16) * 8 + 132)
        |              * power(2, ((255 - (doc_id * 13 + 7 * k) % 256) % 128) // 16) - 132)
        |       ELSE  (((((255 - (doc_id * 13 + 7 * k) % 256) % 128) % 16) * 8 + 132)
        |              * power(2, ((255 - (doc_id * 13 + 7 * k) % 256) % 128) // 16) - 132)
        |      END), 2) AS DOUBLE)
        |   for k in range(0, CAST(300 + (doc_id % 7) * 50 AS INT))])), 6) AS rms
        |FROM documents WHERE doc_id < 60 ORDER BY media_id""".stripMargin)
}
