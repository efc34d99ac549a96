package graft.ops

import graft.util.Det
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.
  *
  * Scale notes (100 TB):
  *  - exact dedup is one hash aggregate on the fingerprint — map-side
  *    partial, no skew (md5 keys are uniform);
  *  - the exact Jaccard self-join is the small-scale oracle baseline;
  *    its scale path is minhash banding (candidates only) + exact
  *    re-verification of candidates, plus a stop-shingle document-
  *    frequency cap to kill quadratic blowup on boilerplate shingles;
  *  - all hashes are deterministic (md5 / SplitMix64) — rerunning any
  *    stage yields byte-identical outputs (idempotent writes).
  */
object DedupOps {

  /** Word n-gram shingles from a token array column (distinct,
    * first-occurrence order). Native expression — the built-ins shape
    * below is kept as the agreement reference. */
  def shingles(tokens: Column, n: Int): Column =
    graft.functions.WordShingles.word_shingles(tokens, n)

  /** Built-ins-only reference shape for WordShingles (interpreted HOF
    * tree, ~11 µs/shingle; spec-pinned equal to the native expression). */
  def shinglesHof(tokens: Column, n: Int): Column = {
    val raw = when(size(tokens) < n, array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(0), size(tokens) - n),
        i => concat_ws(" ", slice(tokens, i + 1, lit(n)))))
    array_distinct(raw)
  }

  /** Exact duplicate clusters: group by md5(text), keep min id as the
    * cluster representative. Output one row per duplicated cluster. */
  def exactClusters(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol).cast("binary")).as("fp"))
      .agg(count(lit(1)).as("cluster_size"), min(col(idCol)).as("keep_id"))
      .filter(col("cluster_size") > 1)

  /** Ordered co-occurrence pairs of an (… keyCols …, id) stream: every
    * (id_a < id_b) sharing a key, one output row per sharing key.
    * groupBy(key) + sorted id array + native pair generation — the
    * stream crosses ONE exchange and its upstream (shingle explode,
    * minhash/simhash signatures) is computed once. The self-join shape
    * it replaces (round 6; retained per operator as the `…Join`
    * agreement references below) exchanged the stream twice and, because
    * Spark does not CSE across a self-join, re-computed the signature
    * subtree on BOTH sides. Skew note: a key shared by k docs emits
    * C(k,2) pairs from one task either way — identical to the join's
    * per-key quadratic fan-out; callers bound k (stop-shingle cap /
    * banding) exactly as before. */
  private def coPairs(df: DataFrame, keyCols: Seq[String], idCol: String): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(sort_array(collect_list(col(idCol))).as("__ids"))
      .select(explode(graft.functions.ArrayPairs.array_pairs(col("__ids"))).as("p"))
      .select(col("p.x").as("id_a"), col("p.y").as("id_b"))

  /** Exact n-gram Jaccard similar pairs (id_a < id_b, jaccard >= tau).
    * `maxShingleDf` drops shingles present in more than that many docs
    * (stop-shingle cap — the scale knob; pass Int.MaxValue for exact).
    * With the cap active, jaccard is computed entirely in the FILTERED
    * shingle space (sizes and intersections post-filter) — the standard
    * stop-word-removal semantics, self-consistent instead of mixing an
    * unfiltered denominator with a filtered numerator. */
  def jaccardPairs(
      df: DataFrame, idCol: String, textCol: String,
      n: Int, tau: Double, maxShingleDf: Int = Int.MaxValue): DataFrame = {
    if (maxShingleDf == Int.MaxValue) {
      // Single-pass shape (round 6, guide §2.3/§2.4): the per-doc
      // shingle count rides the exploded stream as a payload column —
      // n_sh = size(sh) ≡ the post-explode per-id row count, because
      // the shingle array is distinct by construction — so the shingle
      // subtree is computed ONCE and the two size joins (which re-ran
      // the whole tokenize+shingle pass a second time: Spark does not
      // CSE across join branches) disappear. Pairs carry (id, n_sh)
      // structs through the same one-exchange grouped generation; n_a
      // is constant within an id_a group, so max() just reads it back.
      val sh = df.select(col(idCol).as("id"),
          shingles(TextOps.tokens(col(textCol)), n).as("sh"))
        .select(col("id"), size(col("sh")).cast("long").as("n_sh"),
          explode(col("sh")).as("s"))
      sh.groupBy(col("s"))
        .agg(sort_array(collect_list(struct(col("id"), col("n_sh"))))
          .as("xs"))
        .select(explode(graft.functions.ArrayPairs.array_pairs(col("xs")))
          .as("p"))
        .groupBy(col("p.x.id").as("id_a"), col("p.y.id").as("id_b"))
        .agg(count(lit(1)).as("common"),
          max(col("p.x.n_sh")).as("n_a"), max(col("p.y.n_sh")).as("n_b"))
        .withColumn("jaccard",
          col("common").cast("double") /
            (col("n_a") + col("n_b") - col("common")).cast("double"))
        .filter(col("jaccard") >= tau)
        .select(col("id_a"), col("id_b"), col("common"), col("n_a"),
          col("n_b"), round(col("jaccard"), 6).as("jaccard"))
    } else {
      // Stop-shingle path: sizes must be the POST-FILTER counts, which
      // only exist after the anti join — keep the explicit size joins.
      val sh = df.select(col(idCol).as("id"),
        explode(shingles(TextOps.tokens(col(textCol)), n)).as("s"))
      val hot = sh.groupBy("s").count().filter(col("count") > maxShingleDf)
      val filtered = sh.join(hot, Seq("s"), "left_anti")
      val sizes = filtered.groupBy("id").agg(count(lit(1)).as("n_sh"))
      val pairs = coPairs(filtered, Seq("s"), "id")
        .groupBy(col("id_a"), col("id_b"))
        .agg(count(lit(1)).as("common"))
      pairs
        .join(sizes.select(col("id").as("id_a"), col("n_sh").as("n_a")), "id_a")
        .join(sizes.select(col("id").as("id_b"), col("n_sh").as("n_b")), "id_b")
        .withColumn("jaccard",
          col("common").cast("double") /
            (col("n_a") + col("n_b") - col("common")).cast("double"))
        .filter(col("jaccard") >= tau)
        .select(col("id_a"), col("id_b"), col("common"), col("n_a"), col("n_b"),
          round(col("jaccard"), 6).as("jaccard"))
    }
  }

  /** The pre-round-6 shingle SELF-JOIN pair shape — agreement reference
    * for [[jaccardPairs]] (OpsSpec pins row-identical output). */
  private[graft] def jaccardPairsJoin(
      df: DataFrame, idCol: String, textCol: String,
      n: Int, tau: Double, maxShingleDf: Int = Int.MaxValue): DataFrame = {
    val sh = df.select(col(idCol).as("id"),
      explode(shingles(TextOps.tokens(col(textCol)), n)).as("s"))
    val filtered =
      if (maxShingleDf == Int.MaxValue) sh
      else {
        val hot = sh.groupBy("s").count().filter(col("count") > maxShingleDf)
        sh.join(hot, Seq("s"), "left_anti")
      }
    val sizes = filtered.groupBy("id").agg(count(lit(1)).as("n_sh"))
    val pairs = filtered.as("a")
      .join(filtered.as("b"),
        col("a.s") === col("b.s") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("common"))
    pairs
      .join(sizes.select(col("id").as("id_a"), col("n_sh").as("n_a")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("n_sh").as("n_b")), "id_b")
      .withColumn("jaccard",
        col("common").cast("double") /
          (col("n_a") + col("n_b") - col("common")).cast("double"))
      .filter(col("jaccard") >= tau)
      .select(col("id_a"), col("id_b"), col("common"), col("n_a"), col("n_b"),
        round(col("jaccard"), 6).as("jaccard"))
  }

  /** MinHash signature (k md5-hex minima) from an ALREADY-MATERIALIZED
    * shingle-array column. Hex-string min == min over a uniform 128-bit
    * hash (lexicographic on hex == numeric), and md5 is portable across
    * engines — so signatures are oracle-checkable.
    *
    * Delegates to the native MinhashSig expression (one tight loop,
    * thread-local digest); the built-ins-only shape below is kept as
    * the agreement reference. */
  def minhashSigFromShingles(sh: Column, k: Int): Column =
    graft.functions.MinhashSig.minhash_sig(sh, k)

  /** Built-ins-only reference shape for MinhashSig (HOF pipeline —
    * interpreted per shingle, ~10× slower; spec-pinned equal to the
    * native expression).
    *
    * Callers must bind the shingle expression to its own projection
    * first: referencing `shingles(...)` inline k times re-evaluates the
    * whole higher-order-function tree k times per row (no CSE across
    * lambda trees) — measured 6× slowdown at sf0.1. */
  def minhashSigHof(sh: Column, k: Int): Column = {
    // one fold over the shingles with a k-slot running-minimum array —
    // a single pass allocates no per-seed intermediate arrays (the
    // naive k × array_min(transform(...)) shape walks the shingle list
    // k extra times). "g" sorts above every md5 hex digit, so it is a
    // safe +infinity for the lexicographic min; callers filter empty
    // shingle sets before use.
    val seeds = sequence(lit(0), lit(k - 1))
    aggregate(
      sh,
      array_repeat(lit("g"), k),
      (acc, s) => zip_with(acc,
        transform(seeds, i => md5(concat(s, lit("#"), i.cast("string")).cast("binary"))),
        (a, b) => least(a, b)))
  }

  /** LSH candidate pairs from minhash signatures: `bands` bands of
    * `rowsPerBand` signature rows; docs sharing any full band are
    * candidates. Returns distinct (id_a < id_b) candidate pairs.
    * Pair generation via [[coPairs]] — the signature projection (the
    * expensive minhash loop) runs ONCE; the replaced self-join
    * (retained as [[minhashCandidatesJoin]]) computed every signature
    * twice and exchanged the banded stream twice. */
  def minhashCandidates(
      df: DataFrame, idCol: String, textCol: String,
      n: Int, bands: Int, rowsPerBand: Int): DataFrame =
    coPairs(bandedKeys(df, idCol, textCol, n, bands, rowsPerBand),
      Seq("band", "key"), "id").distinct()

  /** (id, band, key) banded-signature stream shared by both pair
    * shapes. */
  private def bandedKeys(
      df: DataFrame, idCol: String, textCol: String,
      n: Int, bands: Int, rowsPerBand: Int): DataFrame = {
    val k = bands * rowsPerBand
    val withSh = df.select(col(idCol).as("id"),
        shingles(TextOps.tokens(col(textCol)), n).as("sh"))
      .filter(size(col("sh")) > 0) // docs with < n tokens have no shingles
    val sig = withSh.select(col("id"), minhashSigFromShingles(col("sh"), k).as("sig"))
    sig.select(col("id"), posexplode(
      transform(sequence(lit(0), lit(bands - 1)),
        b => concat_ws("|", slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand))))))
      .toDF("id", "band", "key")
  }

  /** The pre-round-6 banded SELF-JOIN shape — agreement reference for
    * [[minhashCandidates]] (OpsSpec pins row-identical output). */
  private[graft] def minhashCandidatesJoin(
      df: DataFrame, idCol: String, textCol: String,
      n: Int, bands: Int, rowsPerBand: Int): DataFrame = {
    val banded = bandedKeys(df, idCol, textCol, n, bands, rowsPerBand)
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  /** MinHash-LSH near-dup pairs with exact Jaccard re-verification of
    * the candidates — the 100 TB-shaped plan: candidates from banding
    * (no quadratic join), verification only on the candidate set. The
    * candidate pairs join back to per-doc shingle arrays and the
    * intersection is computed directly — the full shingle self-join of
    * jaccardPairs never executes (round-1 semi-joined its output, which
    * still ran the quadratic join underneath). Output columns match
    * jaccardPairs. */
  def minhashNearDupPairs(
      df: DataFrame, idCol: String, textCol: String,
      n: Int, tau: Double, bands: Int = 8, rowsPerBand: Int = 4): DataFrame = {
    val cand = minhashCandidates(df, idCol, textCol, n, bands, rowsPerBand)
    val withSh = df.select(col(idCol).as("id"),
        shingles(TextOps.tokens(col(textCol)), n).as("sh"))
      .filter(size(col("sh")) > 0)
    // cand is banding-bounded (small); AQE broadcasts it, so the shingle
    // arrays stream map-side and only candidate docs' arrays materialize
    cand
      .join(withSh.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(withSh.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("common", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("n_a", size(col("sh_a")))
      .withColumn("n_b", size(col("sh_b")))
      .withColumn("jaccard",
        col("common").cast("double") /
          (col("n_a") + col("n_b") - col("common")).cast("double"))
      .filter(col("jaccard") >= tau)
      .select(col("id_a"), col("id_b"), col("common"), col("n_a"), col("n_b"),
        round(col("jaccard"), 6).as("jaccard"))
  }

  // ------------------------------------------------------------- SimHash

  /** Portable 64-bit token hash: first 8 bytes of md5(utf8), big-endian
    * signed. md5 is available in every engine (DuckDB: hex-parse of
    * substr(md5(t),1,16)), so simhash signatures are oracle-checkable
    * across engines — Det.hashStr (SplitMix64) was Scala-only. */
  def md5Hash64(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var h = 0L
    var i = 0
    while (i < 8) { h = (h << 8) | (d(i) & 0xFFL); i += 1 }
    h
  }

  /** 64-bit SimHash of a token sequence (md5-derived token hashes,
    * per-bit majority vote; ties → 0). Pure Scala — used via typed
    * Dataset.map / a deterministic UDF off the codegen hot path. */
  def simhash64(tokens: Seq[String]): Long = {
    val tally = new Array[Int](64)
    tokens.foreach { t =>
      val h = md5Hash64(t)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) tally(b) += 1 else tally(b) -= 1
        b += 1
      }
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (tally(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** UDF reference for the native SimHash64 expression (spec-pinned
    * equal; the native path avoids the per-row Seq[String] conversion at
    * the codegen boundary). */
  val simhashUdf = udf((toks: Seq[String]) => simhash64(toks))

  /** SimHash near-dup pairs within a Hamming radius. Banding on 4×16-bit
    * chunks: any pair within Hamming distance 3 shares at least one
    * exact 16-bit chunk (pigeonhole) → per-chunk co-occurrence pairs,
    * then exact bit_count verification. No quadratic join. Pair
    * generation groups by (chunk_idx, chunk) and pairs a sorted
    * (id, sig) struct array — the SimHash64 projection runs ONCE; the
    * replaced self-join (retained as [[simhashPairsJoin]]) computed
    * every signature twice and exchanged the chunk stream twice. The
    * struct pairs come from the native generic ArrayPairs (guide §4 —
    * the interpreted lambda tree it replaces stays the agreement
    * reference, ArrayPairsRef.pairsHof, in the specs). */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String, maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3, "4-band pigeonhole only covers radius 3")
    simhashChunks(df, idCol, textCol)
      .groupBy(col("chunk_idx"), col("chunk"))
      .agg(sort_array(collect_list(struct(col("id"), col("sig")))).as("xs"))
      .select(explode(graft.functions.ArrayPairs.array_pairs(col("xs"))).as("p"))
      .select(col("p.x.id").as("id_a"), col("p.y.id").as("id_b"),
        col("p.x.sig").as("sig_a"), col("p.y.sig").as("sig_b"))
      .distinct()
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** (id, sig, chunk_idx, chunk) stream shared by both pair shapes. */
  private def simhashChunks(
      df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val sigs = df.select(col(idCol).as("id"),
      graft.functions.SimHash64.simhash64(TextOps.tokens(col(textCol)))
        .as("sig"))
    sigs.select(col("id"), col("sig"), posexplode(array(
      (0 until 4).map(i =>
        shiftright(col("sig"), i * 16).bitwiseAND(lit(0xFFFFL))): _*)))
      .toDF("id", "sig", "chunk_idx", "chunk")
  }

  /** The pre-round-6 chunk SELF-JOIN shape — agreement reference for
    * [[simhashPairs]] (OpsSpec pins row-identical output). */
  private[graft] def simhashPairsJoin(
      df: DataFrame, idCol: String, textCol: String, maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3, "4-band pigeonhole only covers radius 3")
    val chunks = simhashChunks(df, idCol, textCol)
    chunks.as("a").join(chunks.as("b"),
        col("a.chunk_idx") === col("b.chunk_idx") &&
          col("a.chunk") === col("b.chunk") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
      .distinct()
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }
}
