package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.
  *
  * Scale notes (100 TB):
  *  - exact dedup is one hash aggregate on the fingerprint — map-side
  *    partial, no skew (md5 keys are uniform);
  *  - exact Jaccard pairs are the small-scale oracle baseline;
  *    its scale path is minhash banding (candidates only) + exact
  *    re-verification of candidates, plus a stop-shingle document-
  *    frequency cap to kill quadratic blowup on boilerplate shingles;
  *  - all hashes are deterministic (md5 / SplitMix64) — rerunning any
  *    stage yields byte-identical outputs (idempotent writes).
  */
object DedupOps {

  /** Word n-gram shingles from a token array column (distinct,
    * first-occurrence order). Native expression. */
  def shingles(tokens: Column, n: Int): Column =
    graft.functions.WordShingles.word_shingles(tokens, n)

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
    * it replaces (round 6; kept per operator as the `…Join` agreement
    * references in the specs' OpsReference) exchanged the stream twice
    * and, because Spark does not CSE across a self-join, re-computed the
    * signature subtree on BOTH sides. Skew note: a key shared by k docs emits
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

  /** MinHash signature (k md5-hex minima) from an ALREADY-MATERIALIZED
    * shingle-array column. Hex-string min == min over a uniform 128-bit
    * hash (lexicographic on hex == numeric), and md5 is portable across
    * engines — so signatures are oracle-checkable.
    *
    * Delegates to the native MinhashSig expression (one tight loop,
    * thread-local digest). */
  def minhashSigFromShingles(sh: Column, k: Int): Column =
    graft.functions.MinhashSig.minhash_sig(sh, k)

  /** LSH candidate pairs from minhash signatures: `bands` bands of
    * `rowsPerBand` signature rows; docs sharing any full band are
    * candidates. Returns distinct (id_a < id_b) candidate pairs.
    * Pair generation via [[coPairs]] — the signature projection (the
    * expensive minhash loop) runs ONCE; the replaced self-join
    * (OpsReference.minhashCandidatesJoin in the specs) computed every
    * signature twice and exchanged the banded stream twice. */
  def minhashCandidates(
      df: DataFrame, idCol: String, textCol: String,
      n: Int, bands: Int, rowsPerBand: Int): DataFrame =
    coPairs(bandedKeys(df, idCol, textCol, n, bands, rowsPerBand),
      Seq("band", "key"), "id").distinct()

  /** (id, band, key) banded-signature stream shared by both pair
    * shapes. */
  private[ops] def bandedKeys(
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

  /** SimHash near-dup pairs within a Hamming radius. Banding on 4×16-bit
    * chunks: any pair within Hamming distance 3 shares at least one
    * exact 16-bit chunk (pigeonhole) → per-chunk co-occurrence pairs,
    * then exact bit_count verification. No quadratic join. Pair
    * generation groups by (chunk_idx, chunk) and pairs a sorted
    * (id, sig) struct array — the SimHash64 projection runs ONCE; the
    * replaced self-join (OpsReference.simhashPairsJoin in the specs)
    * computed every signature twice and exchanged the chunk stream
    * twice. The
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
  private[ops] def simhashChunks(
      df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val sigs = df.select(col(idCol).as("id"),
      graft.functions.SimHash64.simhash64(TextOps.tokens(col(textCol)))
        .as("sig"))
    sigs.select(col("id"), col("sig"), posexplode(array(
      (0 until 4).map(i =>
        shiftright(col("sig"), i * 16).bitwiseAND(lit(0xFFFFL))): _*)))
      .toDF("id", "sig", "chunk_idx", "chunk")
  }
}
