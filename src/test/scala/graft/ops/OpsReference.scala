package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Agreement references for the `graft.ops` operators: the shapes each
  * production operator replaced, kept here so OpsSpec and
  * NativeAgreementFuzzSpec can pin the production shape equal to them.
  *
  *  - built-ins-only column shapes of the native expressions
  *    (WordShingles, MinhashSig, VecDot, LangId) and the Scala UDF of
  *    SimHash64;
  *  - the self-join pair shapes of [[DedupOps.jaccardPairs]],
  *    [[DedupOps.minhashCandidates]], [[DedupOps.simhashPairs]] and
  *    [[AnnOps.cosinePairs]]. Each exchanged its stream twice and, as
  *    Spark does not CSE across a self-join, computed the signature
  *    subtree on both sides; production groups by key and pairs a sorted
  *    id array instead.
  */
object OpsReference {

  // ------------------------------------------------ native expressions

  /** Built-ins-only shape of WordShingles (interpreted HOF tree,
    * ~11 µs/shingle). */
  def shinglesHof(tokens: Column, n: Int): Column = {
    val raw = when(size(tokens) < n, array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(0), size(tokens) - n),
        i => concat_ws(" ", slice(tokens, i + 1, lit(n)))))
    array_distinct(raw)
  }

  /** Built-ins-only shape of MinhashSig (HOF pipeline — interpreted per
    * shingle, ~10× slower).
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

  /** Built-ins-only shape of VecDot (interpreted HOF fold; bit-identical
    * to the native expression). */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  private def markerCount(text: Column, words: Seq[String]): Column = {
    val re = "\\b(" + words.mkString("|") + ")\\b"
    size(regexp_extract_all(lower(text), lit(re), lit(1))).cast("long")
  }

  /** Built-ins-only shape of LangId: 4 regex passes over
    * [[TextOps.Markers]] plus a CASE tree that re-evaluates each count
    * (no CSE across branches). */
  def langIdSql(text: Column): Column = {
    val counts = TextOps.Markers.map { case (l, ws) => l -> markerCount(text, ws) }
    val best = greatest(counts.map(_._2): _*)
    counts.foldRight(lit("und"): Column) { case ((l, c), els) =>
      when(c > 0 && c === best, lit(l)).otherwise(els)
    }
  }

  /** Portable 64-bit token hash: first 8 bytes of md5(utf8), big-endian
    * signed — the token hash of SimHash64 and of q23's oracle. */
  private def md5Hash64(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var h = 0L
    var i = 0
    while (i < 8) { h = (h << 8) | (d(i) & 0xFFL); i += 1 }
    h
  }

  /** 64-bit SimHash of a token sequence (md5-derived token hashes,
    * per-bit majority vote; ties → 0). */
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

  /** UDF shape of SimHash64 (the native expression avoids its per-row
    * Seq[String] conversion at the codegen boundary). */
  val simhashUdf = udf((toks: Seq[String]) => simhash64(toks))

  // ------------------------------------------------ self-join pair shapes

  /** Shingle self-join shape of [[DedupOps.jaccardPairs]]. */
  def jaccardPairsJoin(
      df: DataFrame, idCol: String, textCol: String,
      n: Int, tau: Double, maxShingleDf: Int = Int.MaxValue): DataFrame = {
    val sh = df.select(col(idCol).as("id"),
      explode(DedupOps.shingles(TextOps.tokens(col(textCol)), n)).as("s"))
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

  /** Banded self-join shape of [[DedupOps.minhashCandidates]]. */
  def minhashCandidatesJoin(
      df: DataFrame, idCol: String, textCol: String,
      n: Int, bands: Int, rowsPerBand: Int): DataFrame = {
    val banded = DedupOps.bandedKeys(df, idCol, textCol, n, bands, rowsPerBand)
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  /** Chunk self-join shape of [[DedupOps.simhashPairs]]. */
  def simhashPairsJoin(
      df: DataFrame, idCol: String, textCol: String, maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3, "4-band pigeonhole only covers radius 3")
    val chunks = DedupOps.simhashChunks(df, idCol, textCol)
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

  /** Bucket self-join shape of [[AnnOps.cosinePairs]]. */
  def cosinePairsJoin(
      df: DataFrame, idCol: String, embCol: String,
      tau: Double, seed: Long = 42L, nPlanes: Int = 6, dim: Int = 64): DataFrame = {
    import graft.functions.VecDot.vec_dot
    val b = df.select(col(idCol).as("id"), col(embCol).as("emb"),
      AnnOps.srpBucket(col(embCol), seed, nPlanes, dim).as("bucket"))
    val dot = vec_dot(col("a.emb"), col("b.emb"))
    def norm(c: Column) = sqrt(vec_dot(c, c))
    b.as("a").join(b.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .withColumn("cos", dot / (norm(col("a.emb")) * norm(col("b.emb"))))
      .filter(col("cos") >= tau)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        round(col("cos"), 6).as("cos"))
  }
}
