package graft.functions

import graft.SparkSpec
import graft.emit.{Hierarchy, HierarchyReference}
import graft.ops.{DedupOps, OpsReference, TextOps}
import graft.util.Det
import org.apache.spark.sql.functions._

/** Pseudo-random agreement fuzz for every native expression against its
  * retained declarative/UDF reference — the fixed-case agreement tests
  * live next to each operator; this suite hammers the same pairs with
  * SplitMix64-driven adversarial inputs (unicode, empty strings,
  * punctuation runs, NaN/Inf vectors, deep/degenerate paths).
  * Deterministic: no Random, every case derived from Det.mix64. */
class NativeAgreementFuzzSpec extends SparkSpec {
  import spark.implicits._

  private val words = Array("the", "and", "der", "die", "le", "la", "el",
    "naïve", "café", "東京", "a", "b_c", "x9", "...", "—", "&amp;", "%20",
    "Ünicode", "ß", "ﬁ", "KK") // incl. Kelvin sign (lowercases to ASCII k)

  private def synthText(seed: Long): String = {
    val n = (Det.mix64(seed) & 0x1F).toInt // 0..31 tokens
    val sb = new StringBuilder
    var i = 0
    while (i < n) {
      val w = words(Math.floorMod(Det.mix64(seed * 31 + i), words.length.toLong).toInt)
      if (i > 0) sb.append(if (Det.mix64(seed + i) % 5 == 0) "\t " else " ")
      sb.append(w)
      i += 1
    }
    sb.toString
  }

  test("WordShingles / MinhashSig / LangId / SimHash64 on 300 fuzz texts") {
    val texts = (0 until 300).map(i => (i.toLong, synthText(i * 7919L)))
      .toDF("id", "text")
    val toks = TextOps.tokens(col("text"))
    val rows = texts.select(col("id"),
        DedupOps.shingles(toks, 2).as("sh_n"),
        OpsReference.shinglesHof(toks, 2).as("sh_r"),
        DedupOps.minhashSigFromShingles(OpsReference.shinglesHof(toks, 2), 8).as("mh_n"),
        OpsReference.minhashSigHof(OpsReference.shinglesHof(toks, 2), 8).as("mh_r"),
        TextOps.langId(col("text")).as("li_n"),
        OpsReference.langIdSql(col("text")).as("li_r"),
        SimHash64.simhash64(toks).as("si_n"),
        OpsReference.simhashUdf(toks).as("si_r"))
      .collect()
    rows.foreach { r =>
      val id = r.getLong(0)
      assert(r.getSeq[String](1) == r.getSeq[String](2), s"shingles id=$id")
      assert(r.getSeq[String](3) == r.getSeq[String](4), s"minhash id=$id")
      assert(r.getString(5) == r.getString(6), s"langid id=$id")
      assert(r.getLong(7) == r.getLong(8), s"simhash id=$id")
    }
  }

  test("VecDot incl. NaN/Inf propagation on 200 fuzz vectors") {
    val vecs = (0 until 200).map { i =>
      val n = (Det.mix64(i * 13L) & 0x7).toInt + 1
      val a = Array.tabulate(n) { k =>
        val h = Det.mix64(i * 1009L + k)
        if ((h & 0xFF) == 0) Float.NaN
        else if ((h & 0xFF) == 1) Float.PositiveInfinity
        else ((h % 1000L) / 100.0f)
      }
      val b = Array.tabulate(n)(k => ((Det.mix64(i * 2003L + k) % 1000L) / 100.0f))
      (i.toLong, a, b)
    }.toDF("id", "a", "b")
    val rows = vecs.select(col("id"),
        VecDot.vec_dot(col("a"), col("b")).as("n"),
        OpsReference.dotHof(col("a"), col("b")).as("r"))
      .collect()
    rows.foreach { r =>
      val id = r.getLong(0)
      assert(r.isNullAt(1) == r.isNullAt(2), s"null id=$id")
      if (!r.isNullAt(1)) {
        val (x, y) = (r.getDouble(1), r.getDouble(2))
        assert(java.lang.Double.doubleToRawLongBits(x) ==
          java.lang.Double.doubleToRawLongBits(y), s"bits id=$id: $x vs $y")
      }
    }
  }

  test("PathPrefixes on 200 fuzz urls incl. degenerate shapes") {
    val segs = Array("a", "b9", "x_y", "%20z", "", "déjà", "..", "~q")
    val urls = (0 until 200).map { i =>
      val h = Det.mix64(i * 31L)
      val scheme = (Math.floorMod(h, 6L).toInt: @unchecked) match {
        case 0 => "https://"
        case 1 => "a+b-c.9://"
        case 2 => "" // schemeless
        case 3 => "9bad://" // invalid scheme (digit first) — NOT stripped
        case 4 => "é://" // non-ASCII first char — NOT a scheme either
        case 5 => "ftp://"
      }
      val depth = (Det.mix64(h) & 0x7).toInt
      val path = (0 until depth).map(k =>
        segs(Math.floorMod(Det.mix64(h + k), segs.length.toLong).toInt))
        .mkString("/")
      val messy = (Math.floorMod(Det.mix64(h * 5 + 1), 4L).toInt: @unchecked) match {
        case 0 => "?q=1/x&r=2" // query with embedded slash
        case 1 => "#frag/y"
        case 2 => "?#"
        case 3 => ""
      }
      (i.toLong, scheme + "host" + (if (path.isEmpty) "" else "/" + path) +
        (if ((h & 8) == 0) "/" else "") + messy)
    }.toDF("id", "url")
    val rows = urls.select(col("id"),
        Hierarchy.prefixesOf(col("url")).as("n"),
        HierarchyReference.prefixesOfSql(col("url")).as("r"), col("url"))
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[String](1) == r.getSeq[String](2),
        s"id=${r.getLong(0)} url=${r.getString(3)}")
    }
  }

  test("ArrayPairs on 100 fuzz arrays") {
    val arrays = (0 until 100).map { i =>
      val n = (Det.mix64(i * 17L) & 0xF).toInt // 0..15
      (i.toLong, Array.tabulate(n)(k => Det.mix64(i * 83L + k) % 50L))
    }.toDF("id", "es")
    val rows = arrays.select(col("id"),
        ArrayPairs.array_pairs(col("es")).as("n"),
        ArrayPairsRef.pairsHof(col("es")).as("r"))
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[org.apache.spark.sql.Row](1) ==
        r.getSeq[org.apache.spark.sql.Row](2), s"id=${r.getLong(0)}")
    }
  }

  test("generic ArrayPairs (struct elements) on 100 fuzz arrays") {
    // the round-6 grouped-pair streams: struct(long, long) — simhash
    // chunks / jaccard (id, n_sh) — and struct(string, array<float>) —
    // SRP-bucket (id, emb); both must agree with the interpreted
    // pairsHof reference element-for-element
    val ll = (0 until 100).map { i =>
      val n = (Det.mix64(i * 19L) & 0xF).toInt
      (i.toLong, Array.tabulate(n)(k =>
        (Det.mix64(i * 83L + k) % 50L, Det.mix64(i * 131L + k))))
    }.toDF("id", "es")
    ll.select(col("id"),
        ArrayPairs.array_pairs(col("es")).as("n"),
        ArrayPairsRef.pairsHof(col("es")).as("r"))
      .collect().foreach { r =>
        assert(r.getSeq[org.apache.spark.sql.Row](1) ==
          r.getSeq[org.apache.spark.sql.Row](2), s"ll id=${r.getLong(0)}")
      }
    val se = (0 until 100).map { i =>
      val n = (Det.mix64(i * 23L) & 0x7).toInt
      (i.toLong, Array.tabulate(n)(k =>
        (s"id-${Det.mix64(i * 7L + k) % 30L}",
          Array.tabulate(4)(d => (Det.mix64(i + k * 13L + d) % 100L).toFloat))))
    }.toDF("id", "es")
    se.select(col("id"),
        ArrayPairs.array_pairs(col("es")).as("n"),
        ArrayPairsRef.pairsHof(col("es")).as("r"))
      .collect().foreach { r =>
        assert(r.getSeq[org.apache.spark.sql.Row](1) ==
          r.getSeq[org.apache.spark.sql.Row](2), s"se id=${r.getLong(0)}")
      }
  }
}
