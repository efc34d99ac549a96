package graft.mention

import java.util.Locale

import graft.model.{AliasRow, CandidateRow, ExtractedPage}
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._

/** Agreement references for [[Mention]]: the frozen-spec regex tokenizer
  * and the explode→broadcast-join detection shape the trie walk
  * replaced. MentionLinkSpec fuzz-compares each against production and
  * PlanSpec pins the join shape's plan. */
object MentionReference {

  /** The frozen-spec tokenizer ([[Mention.tokenize]] must agree on every
    * input). */
  def tokenizeRef(text: String): Array[String] =
    text.toLowerCase(Locale.ROOT).split("[^a-z0-9]+").filter(_.nonEmpty)

  /** Every token n-gram surface is materialized as a string and probed
    * against the broadcast dictionary relation. */
  def detectJoin(
      extracted: Dataset[ExtractedPage],
      dict: Dataset[AliasRow],
      maxDictRows: Int = Mention.MaxDictRows): Dataset[CandidateRow] = {
    val spark = extracted.sparkSession
    import spark.implicits._
    import Mention.{aliasTokenCount, tokenize}

    // Longest alias in the dictionary bounds n-gram generation; the
    // broadcast first-token set prunes start positions before any
    // surface string is built (an n-gram can only match if its FIRST
    // token starts some alias). Same shape as the reference's
    // schema-version inference (clangd_index_yaml_parser.py:276-281).
    val dictStats = dict
      .map(a => (aliasTokenCount(a.alias), tokenize(a.alias).headOption.getOrElse("")))
      .take(maxDictRows + 1)
    if (dictStats.length > maxDictRows)
      throw new IllegalStateException(
        s"alias dictionary exceeds Mention.MaxDictRows = $maxDictRows rows " +
          "(BROADCAST dictionary contract)")
    if (dictStats.isEmpty) return spark.emptyDataset[CandidateRow]
    val maxLen = dictStats.iterator.map(_._1).max
    if (maxLen == 0) return spark.emptyDataset[CandidateRow]
    val firstTokensB = spark.sparkContext.broadcast(dictStats.iterator.map(_._2).toSet)

    val grams = extracted.select($"url", $"text").as[(String, String)]
      .flatMap { case (url, text) =>
        val toks = tokenize(text)
        val ft = firstTokensB.value
        Iterator.range(0, toks.length)
          .filter(s => ft.contains(toks(s)))
          .flatMap { s =>
            // surfaces grow incrementally: surface(l) = surface(l-1) +
            // " " + next token (identical strings to the slice+mkString
            // shape, without re-joining the prefix per length)
            val maxL = math.min(maxLen, toks.length - s)
            val sb = new java.lang.StringBuilder(toks(s))
            Iterator.range(1, maxL + 1).map { l =>
              if (l > 1) sb.append(' ').append(toks(s + l - 1))
              (url, s, l, sb.toString)
            }
          }
      }.toDF("url", "tok_start", "tok_len", "surface")

    grams
      .join(broadcast(dict.toDF()), $"surface" === $"alias", "inner")
      .select($"url", $"tok_start", $"tok_len", $"alias", $"entity_id", $"prior")
      .as[CandidateRow]
  }
}
