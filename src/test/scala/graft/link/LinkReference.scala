package graft.link

import graft.model.{CandidateRow, LinkedMention}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Agreement reference for [[Link.resolve]]: the round-5 typed shape
  * (an eager alias-df collect to a broadcast map, then groupByKey(url)
  * and one Scala pass per page), value-identical by MentionLinkSpec. */
object LinkReference {

  /** Per-alias document frequency: #distinct urls containing the alias
    * (dictionary-sized). */
  def aliasDf(cands: DataFrame): DataFrame =
    cands.select(col("url"), col("alias")).distinct()
      .groupBy(col("alias")).agg(count(lit(1)).as("alias_df"))

  def resolveTyped(
      cands: Dataset[CandidateRow],
      nPages: Long,
      precomputedDf: Option[Map[String, Long]] = None): Dataset[LinkedMention] = {
    val spark = cands.sparkSession
    import spark.implicits._
    val dfMap: Map[String, Long] =
      precomputedDf.getOrElse(Link.collectAliasDf(aliasDf(cands.toDF())))
    val dfB = spark.sparkContext.broadcast(dfMap)
    val n = nPages.toDouble
    cands.groupByKey(_.url).flatMapGroups { (url, it) =>
      val rows = it.toArray
      val m = dfB.value
      // per-page entity support
      val support = new scala.collection.mutable.HashMap[Long, Int]()
      rows.foreach(c => support.update(c.entity_id,
        support.getOrElse(c.entity_id, 0) + 1))
      // per-mention argmax (score, then lowest entity_id)
      rows.groupBy(c => (c.tok_start, c.tok_len)).iterator.map {
        case ((s, l), cs) =>
          var best: CandidateRow = null
          var bestScore = Double.NegativeInfinity
          cs.foreach { c =>
            val df = m.getOrElse(c.alias, throw new IllegalStateException(
              s"alias '${c.alias}' missing from the alias-df table — " +
                "stale aliasdf snapshot? (dictionary changed under an " +
                "unchanged snapshot id)"))
            val sc = c.prior * math.log(1.0 + n / df) +
              0.01 * support(c.entity_id)
            if (best == null || sc > bestScore ||
              (sc == bestScore && c.entity_id < best.entity_id)) {
              best = c; bestScore = sc
            }
          }
          LinkedMention(url, s, l, best.alias, best.entity_id, bestScore)
      }
    }
  }
}
