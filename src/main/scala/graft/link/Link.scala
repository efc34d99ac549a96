package graft.link

import graft.model.{CandidateRow, LinkedMention}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Stage 3: entity-link scoring + per-mention argmax.
  *
  * ≙ reference call extraction: version-adaptive predicate + container
  * join picks *the* caller for each ref (clangd_call_graph_builder.py:
  * 203-227); here a deterministic score picks *the* entity per mention.
  *
  * Score spec (frozen):
  *   idf(alias)          = ln(1 + nPages / df(alias)),
  *                         df = #distinct urls containing the alias
  *   support(url,entity) = #candidate rows on that url for that entity
  *   score = prior * idf(alias) + 0.01 * support(url, entity)
  * Winner per mention (url, tok_start, tok_len): max score, ties broken
  * by LOWEST entity_id (FIXTURES.md §2.2) — order-insensitive under any
  * partitioning (SURVEY.md §7.4 determinism). Within one mention every
  * candidate shares the alias (surface == alias), so a full
  * (score, entity_id) tie implies value-identical rows — both
  * implementations below are deterministic.
  *
  * Execution shape (round 6 — ONE exchange of the candidate stream,
  * zero eager driver round-trips): the stream is hash-repartitioned by
  * url once; the alias-df aggregate computes its (url, alias) distinct
  * partition-LOCALLY over that layout (only dictionary-sized partials
  * cross a second, tiny exchange) and joins back onto the same
  * repartitioned stream as a LAZY broadcast hash join (previously a
  * synchronous driver collect chain ran at plan-CONSTRUCTION time,
  * serializing against the rest of the pipeline DAG — VERDICT r5 #1a);
  * support and the per-mention argmax stream url groups over a
  * within-partition sort — no groupByKey re-shuffle. (A fully-SQL
  * window+min_by scorer was measured and REJECTED this round: the
  * support window's sort cost more than the typed object boundary —
  * 2.4–2.5 s vs 1.9–2.0 s at 20k/local[32].) MentionLinkSpec pins it
  * value-identical to the round-5 eager collect-a-map shape,
  * LinkReference.resolveTyped.
  */
object Link {

  /** Collect a (alias, alias_df) table to the driver map `resolve`
    * broadcasts — dictionary-sized by construction. */
  def collectAliasDf(dfTable: DataFrame): Map[String, Long] =
    dfTable.select(col("alias"), col("alias_df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** @param precomputedDf optional global alias→df map to use instead of
    *        deriving df from `cands`. Its only caller is the incremental
    *        updater, which passes the global df it maintains in the
    *        aliasdf stage, so dirty-bucket relinks score against
    *        corpus-wide document frequencies, not dirty-scope ones
    *        (incremental ≡ full-rebuild contract). Must cover every alias
    *        present in `cands`; a miss fails the job loudly (it means a
    *        stale aliasdf snapshot, e.g. the dictionary changed under an
    *        unchanged snapshot id). Without it, as in `Pipeline.run` and
    *        `Pipeline.build`, df joins in lazily from `cands` itself
    *        (coverage holds by construction). */
  def resolve(
      cands: Dataset[CandidateRow],
      nPages: Long,
      precomputedDf: Option[Map[String, Long]] = None): Dataset[LinkedMention] = {
    val spark = cands.sparkSession
    import spark.implicits._
    val n = nPages.toDouble

    precomputedDf match {
      case Some(m) =>
        // the precomputed GLOBAL map is broadcast as-is; the loud-miss
        // lookup stays in the scorer
        val dfB = spark.sparkContext.broadcast(m)
        cands.groupByKey(_.url).flatMapGroups { (url, it) =>
          val rows = it.toArray
          val mm = dfB.value
          argmaxPerPage(url, rows, c => mm.getOrElse(c.alias,
            throw new IllegalStateException(
              s"alias '${c.alias}' missing from the alias-df table — " +
                "stale aliasdf snapshot? (dictionary changed under an " +
                "unchanged snapshot id)")), n)
        }
      case None =>
        // ONE exchange of the candidate stream (round 6, guide §2.4
        // "two operations keyed the same way share one exchange"): an
        // explicit hash repartition on url feeds BOTH consumers, and
        // ReuseExchange/AQE materializes the shuffle once.
        //  1. alias-df: with whole urls partition-local, the
        //     (url, alias) distinct streams over a within-partition
        //     sort — per-url alias set (page-bounded), per-partition
        //     partial counts (dictionary-bounded, the J2 broadcast
        //     contract) — so only (alias, partial_df) rows cross a
        //     second, tiny exchange. The previous shape exchanged the
        //     FULL-WIDTH distinct pairs and hash-aggregated them.
        //  2. scoring: the same partitions, sorted by url above the
        //     broadcast join, stream page groups straight into the
        //     frozen argmax — no groupByKey re-shuffle (the typed
        //     lambda key made the planner blind to the url partitioning
        //     already in place, so the old shape exchanged the stream a
        //     THIRD time).
        // Both sorts sit directly under an object operator, where
        // EliminateSorts cannot strip them (PlanSpec pins this: the
        // grouping correctness of the streaming passes depends on it).
        // Coverage of the inner join is total by construction (df is
        // derived from the same stream), so it cannot drop rows.
        val byUrl = cands.repartition(col("url"))
        val dfTable = byUrl.sortWithinPartitions(col("url"))
          .mapPartitions { it =>
            val counts = new java.util.HashMap[String, Long]()
            val cur = new java.util.HashSet[String]()
            var curUrl: String = null
            def flush(): Unit = {
              val as = cur.iterator()
              while (as.hasNext) {
                val a = as.next()
                counts.put(a, counts.getOrDefault(a, 0L) + 1L)
              }
              cur.clear()
            }
            it.foreach { c =>
              if (c.url != curUrl) { if (curUrl != null) flush(); curUrl = c.url }
              cur.add(c.alias); ()
            }
            if (curUrl != null) flush()
            val out = new scala.collection.mutable.ArrayBuffer[(String, Long)](counts.size())
            val es = counts.entrySet().iterator()
            while (es.hasNext) {
              val e = es.next(); out += ((e.getKey, e.getValue.longValue()))
            }
            out.iterator
          }.toDF("alias", "df_part")
          .groupBy(col("alias")).agg(sum(col("df_part")).as("alias_df"))
        val withDf = byUrl.toDF()
          .join(broadcast(dfTable), Seq("alias"), "inner")
          .select(col("url"), col("tok_start"), col("tok_len"),
            col("alias"), col("entity_id"), col("prior"), col("alias_df"))
          .sortWithinPartitions(col("url"))
          .as[(String, Int, Int, String, Long, Double, Long)]
        withDf.mapPartitions { it =>
          val base = it.buffered
          new Iterator[LinkedMention] {
            private var out: Iterator[LinkedMention] = Iterator.empty
            private def advance(): Unit = {
              while (!out.hasNext && base.hasNext) {
                val url = base.head._1
                val buf = new scala.collection.mutable.ArrayBuffer[
                  (String, Int, Int, String, Long, Double, Long)]
                while (base.hasNext && base.head._1 == url) buf += base.next()
                val dfOf = new scala.collection.mutable.HashMap[String, Long]()
                buf.foreach(p => dfOf.update(p._4, p._7))
                val rows = buf.iterator
                  .map(p => CandidateRow(p._1, p._2, p._3, p._4, p._5, p._6))
                  .toArray
                out = argmaxPerPage(url, rows, c => dfOf(c.alias), n)
              }
            }
            def hasNext: Boolean = { advance(); out.hasNext }
            def next(): LinkedMention = { advance(); out.next() }
          }
        }
    }
  }

  /** The frozen score + argmax, one pass over a page's candidate rows.
    * Shared verbatim by both df-delivery shapes so they cannot drift. */
  private def argmaxPerPage(
      url: String,
      rows: Array[CandidateRow],
      dfOf: CandidateRow => Long,
      n: Double): Iterator[LinkedMention] = {
    // per-page entity support
    val support = new scala.collection.mutable.HashMap[Long, Int]()
    rows.foreach(c => support.update(c.entity_id,
      support.getOrElse(c.entity_id, 0) + 1))
    // per-mention argmax (score, then lowest entity_id) — same total
    // order as max_by(struct(score, -entity_id))
    rows.groupBy(c => (c.tok_start, c.tok_len)).iterator.map {
      case ((s, l), cs) =>
        var best: CandidateRow = null
        var bestScore = Double.NegativeInfinity
        cs.foreach { c =>
          val sc = c.prior * math.log(1.0 + n / dfOf(c)) +
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
