package graft.util

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Explicit salted-key skew handling (north_rule: "salted-key handling
  * for head-entity skew"; reference analog: the group-by-file deadlock
  * isolation knob, clangd_symbol_nodes_builder.py:259-307, whose Spark
  * translation is shuffle-skew management, SURVEY.md §4).
  *
  * The skewed side gets a deterministic salt in [0, S) derived from a
  * high-cardinality column it already carries, so a hot key spreads over
  * S tasks. The pipeline's own skewed joins need no salt: canon and the
  * alias dictionary are vocabulary-bounded and broadcast, so the mention
  * stream is never shuffled on the entity key.
  */
object SaltedJoin {

  /** Two-phase salted aggregation: count rows per `key` where one key may
    * dominate. Phase 1 pre-aggregates on (key, salt); phase 2 sums.
    * (For plain count Spark's partial aggregation already combines
    * map-side; this utility is for aggregates downstream of a join or
    * after an exchange where partials no longer help.) */
  def saltedCount(
      df: DataFrame,
      key: String,
      saltSource: Column,
      salt: Int = 32): DataFrame = {
    val saltCol = "__graft_salt"
    df.withColumn(saltCol, pmod(xxhash64(saltSource), lit(salt)))
      .groupBy(col(key), col(saltCol)).count()
      .groupBy(col(key)).agg(sum("count").as("count"))
  }
}
