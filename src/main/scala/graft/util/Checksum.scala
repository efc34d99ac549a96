package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Order-insensitive (count, xor-of-row-hashes) table checksum — one
  * cheap aggregate, used for fixpoint convergence detection
  * (ConnectedComponents); the incremental updater's did-this-scope-change
  * check computes the same pair per partition. bit_xor is overflow-free
  * under ANSI mode (sum over xxhash64 is not). */
object Checksum {
  def of(df: DataFrame, cols: Seq[String]): (Long, Long) = {
    val r = df.agg(
      count(lit(1)).as("c"),
      coalesce(bit_xor(xxhash64(cols.map(col): _*)), lit(0L)).as("s")).head()
    (r.getLong(0), r.getLong(1))
  }
}
