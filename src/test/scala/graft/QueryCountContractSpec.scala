package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** q08_ancestors and q35_path_ancestors count (doc_id, anc) rows with a
  * plain `count`, where their DuckDB oracles compute
  * `count(DISTINCT doc_id)`. The two agree only while `doc_id` is the
  * documents table's key. This spec pins that precondition on the test
  * tables, and pins what the rewrite returns once it is broken: every
  * ancestor of the duplicated document is counted once more. */
class QueryCountContractSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def counts(df: DataFrame): Map[String, Long] =
    df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  test("q08/q35 count rewrite: doc_id unique in sf0.001; a duplicated doc_id overcounts its ancestors") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // the precondition the rewrite relies on
    docs.count() shouldBe docs.select(col("doc_id")).distinct().count()

    // a copy of documents with doc 5 twice (5 % 3 == 2: the deepest
    // url shape; 5 % 5 == 0: a '?q=1/x' suffix the path policy strips)
    val dup = docs.filter(col("doc_id") === 5L)
    val row = dup.select(col("source"), col("lang")).head()
    val (source, lang) = (row.getString(0), row.getString(1))
    val dir = java.nio.file.Files.createTempDirectory("graft-dup-docid").toString
    docs.union(dup).write.parquet(s"$dir/documents.parquet")

    // on unique keys count ≡ count(DISTINCT doc_id), and the distinct
    // count is the same over the copy, so the original run is the
    // oracle's answer for the copy
    val host = s"$source.example"
    val expectedExtra = Map(
      "q08_ancestors" -> Set(source, s"$source/$lang"),
      "q35_path_ancestors" ->
        Set(host, s"$host/$lang", s"$host/$lang/d5", s"$host/$lang/d5/e1"))
    expectedExtra.foreach { case (q, ancs) =>
      withClue(s"$q: ") {
        val distinct = counts(SparkEntry.queries(q)(spark, sf))
        val got = counts(SparkEntry.queries(q)(spark, dir))
        got.keySet shouldBe distinct.keySet
        got.filter { case (a, n) => n != distinct(a) }.keySet shouldBe ancs
        ancs.foreach(a => got(a) shouldBe distinct(a) + 1)
      }
    }
  }
}
