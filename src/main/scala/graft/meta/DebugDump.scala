package graft.meta

import graft.pipeline.Pipeline
import org.apache.spark.sql.functions._

/** Debug text sink (S11 analog — the reference's debug graph dumps,
  * e.g. its --debug JSON/console outputs): sorted JSON-lines of the
  * graph tables plus a plain-text summary, for eyeballing and diffing.
  * Deterministic ordering + single file per table make two dumps of the
  * same graph byte-comparable. Fixture-scale tooling — coalesce(1) is
  * deliberate and this is NOT a data-path sink (those are the bucketed
  * parquet stages).
  */
object DebugDump {

  def dump(g: Pipeline.Graph, dir: String): Unit = {
    // triples is cached by the Graph, whose caller releases it; nodes is
    // a derived plan — cache it for the dump so its two actions don't
    // re-run the emit joins each time
    val triples = g.triples.toDF()
    val nodes = g.nodes.toDF().persist()
    try {
      triples.orderBy("subj", "pred", "obj").coalesce(1)
        .write.mode("overwrite").json(s"$dir/triples")
      nodes.orderBy("node_id").coalesce(1)
        .write.mode("overwrite").json(s"$dir/nodes")

      val byPred = triples.groupBy("pred").count()
        .orderBy("pred").collect()
        .map(r => f"${r.getString(0)}%-12s ${r.getLong(1)}%d")
      val summary =
        (Seq(s"nodes: ${nodes.count()}", "triples by predicate:") ++
          byPred.map("  " + _)).mkString("", "\n", "\n")
      val p = java.nio.file.Paths.get(dir, "summary.txt")
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p,
        summary.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      ()
    } finally nodes.unpersist()
  }
}
