package graft

import graft.emit.Emit
import graft.pipeline.Pipeline
import graft.synth.Synth
import org.apache.spark.sql.functions._

/** Pins that the q29 oracle corpus actually EXERCISES the RelatesCap
  * policy: at least one page carries more distinct canonical entities
  * than the cap, so the oracle SQL's `rn <= cap` branch filters rows
  * and cap drift between Emit.relatesFromSets, NaiveKg and the DuckDB
  * oracle cannot pass the cross-engine check silently. */
class KgOracleCfgSpec extends SparkSpec {

  test("q29 corpus has head pages with > RelatesCap distinct canon ids; pairs stay capped") {
    val cfg = SparkEntry.KgOracleCfg
    cfg.nEntities should be > Emit.RelatesCap
    val g = Pipeline.run(Synth.pages(spark, cfg), Synth.aliases(spark, cfg),
      Synth.sameAs(spark, cfg), cfg.nPages)
    try {
      val perUrl = Emit.explodePageEntitySets(g.pageEntitySets).groupBy(col("url"))
        .agg(countDistinct(col("canon_id")).as("n")).cache()
      val maxDistinct = perUrl.agg(max(col("n"))).head().getLong(0)
      // the glossary head pages exceed the cap — the oracle's rn<=cap
      // filter is NOT a no-op on this corpus
      maxDistinct should be > Emit.RelatesCap.toLong
      // and the emitted pairs per head page stay bounded at C(cap, 2)
      val headUrl = perUrl.orderBy(col("n").desc).head().getString(0)
      val headPairs = Emit.relatesFromSets(
        g.pageEntitySets.filter(col("url") === headUrl)).count()
      val k = Emit.RelatesCap.toLong
      headPairs shouldBe k * (k - 1) / 2
    } finally g.unpersist()
  }

  test("q29 releases its caches: three calls leave the cache manager empty") {
    // suites share one session; drop what earlier suites left cached so
    // the check can be absolute
    spark.catalog.clearCache()
    val q29 = SparkEntry.queries("q29_kg_triples")
    val counts = (1 to 3).map(_ => q29(spark, "").count())
    counts.distinct should have size 1
    counts.head should be > 0L
    spark.sharedState.cacheManager.isEmpty shouldBe true
  }
}
