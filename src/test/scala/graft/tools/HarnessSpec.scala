package graft.tools

import graft.SparkSpec
import graft.pipeline.Pipeline
import graft.synth.{Synth, SynthConfig}
import org.apache.spark.sql.Dataset

class HarnessSpec extends SparkSpec {

  test("timeStages fills Pipeline.run's six caches one per step, in dependency order") {
    val cfg = SynthConfig(nPages = 50L)
    def construct() = Pipeline.run(Synth.pages(spark, cfg),
      Synth.aliases(spark, cfg), Synth.sameAs(spark, cfg), cfg.nPages)
    def loaded(ds: Dataset[_]): Boolean = spark.sharedState.cacheManager
      .lookupCachedData(ds.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
      .exists(_.cachedRepresentation.cacheBuilder.isCachedColumnBuffersLoaded)

    val plain = construct()
    val want = try plain.triples.count() finally plain.unpersist()

    val order = Seq("extracted", "candidates", "linked", "canon",
      "pageEntitySets", "triples")
    var built: Pipeline.Graph = null
    val steps = Seq.newBuilder[Harness.Step]
    val jobs = new JobCounter(spark.sparkContext)
    val g = try Harness.timeStages(jobs, { step =>
      // after each step exactly the caches up to its own are loaded:
      // each step fills its stage, and no step fills a later one
      val done = order.indexOf(step.name) + 1
      val caches = built.caches
      withClue(s"after ${step.name}: ") {
        caches.map { case (n, ds) => n -> loaded(ds) } shouldBe
          order.zipWithIndex.map { case (n, i) => n -> (i < done) }
      }
      steps += step
    }) { built = construct(); built } finally jobs.close()
    try {
      steps.result().map(_.name) shouldBe "construct" +: order
      steps.result().tail.foreach(s => withClue(s.name)(s.jobs should be > 0L))
      g.triples.count() shouldBe want
    } finally g.unpersist()
  }
}
