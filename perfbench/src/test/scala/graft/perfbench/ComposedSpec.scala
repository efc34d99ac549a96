package graft.perfbench

import java.nio.file.Files

import scala.collection.mutable

import graft.pipeline.Pipeline
import graft.synth.Synth
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The traced run composes the layers itself; its outputs must equal the
  * untraced `Pipeline.run` / `Pipeline.build` on the same input, and its
  * spans must attribute Spark jobs to the layers.
  *
  *   cd perfbench && sbt test
  */
class ComposedSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val work = Files.createTempDirectory("perfbench-spec").toString
  private val h = new Harness(Main.Args("run_dense", 7L, 0.0, trace = true, 2, work,
    s"$work/raw.json", None))
  private val cfg = Inputs.denseCfg(7L, 60L)

  override def beforeAll(): Unit = { h.setup(Workloads.KgConf)(_ => ())(_ => ()); () }
  override def afterAll(): Unit = { h.stop(); h.deleteTree(work) }

  private def pages = Synth.pages(h.spark, cfg)

  test("the composed run equals Pipeline.run, with a span per layer") {
    val g = Pipeline.run(pages, Synth.aliases(h.spark, cfg), Synth.sameAs(h.spark, cfg), cfg.nPages)
    val untraced = try Workloads.denseOutputs(g.triples, g.nodes, g.adjacency) finally g.unpersist()
    val counts = mutable.Map[String, Double]()
    val (_, traced) = Workloads.composedRun(h, h.tracer, pages, cfg, counts)
    assert(traced == untraced)
    assert(counts("emit.triples") == untraced("triples")._1.toDouble)

    val (spans, stats) = h.tracer.finish()
    val names = spans.map(_.name).toSet
    assert(Set("pipeline", "extract", "mention", "link", "canon", "emit").subsetOf(names))
    val layerJobs = spans.filter(_.name == "extract").flatMap(s => stats.get(s.id)).map(_.jobs).sum
    assert(layerJobs > 0)
    spans.filter(_.parent >= 0).foreach { s =>
      val p = spans.find(_.id == s.parent).get
      assert(p.startNs <= s.startNs && s.endNs <= p.endNs)
    }
  }

  test("the composed build writes the same store as Pipeline.build") {
    val plain = s"$work/plain"
    Pipeline.build(h.spark, pages, Synth.aliases(h.spark, cfg), Synth.sameAs(h.spark, cfg),
      cfg.nPages, plain, "s0", Workloads.Buckets)
    val composed = s"$work/composed"
    Workloads.composedBuild(h, pages, cfg, composed, "s0", mutable.Map[String, Double]())
    assert(Workloads.storeCk(h.spark, composed) == Workloads.storeCk(h.spark, plain))
  }

  test("a corrupted store is detected") {
    val plain = s"$work/plain"
    val before = Workloads.storeCk(h.spark, plain)
    val leaf = new java.io.File(s"$plain/triples/data").listFiles().filter(_.isDirectory).head
    h.deleteTree(leaf.getPath)
    assert(Workloads.storeCk(h.spark, plain)("triples") != before("triples"))
  }
}
