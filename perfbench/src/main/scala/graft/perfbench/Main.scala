package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Benchmark JVM entry point.
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --cores <n> --work <dir> --out <file> [--input <dir>]
  *
  * Runs one workload in this process and writes one raw JSON record to
  * `--out`: set-up times, every timed op with its verdict, peak RSS and,
  * with `--trace 1`, the spans and per-span Spark task metrics. run.py
  * turns the record into the benchmark's metrics. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, cores: Int, work: String, out: String, input: Option[String])

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(get("workload"), get("seed").toLong, get("seconds").toDouble,
      get("trace") == "1", get("cores").toInt, get("work"), get("out"), m.get("input"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val h = new Harness(a)
    val record = a.workload match {
      case "run_dense" => Workloads.runDense(h)
      case "query_mix" => Workloads.queryMix(h)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    Files.createDirectories(Paths.get(a.out).toAbsolutePath.getParent)
    Files.write(Paths.get(a.out), Json(record).getBytes(StandardCharsets.UTF_8))
    h.stop()
  }
}

/** One timed op: wall seconds, whether its output checked out, and the
  * op's own counts (pages, triples, ...). */
final case class Op(name: String, s: Double, ok: Boolean, counts: Map[String, Double] = Map.empty) {
  def toMap: Map[String, Any] = Map("name" -> name, "s" -> s, "ok" -> ok, "counts" -> counts)
}

/** Session life cycle, the set-up, the timed loop, RSS and the tracer:
  * everything the workloads share. */
final class Harness(val args: Main.Args) {
  val work: String = Paths.get(args.work).toAbsolutePath.toString
  private var session: SparkSession = _
  def spark: SparkSession = session
  var tracer: Tracer = _

  private def startSession(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${args.cores}]")
      .appName(s"perfbench-${args.workload}")
      .config("spark.sql.shuffle.partitions", args.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The run's one set-up: session start and the warm-up op (plus any
    * base state) are timed; generating or validating the seeded input in
    * between is not. Returns (setup seconds, generation seconds, input)
    * and installs the tracer on the session. */
  def setup[T](conf: Map[String, String])(gen: SparkSession => T)(warm: T => Unit): (Double, Double, T) = {
    val t0 = System.nanoTime()
    session = startSession()
    conf.foreach { case (k, v) => session.conf.set(k, v) }
    val t1 = System.nanoTime()
    val input = gen(session)
    val t2 = System.nanoTime()
    warm(input)
    val t3 = System.nanoTime()
    tracer = new Tracer(session.sparkContext, args.trace)
    resetPeakRss()
    (((t1 - t0) + (t3 - t2)) / 1e9, (t2 - t1) / 1e9, input)
  }

  def stop(): Unit = if (session != null) { session.stop(); session = null }

  /** Run `op(i)` for i = 0, 1, ... until `seconds` have passed (at least
    * one op). An op that throws counts as failed. */
  def loop(op: Int => Op): Seq[Op] = {
    val ops = ArrayBuffer[Op]()
    val deadline = System.nanoTime() + (args.seconds * 1e9).toLong
    do ops += guarded(s"op${ops.size}")(op(ops.size))
    while (System.nanoTime() < deadline)
    ops.toSeq
  }

  def guarded(name: String)(op: => Op): Op =
    try op
    catch {
      case e: Exception =>
        System.err.println(s"[perfbench] $name failed: $e")
        Op(name, 0.0, ok = false)
    }

  /** Wall seconds of `body`, with its value. */
  def timed[T](body: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val r = body
    ((System.nanoTime() - t0) / 1e9, r)
  }

  // --------------------------------------------------------------- RSS

  /** Reset the kernel's peak-RSS mark (VmHWM) so it covers only what
    * follows set-up. Not every kernel allows it; then the peak also
    * covers set-up. */
  private def resetPeakRss(): Unit =
    try Files.write(Paths.get("/proc/self/clear_refs"), "5".getBytes)
    catch { case _: Exception => () }

  def peakRssMb: Double = {
    val status = new String(Files.readAllBytes(Paths.get("/proc/self/status")))
    "VmHWM:\\s+(\\d+) kB".r.findFirstMatchIn(status).map(_.group(1).toDouble / 1024).getOrElse(0.0)
  }

  // ------------------------------------------------------------- files

  def freshDir(name: String): String = {
    val p = Paths.get(work, name)
    deleteTree(p.toString)
    p.toString
  }

  def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally s.close()
    }
  }

  /** Record common to every workload. */
  def record(setupS: Double, genS: Double, ops: Seq[Op], extra: Map[String, Any]): Map[String, Any] =
    Map("workload" -> args.workload, "seed" -> args.seed, "cores" -> args.cores,
      "queries" -> graft.SparkEntry.queries.keys.toSeq.sorted, "setup_s" -> setupS, "gen_s" -> genS, "ops" -> ops.map(_.toMap), "peak_rss_mb" -> peakRssMb) ++ extra

  /** Spans, per-span task metrics and job intervals of the traced run. */
  def traceRecord(counts: Map[String, Double]): Map[String, Any] = {
    val (spans, stats) = tracer.finish()
    Map(
      "spans" -> spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs)),
      "groups" -> stats.map { case (id, g) => id.toString -> Map(
        "jobs" -> g.jobs, "tasks" -> g.tasks,
        "shuffle_bytes" -> (g.shuffleReadBytes + g.shuffleWriteBytes),
        "spill_bytes" -> g.spillBytes, "peak_exec_bytes" -> g.peakExecBytes,
        "gc_ms" -> g.gcMs, "run_ms" -> g.runMs.toSeq) },
      "jobs" -> tracer.jobIntervalsNs.map { case (a, b) => Seq(a, b) },
      "cached_bytes_peak" -> tracer.listener.cachedBytesPeak,
      "counts" -> counts)
  }
}

/** Minimal JSON writer for the raw record (maps, sequences, numbers,
  * strings, booleans). */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Long => n.toString
    case n: Int => n.toString
    case m: Map[_, _] => m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
