package graft.perfbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** One closed-loop operation: `run` is the timed call; `verify` runs right
  * after it, untimed, and returns the output row count or a failure.
  */
final case class Op(kind: String, run: () => Unit,
                    verify: () => Either[String, Long] = () => Right(-1L),
                    meta: () => Map[String, Any] = () => Map.empty)

final case class OpRec(seq: Int, phase: String, kind: String, startMs: Long,
                       ms: Double, ok: Boolean, rows: Long, error: String,
                       parts: Map[String, Double], meta: Map[String, Any])

/** A benchmark workload: one kind of graft user, driven by one client. */
trait Workload {
  /** Builds the state the user serves from (indexes); untimed per op. */
  def setup(): Unit = ()
  /** The cold first operation followed by the fixed warm-up operations. */
  def warmup(): Seq[Op]
  /** The next operation of the measured closed loop. */
  def next(): Op
  /** Whether the measured operations so far cover every end-to-end metric
    * (the loop runs at least `--seconds`, and on until this holds).
    */
  def covered(measured: Seq[OpRec]): Boolean = measured.nonEmpty
  /** Traced runs only: extra operations after the measured loop that time
    * single layers on their own (labelled standalone: not self time);
    * `probes` times the layers no closed loop calls (capex, streaming).
    */
  def tracedOps(probes: LayerProbes): Seq[Op] = Nil
  /** Layer gauges read after the measured loop (file counts, sizes). */
  def gauges(): Map[String, Double] = Map.empty
  /** Untimed end-of-run checks; writes oracle outputs under `out`. */
  def finalCheck(): Map[String, Any]
}

/** Runs one workload in one JVM and writes `<out>/result.json` (and, when
  * traced, `<out>/spans.jsonl`). Usage:
  * {{{
  *   graft.perfbench.Main --workload <name> --input <dir> --out <dir>
  *                        --seconds <n> --trace <0|1>
  * }}}
  */
object Main {
  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val out = o("out")
    val seconds = o("seconds").toDouble
    val traced = o("trace") == "1"
    val cores = Runtime.getRuntime.availableProcessors()
    val tracer = new Tracer

    val t0 = System.nanoTime()
    val spark = graft.GraftSession.create(cores)
    if (traced) tracer.attach(spark)
    val recs = mutable.ArrayBuffer.empty[OpRec]
    def runOp(op: Op, phase: String): OpRec = {
      val seq = recs.size
      tracer.beginOp(seq)
      val start = System.currentTimeMillis()
      val s = System.nanoTime()
      val err =
        try { tracer.span("op." + op.kind)(op.run()); None }
        catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      val ms = (System.nanoTime() - s) / 1e6
      val parts = tracer.parts.toMap - ("op." + op.kind)
      val checked = err.map(Left(_)).getOrElse(
        try op.verify() catch { case e: Throwable => Left(s"verify: ${e.getMessage}") })
      val r = OpRec(seq, phase, op.kind, start, ms, checked.isRight,
        checked.getOrElse(-1L), checked.left.getOrElse(""), parts, op.meta())
      recs += r
      if (!r.ok) System.err.println(s"[perfbench] op $seq ${op.kind} failed: ${r.error}")
      r
    }

    val w: Workload = o("workload") match {
      case "corpus_etl" => new CorpusEtl(spark, o("input"), out, tracer)
      case "retrieval_serving" => new RetrievalServing(spark, o("input"), out, tracer)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    var status = 0
    try {
      w.setup()
      w.warmup().foreach(runOp(_, "warmup"))
      val setupS = (System.nanoTime() - t0) / 1e9
      val m0 = System.nanoTime()
      val measured = mutable.ArrayBuffer.empty[OpRec]
      while ((System.nanoTime() - m0) / 1e9 < seconds || !w.covered(measured.toSeq))
        measured += runOp(w.next(), "measure")
      val measureS = (System.nanoTime() - m0) / 1e9
      val peakRssMb = vmHwmMb()
      val gauges = w.gauges()
      val probes = new LayerProbes(spark, o("input"), out, tracer)
      if (traced) w.tracedOps(probes).foreach(runOp(_, "standalone"))
      val checks = w.finalCheck() ++ (if (traced) probes.finish() else Map.empty)
      val perOp = if (traced) tracer.perOp() else Map.empty[Int, Map[String, Double]]
      if (traced) tracer.dump(s"$out/spans.jsonl")
      val opSpanIds = tracer.opSpans.map(s => s.op -> s.id).toMap
      val result = Json.obj(
        "setup_s" -> setupS,
        "measure_s" -> measureS,
        "peak_rss_mb" -> peakRssMb,
        "env" -> Map(
          "cores" -> cores,
          "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
          "java_version" -> System.getProperty("java.version"),
          "spark_version" -> spark.version,
          "scala_version" -> scala.util.Properties.versionNumberString),
        "gauges" -> gauges,
        "checks" -> checks,
        "ops" -> recs.map(r => Map(
          "seq" -> r.seq, "phase" -> r.phase, "kind" -> r.kind,
          "start_ms" -> r.startMs, "ms" -> r.ms, "ok" -> r.ok, "rows" -> r.rows,
          "error" -> r.error, "parts_ms" -> r.parts, "meta" -> r.meta,
          "layers" -> opSpanIds.get(r.seq).flatMap(perOp.get).getOrElse(Map.empty))))
      val pw = new java.io.PrintWriter(s"$out/result.json", "UTF-8")
      try pw.println(result) finally pw.close()
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        status = 1
    } finally spark.stop()
    System.exit(status)
  }

  /** Peak resident set of this JVM (Linux VmHWM), MB. */
  private def vmHwmMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
    finally src.close()
  }
}
