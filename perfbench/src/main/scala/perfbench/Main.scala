package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** Command-line options, passed by run.py. */
final case class Opts(
    workload: String,
    seed: Long,
    seconds: Int,
    trace: Boolean,
    work: String,
    traceOut: String,
    launchMs: Long,
    slots: Int,
    partitions: Int)

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1",
      m("work"), m.getOrElse("trace-out", ""), m("launch-ms").toLong,
      m("slots").toInt, m("partitions").toInt)
  }
}

/** An output check: its name, whether it held, and what it saw. */
final case class Check(name: String, ok: Boolean, detail: String)

/** Times the operations of the timed phase. An operation that throws
  * counts as failed: it is logged by exception class and left out of
  * the latencies, but its wall and CPU time stay in the phase totals.
  */
final class Recorder {
  val updateMs = ArrayBuffer.empty[Double]
  val queryMs = ArrayBuffer.empty[Double]
  var attempted = 0L
  var failed = 0L
  val failures = mutable.TreeMap.empty[String, Int]
  var wallNs = 0L
  var cpuNs = 0L

  def op[T](update: Boolean)(f: => T): Option[T] = {
    Trace.opId += 1
    attempted += 1
    val c0 = Jvm.cpuNs()
    val t0 = System.nanoTime()
    val out =
      try Some(f)
      catch {
        case NonFatal(e) =>
          failed += 1
          val cls = e.getClass.getName
          if (!failures.contains(cls)) System.err.println(s"[perfbench] operation failed: $e")
          failures(cls) = failures.getOrElse(cls, 0) + 1
          None
      }
    val ms = (System.nanoTime() - t0) / 1e6
    wallNs += (ms * 1e6).toLong
    cpuNs += Jvm.cpuNs() - c0
    if (out.isDefined) (if (update) updateMs else queryMs) += ms
    out
  }

  def completed: Long = attempted - failed
}

/** One workload: set-up that can be repeated, a warm-up, whole rounds
  * of timed operations, per-layer metrics for the traced run, and the
  * output checks.
  */
trait Workload {
  /** One-time process set-up (Spark session, loopback service). */
  def open(): Unit = ()
  /** Generate the inputs from the seed and build the seed state,
    * replacing any earlier state. */
  def prepare(): Unit
  def warmup(): Unit
  /** One whole round of timed operations. Every round runs the same
    * operations from the same state. */
  def round(rec: Recorder): Unit
  /** Wall seconds of one round, as measured on a 4-core host. A run
    * makes ceil(--seconds / roundSeconds) rounds: its work is fixed by
    * `--seconds`, not by how fast the rounds go, so a faster program
    * does the same operations in less time. */
  def roundSeconds: Double
  /** Per-layer metrics of the traced run, read after the timed phase;
    * each value is (value, unit). */
  def layers(rec: Recorder): Map[String, (Double, String)]
  def checks(): Seq[Check]
  def close(): Unit = ()
}

object Main {
  /** How many times set-up runs; setup_s counts the median one. */
  val SetupReps = 3

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def main(args: Array[String]): Unit =
    try run(args)
    catch {
      case e: Throwable =>
        // non-daemon threads (the loopback HTTP server, Spark) would
        // otherwise keep the JVM alive after a failure
        e.printStackTrace()
        sys.exit(1)
    }

  private def run(args: Array[String]): Unit = {
    if (args.headOption.contains("selftest")) {
      val results = SelfTest.run()
      results.foreach(c => println(s"[selftest] ${if (c.ok) "ok  " else "FAIL"} ${c.name}: ${c.detail}"))
      sys.exit(if (results.forall(_.ok)) 0 else 1)
    }
    val o = Opts.parse(args)
    val loadStart = Jvm.loadAverage()
    Files.createDirectories(Paths.get(o.work))
    val wl: Workload = o.workload match {
      case "editor" => new EditorWorkload(o)
      case "suite"  => new SuiteWorkload(o)
      case "scale"  => new ScaleWorkload(o)
      case "ingest" => new IngestWorkload(o)
      case other    => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    wl.open()
    val prepMs = (1 to SetupReps).map { _ =>
      val t0 = System.nanoTime()
      wl.prepare()
      (System.nanoTime() - t0) / 1e6
    }
    val w0 = System.nanoTime()
    wl.warmup()
    val timedStartMs = System.currentTimeMillis()
    val setupS = (timedStartMs - o.launchMs - prepMs.sum + median(prepMs)) / 1000.0
    System.err.println(f"[perfbench] setup: prepare ${prepMs.map(_.round).mkString("/")} ms, " +
      f"warm-up ${(System.nanoTime() - w0) / 1e6}%.0f ms, setup_s $setupS%.3f")

    Trace.reset()
    Trace.enabled = o.trace
    val rec = new Recorder
    val j0 = Jvm.snap()
    val rounds = math.max(1, math.ceil(o.seconds / wl.roundSeconds).toInt)
    (1 to rounds).foreach(_ => wl.round(rec))
    val jvm = Jvm.snap() - j0
    Trace.enabled = false
    val counterNs = Trace.counterNs
    val heapMb = Jvm.liveHeapMb()

    val ops = rec.completed.toDouble
    val opsS = ops / (rec.wallNs / 1e9)
    val e2e = Vector(
      "setup_s" -> (setupS, "s"),
      "ops_s" -> (opsS, "1/s"),
      "update_p50_ms" -> (median(rec.updateMs.toSeq), "ms"),
      "query_p50_ms" -> (median(rec.queryMs.toSeq), "ms"),
      "cpu_ms_per_op" -> (rec.cpuNs / 1e6 / ops, "ms"),
      "heap_mb" -> (heapMb, "MB"))

    val layers: Map[String, (Double, String)] = if (!o.trace) Map.empty else {
      val spans = Trace.all
      val spanCost = Trace.spanCostNs()
      wl.layers(rec) ++ Map(
        "jvm.gc_ms" -> (jvm.gcMs.toDouble, "ms"),
        "jvm.gc_count" -> (jvm.gcCount.toDouble, "count"),
        "jvm.jit_ms" -> (jvm.jitMs.toDouble, "ms"),
        "jvm.alloc_mb_per_op" -> (jvm.allocBytes / 1048576.0 / ops, "MB"),
        "trace.spans_per_op" -> (spans.size / ops, "count"),
        "trace.overhead_pct" ->
          (100.0 * (spans.size * spanCost + counterNs) / rec.wallNs, "%"))
    }
    if (o.trace) writeTrace(o, rec, e2e, layers)

    val checks = wl.checks()
    wl.close()
    checks.foreach(c =>
      System.err.println(s"[perfbench] check ${if (c.ok) "ok  " else "FAIL"} ${c.name}: ${c.detail}"))

    def metricJson(m: Iterable[(String, (Double, String))]): String =
      m.toVector.sortBy(_._1).map { case (k, (v, u)) =>
        s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}"
      }.mkString("{", ",", "}")
    val line = new StringBuilder("PERFBENCH_JVM ")
    line ++= "{"
    line ++= s"\"workload\":${Json.str(o.workload)},\"seed\":${o.seed},\"rounds\":$rounds,"
    line ++= s"\"attempted\":${rec.attempted},\"failed\":${rec.failed},"
    line ++= s"\"failures\":${rec.failures.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")},"
    line ++= s"\"timed_s\":${Json.num(rec.wallNs / 1e9)},"
    line ++= s"\"load_avg\":{\"start\":${Json.num(loadStart)},\"end\":${Json.num(Jvm.loadAverage())}},"
    line ++= s"\"end_to_end\":${metricJson(e2e)},"
    line ++= s"\"per_layer\":${metricJson(layers)},"
    line ++= s"\"checks\":${checks.map(c => s"{\"name\":${Json.str(c.name)},\"ok\":${c.ok},\"detail\":${Json.str(c.detail)}}").mkString("[", ",", "]")}"
    line ++= "}"
    println(line.toString)
    System.out.flush()
    sys.exit(0)
  }

  /** Writes the spans of the traced run with each layer's self time. */
  private def writeTrace(o: Opts, rec: Recorder, e2e: Vector[(String, (Double, String))],
      layers: Map[String, (Double, String)]): Unit = if (o.traceOut.nonEmpty) {
    val sb = new StringBuilder
    sb ++= s"{\"workload\":${Json.str(o.workload)},\"seed\":${o.seed},"
    sb ++= s"\"traced_end_to_end\":${e2e.map { case (k, (v, _)) => s"${Json.str(k)}:${Json.num(v)}" }.mkString("{", ",", "}")},"
    sb ++= s"\"per_layer\":${layers.toVector.sortBy(_._1).map { case (k, (v, _)) => s"${Json.str(k)}:${Json.num(v)}" }.mkString("{", ",", "}")},"
    sb ++= "\"self_ms\":"
    sb ++= Trace.selfTimes.toVector.sortBy(_._1).map { case (n, (calls, total, self)) =>
      s"${Json.str(n)}:{\"calls\":$calls,\"total_ms\":${Json.num(total)},\"self_ms\":${Json.num(self)}}"
    }.mkString("{", ",", "}")
    sb ++= ",\"spans\":["
    val t0 = Trace.all.headOption.map(_.start).getOrElse(0L)
    sb ++= Trace.all.map(s =>
      s"[${s.id},${Json.str(s.name)},${(s.start - t0) / 1000},${(s.end - t0) / 1000},${s.parent},${s.op}]")
      .mkString(",")
    sb ++= "]}\n"
    Files.createDirectories(Paths.get(o.traceOut).getParent)
    Files.write(Paths.get(o.traceOut), sb.toString.getBytes(UTF_8))
  }
}

/** Minimal JSON encoding for the result line and the trace file. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"'  => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c    => sb += c
    }
    (sb += '"').toString
  }
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
}
