package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory span recorder for the traced run. A span wraps one call
  * the benchmark makes into a module's public function; spans nest on
  * the calling thread, and all spans of one timed operation share its
  * operation id. With tracing off, `span` is a plain call.
  */
object Trace {
  @volatile var enabled = false

  final case class Span(id: Int, name: String, start: Long, end: Long, parent: Int, op: Long) {
    def ms: Double = (end - start) / 1e6
  }

  private val spans = ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private var nextId = 0
  var opId = 0L
  /** Time the traced run spends reading counters inside timed
    * operations (waiting for the listener bus to drain), in ns. */
  var counterNs = 0L

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(-1)
      open = id :: open
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        open = open.tail
        spans += Span(id, name, t0, t1, parent, opId)
      }
    }

  def reset(): Unit = { spans.clear(); open = Nil; nextId = 0; counterNs = 0L }
  def all: Vector[Span] = spans.toVector

  /** Durations in ms of every span with this name, in start order. */
  def durations(name: String): Vector[Double] =
    spans.iterator.filter(_.name == name).toVector.sortBy(_.start).map(_.ms)

  /** name -> (calls, total ms, self ms). A span's self time is its
    * duration minus the time its direct children cover; children run
    * on the same thread, so they never overlap each other.
    */
  def selfTimes: Map[String, (Int, Double, Double)] = {
    val childMs = mutable.HashMap.empty[Int, Double].withDefaultValue(0.0)
    spans.foreach(s => if (s.parent >= 0) childMs(s.parent) += s.ms)
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ((ss.size, ss.map(_.ms).sum, ss.map(s => s.ms - childMs(s.id)).sum))
    }
  }

  /** Cost of recording one span, measured on this JVM (ns). */
  def spanCostNs(): Double = {
    val saved = (spans.clone(), open, nextId, enabled)
    enabled = true
    val n = 200000
    var sink = 0
    val t0 = System.nanoTime()
    var i = 0
    while (i < n) { sink += span("trace.probe")(i & 1); i += 1 }
    val per = (System.nanoTime() - t0).toDouble / n
    spans.clear(); spans ++= saved._1; open = saved._2; nextId = saved._3; enabled = saved._4
    if (sink < 0) println(sink)
    per
  }
}

/** Spark-side counters read from a listener: jobs, stages, tasks, task
  * run and CPU time, shuffle and spill bytes, and the planning phases
  * of every finished query execution.
  */
final class SparkCounters extends SparkListener {
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val taskRunMs = new AtomicLong
  val taskCpuNs = new AtomicLong
  val shuffleRead = new AtomicLong
  val shuffleWrite = new AtomicLong
  val spill = new AtomicLong
  val planMs = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      taskRunMs.addAndGet(m.executorRunTime)
      taskCpuNs.addAndGet(m.executorCpuTime)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.diskBytesSpilled)
    }
  }

  /** Planning time (analysis, optimisation, physical planning) of each
    * finished query execution, from its planning tracker. */
  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      planMs.addAndGet(qe.tracker.phases.valuesIterator.map(_.durationMs).sum)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  def install(spark: SparkSession): this.type = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(queryListener)
    this
  }

  /** Counter values once every event posted so far is delivered. */
  def snap(spark: SparkSession): SparkSnap = {
    val t0 = System.nanoTime()
    org.apache.spark.perfbench.BusDrain(spark.sparkContext)
    val s = SparkSnap(jobs.get, stages.get, tasks.get, taskRunMs.get, taskCpuNs.get,
      shuffleRead.get, shuffleWrite.get, spill.get, planMs.get)
    Trace.counterNs += System.nanoTime() - t0
    s
  }
}

final case class SparkSnap(jobs: Long, stages: Long, tasks: Long, taskRunMs: Long,
    taskCpuNs: Long, shuffleRead: Long, shuffleWrite: Long, spill: Long, planMs: Long) {
  def -(o: SparkSnap): SparkSnap = SparkSnap(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, taskRunMs - o.taskRunMs, taskCpuNs - o.taskCpuNs,
    shuffleRead - o.shuffleRead, shuffleWrite - o.shuffleWrite, spill - o.spill,
    planMs - o.planMs)
  def +(o: SparkSnap): SparkSnap = SparkSnap(jobs + o.jobs, stages + o.stages,
    tasks + o.tasks, taskRunMs + o.taskRunMs, taskCpuNs + o.taskCpuNs,
    shuffleRead + o.shuffleRead, shuffleWrite + o.shuffleWrite, spill + o.spill,
    planMs + o.planMs)
}
object SparkSnap {
  val zero: SparkSnap = SparkSnap(0, 0, 0, 0, 0, 0, 0, 0, 0)
}

/** JVM counters from the platform MXBeans. */
final case class JvmSnap(gcMs: Long, gcCount: Long, jitMs: Long, allocBytes: Long) {
  def -(o: JvmSnap): JvmSnap =
    JvmSnap(gcMs - o.gcMs, gcCount - o.gcCount, jitMs - o.jitMs, allocBytes - o.allocBytes)
}
object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val threads = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  /** CPU time of the whole process, all threads (ns). */
  def cpuNs(): Long = os.getProcessCpuTime

  def loadAverage(): Double = os.getSystemLoadAverage

  def snap(): JvmSnap = {
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val alloc = threads.getThreadAllocatedBytes(threads.getAllThreadIds).filter(_ > 0).sum
    JvmSnap(gcs.map(_.getCollectionTime).sum, gcs.map(_.getCollectionCount).sum,
      ManagementFactory.getCompilationMXBean.getTotalCompilationTime, alloc)
  }

  /** Heap in use after full collections: the live set. The pauses let
    * Spark's context cleaner drop blocks of unreachable datasets that a
    * collection has just found. */
  def liveHeapMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(200) }
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}
