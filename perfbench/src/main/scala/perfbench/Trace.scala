package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** In-memory spans around the harness's calls into each layer.
  *
  * A span records its name, start and end (nanoTime and wall-clock ms),
  * the span that encloses it and the operation it belongs to. Spans of
  * one operation nest strictly (one client thread), so a layer's self
  * time is its span minus its children. With tracing off `span` is the
  * body alone: the untraced run pays one boolean test per call. A traced
  * run switches tracing off for every other pass, so the overhead of
  * tracing is measured against the same operations. */
final class Tracer(var on: Boolean) {
  final class Span(val name: String, val op: Int, val parent: Int,
      val t0: Long, val ms0: Long) {
    var t1: Long = 0L
    var ms1: Long = 0L
  }
  val spans = ArrayBuffer[Span]()
  private val stack = ArrayBuffer[Int]()
  private var op = -1

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val idx = spans.size
      val s = new Span(name, op, stack.lastOption.getOrElse(-1),
        System.nanoTime(), System.currentTimeMillis())
      spans += s
      stack += idx
      try body
      finally {
        s.t1 = System.nanoTime(); s.ms1 = System.currentTimeMillis()
        stack.remove(stack.size - 1)
      }
    }

  /** Root span of one operation; `id` tags every span inside it. */
  def operation[T](id: Int, name: String)(body: => T): T = {
    op = id
    try span(name)(body) finally op = -1
  }
}

/** Spark activity seen through a listener the harness installs (traced
  * runs only): cumulative counters plus every job's submission time, so
  * jobs can be attributed to the span whose wall-clock interval holds
  * them without draining the bus inside a timed operation. */
final class SparkCounters(sc: SparkContext) extends SparkListener {
  val jobs, stages, tasks, failedTasks = new AtomicLong
  val runMs, cpuNs, gcMs, shuffleWrite, spill, inputBytes = new AtomicLong
  private val jobTimes = ArrayBuffer[Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    jobTimes.synchronized { jobTimes += e.time }; ()
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet(); ()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    if (e.taskInfo != null && e.taskInfo.failed) failedTasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      inputBytes.addAndGet(m.inputMetrics.bytesRead)
    }
    ()
  }

  def snapshot(): Map[String, Long] = Map(
    "jobs" -> jobs.get, "stages" -> stages.get, "tasks" -> tasks.get,
    "failed_tasks" -> failedTasks.get, "exec_run_ms" -> runMs.get,
    "exec_cpu_ms" -> cpuNs.get / 1000000L, "gc_ms" -> gcMs.get,
    "shuffle_write_bytes" -> shuffleWrite.get, "spill_bytes" -> spill.get,
    "input_bytes" -> inputBytes.get)

  /** Jobs submitted within [ms0, ms1]. */
  def jobsBetween(ms0: Long, ms1: Long): Int =
    jobTimes.synchronized(jobTimes.count(t => t >= ms0 && t <= ms1))

  /** Wait until every posted event has reached the listener. The bus's
    * `waitUntilEmpty` is package-private in Scala but public in bytecode. */
  def drain(): Unit =
    try {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty", classOf[Long])
        .invoke(bus, java.lang.Long.valueOf(10000L))
      ()
    } catch { case _: Throwable => Thread.sleep(50) }
}

/** Host drift controls: one fixed CPU-bound loop on one thread, and the
  * same loop on every core at once. A box that loses multi-core
  * throughput while single-thread speed holds shows in the second only. */
object Calib {
  private def loop(): Long = {
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 60000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    x
  }

  def oneThreadMs(): Double = {
    val t0 = System.nanoTime()
    val x = loop()
    if (x == 0L) System.err.print("")
    (System.nanoTime() - t0) / 1e6
  }

  def allCoreMs(threads: Int): Double = {
    val sink = new AtomicLong
    val ts = (0 until threads).map(_ => new Thread(() => { sink.addAndGet(loop()); () }))
    val t0 = System.nanoTime()
    ts.foreach(_.start()); ts.foreach(_.join())
    val ms = (System.nanoTime() - t0) / 1e6
    if (sink.get == 0L) System.err.print("")
    ms
  }
}
