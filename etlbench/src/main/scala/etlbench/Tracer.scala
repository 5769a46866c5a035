package etlbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

/** What the listener counts for one span: the jobs its calls submitted and
  * the tasks, I/O, shuffle and spill of those jobs' stages.
  */
final class Counters {
  val jobs, tasks, recordsRead, bytesWritten, shuffleWrite, spill, cpuNs,
    scanTaskMs = new AtomicLong
  /** (start, end) epoch-millis of every job that ended. */
  val jobIntervals = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()

  def add(o: Counters): Unit = {
    Seq(jobs -> o.jobs, tasks -> o.tasks, recordsRead -> o.recordsRead,
      bytesWritten -> o.bytesWritten, shuffleWrite -> o.shuffleWrite, spill -> o.spill,
      cpuNs -> o.cpuNs, scanTaskMs -> o.scanTaskMs)
      .foreach { case (a, b) => a.addAndGet(b.get) }
    jobIntervals.addAll(o.jobIntervals)
  }
}

/** One traced call: a layer boundary crossed by the benchmark's own code. */
final class Span(
    val id: Int,
    val name: String,
    val parent: Int,
    val run: String,
    val startNs: Long,
    val startMs: Long) {
  @volatile var endNs: Long = -1L
  @volatile var endMs: Long = -1L
  val counters = new Counters
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans plus a SparkListener that attributes Spark work to them.
  *
  * A span sets the thread-local Spark property [[Tracer.Key]] for the
  * duration of the call, so every job the call submits — on this thread or
  * on a thread it starts — carries the span id. The listener maps job →
  * span at job start, stage → span for the job's stages, and adds every
  * finished task's metrics to that span. Spans live in memory and are
  * written out by [[writeJsonl]] at exit.
  *
  * Disabled, a tracer runs the body and records nothing, and no listener is
  * registered: that is how end-to-end numbers are measured.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val nextId = new AtomicInteger(0)
  private val spans = new ConcurrentHashMap[Int, Span]()
  private val jobSpan = new ConcurrentHashMap[Int, Int]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val jobStart = new ConcurrentHashMap[Int, Long]()
  private val current = new ThreadLocal[Option[Span]] { override def initialValue() = None }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Key))).foreach { s =>
        val id = s.toInt
        jobSpan.put(e.jobId, id)
        jobStart.put(e.jobId, e.time)
        e.stageIds.foreach(st => stageSpan.put(st, id))
        spans.get(id).counters.jobs.incrementAndGet()
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobSpan.get(e.jobId)).foreach { id =>
        spans.get(id).counters.jobIntervals.add((jobStart.get(e.jobId), e.time))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (id <- Option(stageSpan.get(e.stageId)); m <- Option(e.taskMetrics)) {
        val c = spans.get(id).counters
        c.tasks.incrementAndGet()
        c.recordsRead.addAndGet(m.inputMetrics.recordsRead)
        c.bytesWritten.addAndGet(m.outputMetrics.bytesWritten)
        c.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        c.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        c.cpuNs.addAndGet(m.executorCpuTime)
        if (m.inputMetrics.recordsRead > 0) c.scanTaskMs.addAndGet(m.executorRunTime)
      }
  }

  private var attached = false

  /** Attach or detach the listener; a detached tracer records nothing, so
    * traced runs can interleave untraced operations to measure overhead.
    */
  def listen(on: Boolean): Unit = if (enabled && on != attached) {
    drain()
    if (on) sc.addSparkListener(listener) else sc.removeSparkListener(listener)
    attached = on
  }

  def recording: Boolean = enabled && attached

  /** Run `f` inside a span named `name`, child of the thread's open span. */
  def span[A](name: String, run: String = "")(f: => A): A =
    if (!recording) f
    else {
      val parent = current.get()
      val s = new Span(nextId.incrementAndGet(), name, parent.fold(0)(_.id),
        if (run.nonEmpty) run else parent.fold("")(_.run),
        System.nanoTime(), System.currentTimeMillis())
      spans.put(s.id, s)
      val prevProp = sc.getLocalProperty(Tracer.Key)
      current.set(Some(s))
      sc.setLocalProperty(Tracer.Key, s.id.toString)
      try f
      finally {
        s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
        current.set(parent)
        sc.setLocalProperty(Tracer.Key, prevProp)
      }
    }

  /** Open a span on the calling thread that stays open until `close` is
    * called with the returned id — for work that starts on a thread the
    * benchmark does not own (the table pipelines inside `Etl.run`).
    */
  def openOn(name: String, parentId: Int): Int =
    if (!recording) 0
    else {
      val p = spans.get(parentId)
      val s = new Span(nextId.incrementAndGet(), name, parentId,
        if (p == null) "" else p.run, System.nanoTime(), System.currentTimeMillis())
      spans.put(s.id, s)
      sc.setLocalProperty(Tracer.Key, s.id.toString)
      s.id
    }

  def close(id: Int, endNs: Long, endMs: Long): Unit =
    Option(spans.get(id)).foreach { s => s.endNs = endNs; s.endMs = endMs }

  def openSpanId: Int = current.get().fold(0)(_.id)

  def get(id: Int): Span = spans.get(id)

  /** Wait until the listener bus has delivered every event posted so far,
    * so counts read after a call include all of that call's jobs and tasks.
    */
  def drain(): Unit =
    try {
      // LiveListenerBus.waitUntilEmpty is private[spark]
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty", java.lang.Long.TYPE)
        .invoke(bus, java.lang.Long.valueOf(30000L))
    } catch { case _: Throwable => Thread.sleep(500) }

  def all: Seq[Span] = spans.values.asScala.toSeq.sortBy(_.id)

  def children(id: Int): Seq[Span] = all.filter(_.parent == id)

  def descendants(id: Int): Seq[Span] = {
    val kids = children(id)
    kids ++ kids.flatMap(k => descendants(k.id))
  }

  /** Counters of a span and all its descendants. */
  def inclusive(id: Int): Counters = {
    val c = new Counters
    (get(id) +: descendants(id)).foreach(s => c.add(s.counters))
    c
  }

  /** Duration minus the part of it that child spans cover. */
  def selfSeconds(s: Span): Double = {
    val kids = children(s.id).map(k => (k.startNs, k.endNs))
    s.seconds - Tracer.unionLength(kids) / 1e9
  }

  /** Span wall time not covered by any of its (inclusive) jobs. */
  def driverGapSeconds(s: Span): Double = {
    val jobs = inclusive(s.id).jobIntervals.asScala.toSeq
      .map { case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) }
    s.seconds - Tracer.unionLength(jobs) / 1e3
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val lines = all.map { s =>
      val c = s.counters
      Serialization.write(ListMap(
        "run" -> s.run, "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "self_s" -> selfSeconds(s), "jobs" -> c.jobs.get, "tasks" -> c.tasks.get,
        "records_read" -> c.recordsRead.get, "bytes_written" -> c.bytesWritten.get,
        "shuffle_write_bytes" -> c.shuffleWrite.get, "spill_bytes" -> c.spill.get,
        "executor_cpu_s" -> c.cpuNs.get / 1e9))(DefaultFormats)
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  val Key = "etlbench.span"

  /** Total length covered by a set of (start, end) intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > curE) {
        if (curE > curS) total += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
