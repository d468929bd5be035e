package graft.bench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spans around the benchmark's calls into the program's layers, with
  * Spark work attributed to them.
  *
  * A span is (name, start, end, parent, request id). Spans live in memory
  * and are written out once, when the run ends. The listener attributes
  * each job, and the tasks of its stages, to the span that was open on
  * the submitting thread: the span id travels as a job-local property,
  * so attribution is exact even though listener events arrive
  * asynchronously. Self time of a span is its duration minus the part of
  * it covered by child spans.
  *
  * When tracing is off nothing is recorded and no listener is installed;
  * [[span]] then only runs its body.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Span]
  private var paused = false
  private val byId = new java.util.concurrent.ConcurrentHashMap[Int, Span]()
  private val stageSpan =
    new java.util.concurrent.ConcurrentHashMap[Int, Span]()
  private val jobSpan =
    new java.util.concurrent.ConcurrentHashMap[Int, (Span, Int)]()
  private val markerDone = new java.util.concurrent.CountDownLatch(1)
  @volatile private var markerJob = -1

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      if (props.exists(_.getProperty(MarkerKey) != null)) {
        markerJob = e.jobId
        return
      }
      props.flatMap(p => Option(p.getProperty(SpanKey)))
        .flatMap(id => Option(byId.get(id.toInt))).foreach { s =>
          s.synchronized {
            s.jobs += 1
            s.jobIntervals += ((e.time, Long.MaxValue))
            jobSpan.put(e.jobId, (s, s.jobIntervals.length - 1))
          }
          e.stageIds.foreach(stageSpan.put(_, s))
        }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      if (e.jobId == markerJob) markerDone.countDown()
      Option(jobSpan.remove(e.jobId)).foreach { case (s, i) =>
        s.synchronized {
          s.jobIntervals(i) = (s.jobIntervals(i)._1, e.time)
        }
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = stageSpan.get(e.stageId)
      if (s == null || e.taskMetrics == null) return
      val m = e.taskMetrics
      s.synchronized {
        s.tasks += 1
        s.cpuNs += m.executorCpuTime
        s.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten
        s.ioBytes += m.inputMetrics.bytesRead + m.outputMetrics.bytesWritten
        s.inputRecords += m.inputMetrics.recordsRead
      }
    }
  }
  if (enabled) spark.sparkContext.addSparkListener(listener)

  /** Run `body` inside a span named `name` for request `request`;
    * `results` is the number of result rows asked for (Q·k), if any.
    */
  def span[T](name: String, request: Long, results: Long = 0L)
             (body: => T): T = {
    if (!enabled || paused) return body
    val sc = spark.sparkContext
    val s = new Span(spans.length, name, open.headOption.map(_.id)
      .getOrElse(-1), request, results)
    spans += s
    byId.put(s.id, s)
    val prev = sc.getLocalProperty(SpanKey)
    open.push(s)
    sc.setLocalProperty(SpanKey, s.id.toString)
    s.startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      s.wallNs = System.nanoTime() - t0
      s.endMs = System.currentTimeMillis()
      open.pop()
      sc.setLocalProperty(SpanKey, prev)
    }
  }

  /** Run `body` with span recording suspended (the untraced half of the
    * overhead comparison); Spark work inside it is attributed to nothing.
    */
  def untraced[T](body: => T): T = {
    val was = paused
    paused = true
    try body finally paused = was
  }

  /** Wait until the listener has seen every event of the jobs run so far:
    * one marker job is submitted, and the listener bus is FIFO, so its
    * end event arrives after every earlier job's.
    */
  def drain(): Unit = if (enabled) {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, null)
    sc.setLocalProperty(MarkerKey, "1")
    try sc.parallelize(Seq(1), 1).count()
    finally {
      sc.setLocalProperty(MarkerKey, null)
      sc.setLocalProperty(SpanKey, prev)
    }
    markerDone.await(60, java.util.concurrent.TimeUnit.SECONDS)
  }

  def all: Seq[Span] = spans.toSeq

  /** Self time of a span: its wall time minus the union of its children. */
  def selfNs(s: Span): Long = {
    val kids = spans.filter(_.parent == s.id)
      .map(c => (c.startMs, c.endMs)).sortBy(_._1).toSeq
    s.wallNs - 1000000L * union(kids, s.startMs, s.endMs)
  }

  /** Span records as JSON lines (name, ids, times, attributed work). */
  def jsonLines: Seq[String] = spans.toSeq.map { s =>
    Json.obj(Seq(
      "id" -> Json.num(s.id), "name" -> Json.str(s.name),
      "parent" -> Json.num(s.parent), "request" -> Json.num(s.request),
      "start_ms" -> Json.num(s.startMs), "end_ms" -> Json.num(s.endMs),
      "wall_s" -> Json.num(s.wallNs / 1e9),
      "self_s" -> Json.num(selfNs(s) / 1e9),
      "driver_only_s" -> Json.num(s.driverOnlyS),
      "jobs" -> Json.num(s.jobs), "tasks" -> Json.num(s.tasks),
      "executor_cpu_s" -> Json.num(s.cpuNs / 1e9),
      "shuffle_bytes" -> Json.num(s.shuffleBytes),
      "io_bytes" -> Json.num(s.ioBytes),
      "input_records" -> Json.num(s.inputRecords),
      "results" -> Json.num(s.results)))
  }
}

object Tracer {
  private val SpanKey = "graft.bench.span"
  private val MarkerKey = "graft.bench.marker"

  final class Span(val id: Int, val name: String, val parent: Int,
                   val request: Long, val results: Long) {
    var startMs = 0L
    var endMs = 0L
    var wallNs = 0L
    var jobs = 0L
    var tasks = 0L
    var cpuNs = 0L
    var shuffleBytes = 0L
    var ioBytes = 0L
    var inputRecords = 0L
    val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

    /** Span time with no Spark job of this span running. */
    def driverOnlyS: Double = synchronized {
      val busyMs = union(jobIntervals.toSeq.map { case (a, b) =>
        (a, if (b == Long.MaxValue) endMs else b)
      }.sortBy(_._1), startMs, endMs)
      math.max(0.0, wallNs / 1e9 - busyMs / 1e3)
    }
  }

  /** Length of the union of sorted intervals, clipped to [lo, hi]. */
  private def union(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    iv.foreach { case (a0, b0) =>
      val a = math.max(a0, lo); val b = math.min(b0, hi)
      if (b > a) {
        if (a > curB) {
          if (curB > curA) total += curB - curA
          curA = a; curB = b
        } else curB = math.max(curB, b)
      }
    }
    if (curB > curA) total += curB - curA
    total
  }
}
