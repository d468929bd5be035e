package graft.bench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run's bookkeeping: request latencies by type, operation
  * and failure counts, per-layer gauges, and the tracer.
  *
  * The load is a closed loop with one client: each request is issued from
  * the main thread and waited for before the next one starts.
  */
final class Run(val spark: SparkSession, val opts: Main.Opts,
                val tracer: Tracer) {
  private val latencies =
    mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val tracedLat =
    mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val untracedLat =
    mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val gaugeVals =
    mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L
  private var nextRequest = 0L

  /** Wall-clock ms when the first timed request started (-1 before). */
  var timedStartMs = -1L
  private var gcAtStart = 0L

  /** Seconds since the timed phase began. */
  def elapsedS: Double =
    if (timedStartMs < 0) 0.0
    else (System.currentTimeMillis() - timedStartMs) / 1e3

  private def markTimedStart(): Unit = if (timedStartMs < 0) {
    timedStartMs = System.currentTimeMillis()
    gcAtStart = Main.gcMillis()
  }

  def gcSinceTimedStart: Double = (Main.gcMillis() - gcAtStart) / 1e3

  /** One timed request of type `kind`: latency is the wall time of `body`.
    * In a traced run every other request of each type runs untraced, so
    * the two halves give the tracing overhead.
    */
  def request[T](kind: String)(body: => T): T = {
    markTimedStart()
    val n = latencies.get(kind).fold(0)(_.length)
    val traced = tracer.enabled && n % 2 == 0
    val id = nextRequest
    nextRequest += 1
    val t0 = System.nanoTime()
    val r =
      if (traced) tracer.span(s"request.$kind", id)(body)
      else tracer.untraced(body)
    val dt = (System.nanoTime() - t0) / 1e9
    latencies.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += dt
    (if (traced) tracedLat else untracedLat)
      .getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += dt
    r
  }

  /** An untimed call (set-up, warm-up) that is still traced. */
  def untimed[T](label: String)(body: => T): T = {
    val id = nextRequest
    nextRequest += 1
    tracer.span(s"untimed.$label", id)(body)
  }

  /** A call into one program layer, named `<layer>.<op>`. `results` is Q·k
    * for searches (the base of rows_per_result), else 0.
    */
  def layer[T](op: String, results: Long = 0L)(body: => T): T =
    tracer.span(op, nextRequest - 1, results)(body)

  /** Count one operation whose output checks gave `problems`. */
  def outcome(what: String, problems: Seq[String]): Unit = {
    attempted += 1
    if (problems.nonEmpty) {
      failed += 1
      failures += s"$what: ${problems.take(3).mkString("; ")}"
    }
  }

  def gauge(name: String, value: Double): Unit =
    gaugeVals.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += value

  def gauges: Map[String, Seq[Double]] =
    gaugeVals.map { case (k, v) => k -> v.toSeq }.toMap

  def samples(kind: String): Seq[Double] =
    latencies.get(kind).fold(Seq.empty[Double])(_.toSeq)

  def kinds: Seq[String] = latencies.keys.toSeq

  /** Median traced ÷ median untraced latency − 1, over those of `kinds`
    * that ran both ways (median across types); 0 when none did.
    */
  def traceOverhead(kinds: Seq[String]): Double = {
    val ratios = kinds.filter(tracedLat.contains).flatMap { k =>
      untracedLat.get(k).filter(_.nonEmpty).map(u =>
        Stats.median(tracedLat(k).toSeq) / Stats.median(u.toSeq))
    }
    if (ratios.isEmpty) 0.0 else Stats.median(ratios) - 1.0
  }
}
