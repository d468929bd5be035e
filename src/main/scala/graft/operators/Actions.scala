package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit}

/** One-action fan-in for control-plane gauge scalars (optimization round
  * 17, guide §2.6 "overlap independent jobs" + §1.2 "remove passes").
  *
  * The lifecycle gates end in a handful of independent scalar checks —
  * a vector count here, an orphan count there, a recall numerator and
  * denominator — each of which was its own sequential `count()` /
  * `head` action: N rounds of driver-side planning + N tiny jobs, with
  * the 32-core executor idle between them (at fixture scale each job is
  * milliseconds of compute inside ~100 ms of per-action overhead).
  * Folding them into ONE union-of-aggregates action keeps the results
  * bit-identical while planning once and letting the independent
  * subtrees execute as parallel stages of a single job.
  *
  * Each input frame must be a single-row aggregate; its FIRST column is
  * the gauge value (cast to double — counts and maxima fit exactly up
  * to 2^53, far past any fixture gauge). A null aggregate (e.g. max()
  * over an empty frame) surfaces as Double.NaN so callers can keep
  * their empty-input behavior explicit.
  */
private[graft] object Actions {
  // small fixed pool for overlapping INDEPENDENT driver-side work
  // (plan construction with embedded control-plane collects, per-shard
  // legs): Spark's scheduler runs concurrent jobs FIFO and back-fills
  // executor slots (guide §2.6) — 2-4 in flight is plenty, and the pool
  // is shared/daemonized so no per-call thread churn
  private lazy val pool =
    java.util.concurrent.Executors.newFixedThreadPool(4,
      (r: Runnable) => {
        val t = new Thread(r, "graft-par")
        t.setDaemon(true)
        t
      })

  /** Run independent thunks concurrently, returning results in input
    * order (so downstream unions stay deterministic). Each thunk may
    * construct plans AND run Spark actions; exceptions propagate.
    */
  def par[A](thunks: Seq[() => A]): Seq[A] = {
    if (thunks.lengthCompare(2) < 0) return thunks.map(_())
    // nested par would deadlock: the fixed pool's threads would block in
    // invokeAll on tasks queued behind themselves. No current call site
    // nests (r17 audit) — fail fast if a future one does, instead of
    // hanging the driver.
    require(!Thread.currentThread().getName.startsWith("graft-par"),
      "Actions.par must not be called from inside an Actions.par thunk " +
        "(fixed-pool self-deadlock); run the inner legs inline")
    import scala.jdk.CollectionConverters._
    val futures = pool.invokeAll(
      thunks.map(t => new java.util.concurrent.Callable[A] {
        override def call(): A = t()
      }).asJava)
    futures.asScala.map(_.get()).toSeq
  }

  def gauges(pairs: (String, DataFrame)*): Map[String, Double] = {
    require(pairs.nonEmpty, "gauges: at least one frame")
    // duplicate names would silently collapse in toMap below and a check
    // would vanish — make the contract structural
    require(pairs.map(_._1).distinct.size == pairs.size,
      s"gauges: duplicate gauge names in ${pairs.map(_._1).mkString(", ")}")
    val unioned = pairs.map { case (name, df) =>
      df.select(lit(name).as("gauge"),
        col(df.columns.head).cast("double").as("value"))
    }.reduce(_ unionAll _)
    unioned.collect().map { r =>
      r.getString(0) -> (if (r.isNullAt(1)) Double.NaN else r.getDouble(1))
    }.toMap
  }

  /** The recall numerator as a one-row gauge frame: how many of the
    * exact (query_id, id) pairs the approximate answer also returned.
    */
  def hits(exact: DataFrame, approx: DataFrame): DataFrame =
    exact.join(approx.select(col("query_id"), col("id")),
      Seq("query_id", "id"), "left_semi").agg(count(lit(1)))

  /** One invariant of a zero-row gate: it becomes an
    * (invariant, expected, actual) row when `failed`.
    */
  final case class Check(failed: Boolean, invariant: String,
                         expected: Double, actual: Double)

  /** `actual` must equal `expected` (counts, diffs, version ids). */
  def exactly(invariant: String, expected: Long, actual: Long): Check =
    Check(actual != expected, invariant, expected.toDouble, actual.toDouble)

  /** `actual` must not exceed `bound`. */
  def atMost(invariant: String, bound: Long, actual: Long): Check =
    Check(actual > bound, invariant, bound.toDouble, actual.toDouble)

  /** `actual` must reach `floor` (recalls); both sides are reported
    * rounded to 4 places.
    */
  def atLeast(invariant: String, floor: Double, actual: Double): Check =
    Check(actual < floor, invariant, r4(floor), r4(actual))

  /** A yes/no invariant, reported as expected 1, actual 0 when it fails. */
  def holds(invariant: String, ok: Boolean): Check =
    Check(!ok, invariant, 1.0, if (ok) 1.0 else 0.0)

  private def r4(x: Double): Double = math.round(x * 10000.0) / 10000.0

  /** Every check as a row, failed or not — a gate's persisted one-shot
    * outcome, filtered to its failures when read back.
    */
  def checkRows(spark: SparkSession, checks: Seq[Check]): DataFrame = {
    import spark.implicits._
    checks.map(c => (c.invariant, c.expected, c.actual))
      .toDF("invariant", "expected", "actual")
  }

  /** The zero-row gate result: one row per failed check, ordered by
    * invariant. Zero rows is the passing state.
    */
  def violations(spark: SparkSession, checks: Check*): DataFrame =
    checkRows(spark, checks.filter(_.failed)).orderBy("invariant")
}
