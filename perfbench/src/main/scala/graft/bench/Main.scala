package graft.bench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM entry point (launched by `perfbench/run.py`).
  *
  * {{{
  * graft.bench.Main --workload vector|dedup --seed N --seconds S
  *                  --trace 0|1 --root DIR [--commit C] [--trace-out F]
  * }}}
  *
  * Prints two lines on stdout: a detail record (every named metric of the
  * workload, the effective config and any failed check), then the result
  * line with `correct`, `attempted`, `failed` and `metrics` — end-to-end
  * metrics untraced, per-layer metrics traced. Exits 1 when any check
  * failed.
  */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, root: String, commit: String,
                        traceOut: Option[String])

  /** What a workload reports besides its request latencies.
    * `overheadKinds` are the request types whose repeats do the same work,
    * so their traced and untraced halves give the tracing overhead.
    */
  final case class Summary(itemsPerS: Double, quality: Double,
                           detail: Seq[(String, String)],
                           overheadKinds: Seq[String])

  val Workloads: Map[String, (Run => Summary, Seq[(String, String)])] = Map(
    "vector" -> ((VectorLoad.run _), VectorLoad.config),
    "dedup" -> ((DedupLoad.run _), DedupLoad.config))

  /** Per-layer ops: one span name each, `<layer>.<op>`. */
  val Ops: Seq[String] = Seq(
    "VectorSearch.knn",
    "AnnSearch.ivf.build", "AnnSearch.ivf.search",
    "AnnSearch.ivf.search_bulk", "AnnSearch.ivf.append",
    "AnnSearch.ivf.delete", "AnnSearch.ivf.version_search",
    "AnnSearch.ivf.compact",
    "GraphAnn.build", "GraphAnn.append", "GraphAnn.delete",
    "GraphAnn.version_search", "GraphAnn.compact",
    "Dedup.keep_best")

  /** Search families → the ops whose spans feed rows_per_result. */
  val Families: Seq[(String, Seq[String])] = Seq(
    "VectorSearch.knn" -> Seq("VectorSearch.knn"),
    "AnnSearch.ivf" -> Seq("AnnSearch.ivf.search",
      "AnnSearch.ivf.search_bulk", "AnnSearch.ivf.version_search"),
    "GraphAnn" -> Seq("GraphAnn.version_search"))

  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Bytes of all regular files under `path` (0 when absent). */
  def dirBytes(path: String): Long = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .map(java.nio.file.Files.size).sum
      finally s.close()
    }
  }

  /** Bytes under the run's index root: the program's `graft_index_*`
    * dirs in the JVM temp dir plus the version dirs the benchmark names.
    */
  def indexBytes(run: Run): Double = {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    val index = Option(tmp.listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("graft_index_"))
    (index.map(f => dirBytes(f.getPath)).sum +
      dirBytes(s"${run.opts.root}/versions")).toDouble
  }

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    Opts(need("--workload"), need("--seed").toLong,
      need("--seconds").toDouble, need("--trace") == "1", need("--root"),
      m.getOrElse("--commit", "unknown"), m.get("--trace-out"))
  }

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    val (workload, workloadConfig) = Workloads.getOrElse(opts.workload,
      throw new IllegalArgumentException(s"unknown workload ${opts.workload}"))
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${opts.workload}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${opts.root}/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tracer = new Tracer(spark, opts.trace)
    val run = new Run(spark, opts, tracer)
    val summary =
      try Some(workload(run))
      catch {
        case e: Throwable =>
          e.printStackTrace()
          run.outcome("workload", Seq(s"aborted: $e"))
          None
      }
    tracer.drain()
    val correct = summary.isDefined && run.failed == 0
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val setupS = (run.timedStartMs - jvmStart) / 1e3
    val mixS = run.kinds.map(k => Stats.median(run.samples(k))).sum

    val config = Seq(
      "workload" -> Json.str(opts.workload),
      "seed" -> Json.num(opts.seed), "seconds" -> Json.num(opts.seconds),
      "trace" -> Json.num(if (opts.trace) 1L else 0L),
      "master" -> Json.str(spark.sparkContext.master),
      "driver_heap_bytes" -> Json.num(Runtime.getRuntime.maxMemory),
      "spark" -> Json.str(spark.version),
      "java" -> Json.str(System.getProperty("java.version")),
      "commit" -> Json.str(opts.commit)) ++ workloadConfig
    val requests = run.kinds.map(k => k -> Json.obj(Seq(
      "n" -> Json.num(run.samples(k).length.toLong),
      "p50_s" -> Json.num(Stats.median(run.samples(k))))))
    println(Json.obj(Seq("detail" -> Json.obj(
      summary.fold(Seq.empty[(String, String)])(_.detail) ++ Seq(
        "setup_s" -> Json.num(setupS),
        "error_rate" -> Json.num(
          run.failed.toDouble / math.max(1L, run.attempted)),
        "requests" -> Json.obj(requests),
        "config" -> Json.obj(config),
        "failed_checks" -> Json.arr(run.failures.toSeq.map(Json.str)))))))

    val metrics: Seq[(String, Double, String)] =
      if (!opts.trace) Seq(
        ("setup_s", setupS, "s"),
        ("mix_p50_s", mixS, "s"),
        ("items_per_s", summary.fold(0.0)(_.itemsPerS), "1/s"),
        ("quality", summary.fold(0.0)(_.quality), "ratio"))
      else layerMetrics(run,
        summary.fold(Seq.empty[String])(_.overheadKinds))
    opts.traceOut.foreach { f =>
      java.nio.file.Files.write(java.nio.file.Paths.get(f),
        tracer.jsonLines.asJava)
    }
    println(Json.obj(Seq(
      "correct" -> (if (correct) "true" else "false"),
      "attempted" -> Json.num(run.attempted),
      "failed" -> Json.num(run.failed),
      "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      }))))
    System.out.flush()
    spark.stop()
    sys.exit(if (correct) 0 else 1)
  }

  /** Per-layer metrics from the traced run: per-call means per op, the
    * rows-per-result ratios, index-store gauges and run-level gauges.
    */
  def layerMetrics(run: Run,
                   overheadKinds: Seq[String]): Seq[(String, Double, String)] = {
    val byName = run.tracer.all.groupBy(_.name)
    def mean(op: String)(f: Tracer.Span => Double): Double =
      byName.get(op).fold(0.0)(ss => Stats.mean(ss.map(f)))
    val perOp = Ops.flatMap { op =>
      val m = mean(op) _
      Seq(
        (s"$op.wall_s", m(_.wallNs / 1e9), "s"),
        (s"$op.jobs", m(_.jobs.toDouble), "count"),
        (s"$op.tasks", m(_.tasks.toDouble), "count"),
        (s"$op.driver_only_s", m(_.driverOnlyS), "s"),
        (s"$op.executor_cpu_s", m(_.cpuNs / 1e9), "s"),
        (s"$op.shuffle_bytes", m(_.shuffleBytes.toDouble), "bytes"),
        (s"$op.io_bytes", m(_.ioBytes.toDouble), "bytes"))
    }
    val rowsPerResult = Families.map { case (fam, ops) =>
      val ss = ops.flatMap(byName.getOrElse(_, Seq.empty))
      val results = ss.map(_.results).sum
      (s"$fam.rows_per_result",
        if (results == 0) 0.0 else ss.map(_.inputRecords).sum.toDouble / results,
        "ratio")
    }
    val g = run.gauges
    def gaugeMean(n: String) = g.get(n).fold(0.0)(Stats.mean)
    def gaugeSum(n: String) = g.get(n).fold(0.0)(_.sum)
    rowsPerResult ++ perOp ++ Seq(
      ("IndexStore.ivf.segments", gaugeMean("IndexStore.ivf.segments"),
        "count"),
      ("IndexStore.graph.segments", gaugeMean("IndexStore.graph.segments"),
        "count"),
      ("IndexStore.tombstone_fraction",
        gaugeMean("IndexStore.tombstone_fraction"), "ratio"),
      ("IndexStore.bytes_stored", indexBytes(run), "bytes"),
      ("bench.gen_s", gaugeSum("bench.gen_s"), "s"),
      ("bench.warmup_s", gaugeSum("bench.warmup_s"), "s"),
      ("jvm.gc_s", run.gcSinceTimedStart, "s"),
      ("bench.trace_overhead", run.traceOverhead(overheadKinds), "ratio"))
  }
}
