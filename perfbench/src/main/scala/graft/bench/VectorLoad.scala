package graft.bench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{broadcast, col}

import graft.functions.VectorOps.squaredL2
import graft.operators.{AnnSearch, GraphAnn, VectorSearch}
import graft.sources.IndexStore

/** The `vector` workload: the search service's read path on committed
  * indexes, then its versioned add/remove lifecycle on both index
  * families.
  *
  * Set-up writes two corpora, builds the IVF index over the search corpus
  * and the NN-descent graph over the smaller graph corpus, and warms the
  * exact, IVF and bulk search paths. The graph search path has no
  * warm-up request of its own: the graph append, which runs first, drives
  * its whole batch through the same beam search.
  *
  * Search phase: a fresh 16-query batch, k = 10, on exact search and on
  * IVF, then a fresh 2,048-query IVF batch, which is above
  * `AnnSearch.JoinProbeQueryThreshold` and takes the joined-probe plan.
  * No query batch repeats, so no query-keyed memo can serve one.
  *
  * Lifecycle phase, once per family (IVF, then graph): append a batch,
  * delete a batch, and search the newest version with the appended
  * vectors and the deleted ones as queries; then compact. IVF also
  * re-reads the base version as of before the writes and searches the
  * compacted version. The graph skips those two reads because each graph
  * search costs about 30 Spark jobs and the run has a fixed time budget.
  */
object VectorLoad {
  val Dim = 64
  val K = 10
  val SmallQ = 16
  val BulkQ = 2048
  /** The bulk warm-up batch: above the joined-probe threshold too, so it
    * warms the same plan, and smaller to keep set-up short.
    */
  val WarmBulkQ = 1100
  val SearchN = 3000
  /** The graph corpus is smaller: NN-descent build cost is per Spark job
    * and per descent round, so a few thousand rows already exercise it.
    */
  val GraphN = 500
  val AppendN = 100
  val DeleteN = 25
  /** Bulk queries whose recall is checked against exact truth. */
  val BulkTruthQ = 128
  /** Recall floors per request type: the mean over the run's searches of
    * that type, warm-ups included (one timed small batch is 16 queries).
    */
  val RecallFloor = Map("ann" -> 0.8, "bulk" -> 0.8,
    "ivf_version_search" -> 0.8, "graph_version_search" -> 0.8)
  /** Search-phase rounds run even when `--seconds` has passed; a traced
    * run makes two, one traced and one not, for the tracing overhead.
    */
  val MinRounds = 1
  /** First id of the graph corpus; its append batch follows it. */
  val GraphIds = 1L << 30

  def config: Seq[(String, String)] = Seq(
    "dim" -> Json.num(Dim), "k" -> Json.num(K),
    "small_queries" -> Json.num(SmallQ), "bulk_queries" -> Json.num(BulkQ),
    "search_corpus" -> Json.num(SearchN),
    "graph_corpus" -> Json.num(GraphN),
    "append_batch" -> Json.num(AppendN), "delete_batch" -> Json.num(DeleteN))

  def run(r: Run): Main.Summary = new VectorLoad(r).run()

  /** What one index version holds: corpus parts and deleted ids. */
  final case class Live(parts: Seq[Gen.Vectors], dead: Set[Long]) {
    lazy val byId: Map[Long, Array[Double]] =
      parts.flatMap(p => p.ids.indices.map(i => p.ids(i) -> p.normed(i)))
        .toMap
  }

  /** One index family's seams, by the names its spans and request types
    * use: `<layer>.<op>` spans, `<name>_<op>` request types.
    */
  final case class Family(
      name: String, layer: String, segmentKind: String,
      search: (String, DataFrame, Int) => DataFrame,
      append: (String, DataFrame, String) => Unit,
      delete: (String, DataFrame, String) => Unit,
      compact: (String, String) => Unit)
}

private final class VectorLoad(r: Run) {
  import VectorLoad._
  private val spark = r.spark
  import spark.implicits._
  private val src = new Gen.VectorSource(r.opts.seed, Dim)
  private val vDir = s"${r.opts.root}/versions"
  private var nextStream = 1000L
  private var nextQid = 1L << 40
  private val recalls = mutable.LinkedHashMap.empty[String,
    mutable.ArrayBuffer[Double]]
  private var bulkQueries = 0L
  private var bulkSeconds = 0.0

  private def freshQueries(n: Int): Gen.Vectors = {
    val q = src.draw(nextStream, nextQid, n)
    nextStream += 1
    nextQid += n
    q
  }

  /** The first `n` rows of `v` as queries with fresh ids. */
  private def asQueries(v: Gen.Vectors, n: Int): Gen.Vectors = {
    val q = v.take(n).copy(ids = Array.tabulate(n)(nextQid + _))
    nextQid += n
    q
  }

  /** One search request of type `kind` through layer op `op`, checked
    * against the exact truth over `live`; untimed when `warm`.
    */
  private def search(kind: String, op: String, live: Live, q: Gen.Vectors,
                     warm: Boolean, exact: Boolean = false,
                     truthRows: Int = -1)(call: => DataFrame): Array[Row] = {
    val nTruth = if (truthRows < 0) q.size else truthRows
    val truth = Gen.exactTopK(live.parts,
      (p, i) => !live.dead(live.parts(p).ids(i)), q.normed.take(nTruth), K)
    val t0 = System.nanoTime()
    def body = r.layer(op, q.size.toLong * K)(call.collect())
    val rows = if (warm) r.tracer.untraced(body) else r.request(kind)(body)
    val dt = (System.nanoTime() - t0) / 1e9
    val (problems, rec) = Checks.search(Checks.hits(rows), q, K, truth,
      live.byId.get, live.dead, exact, nTruth)
    r.outcome(s"$kind search", problems)
    if (!exact)
      recalls.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += rec
    if (!warm && kind == "bulk") {
      bulkQueries += q.size
      bulkSeconds += dt
    }
    rows
  }

  def run(): Main.Summary = {
    // ---- set-up: inputs, committed indexes, warm-up ---------------------
    val g0 = System.nanoTime()
    val sDir = s"${r.opts.root}/data/search"
    val gDir = s"${r.opts.root}/data/graph"
    val corpus = src.draw(1, 0L, SearchN)
    val batch = src.draw(2, SearchN.toLong, AppendN)
    val gCorpus = src.draw(3, GraphIds, GraphN)
    val gBatch = src.draw(4, GraphIds + GraphN, AppendN)
    Gen.writeVectors(spark, sDir, corpus)
    Gen.writeVectors(spark, gDir, gCorpus)
    r.gauge("bench.gen_s", (System.nanoTime() - g0) / 1e9)

    val b0 = System.nanoTime()
    val ivfDir = r.untimed("build") {
      r.layer("AnnSearch.ivf.build")(AnnSearch.buildIvfIndex(spark, sDir))
    }
    val graphDir = r.untimed("build") {
      r.layer("GraphAnn.build")(GraphAnn.buildGraphIndex(spark, gDir))
    }
    val buildS = (System.nanoTime() - b0) / 1e9
    val nProbe = AnnSearch.autoProbe(AnnSearch.autoClusters(SearchN))
    val deg = GraphAnn.autoDegree(GraphN)

    val ivf = Family("ivf", "AnnSearch.ivf", "vectors",
      (dir, qdf, nq) =>
        AnnSearch.searchIndexAt(spark, dir, qdf, K, nProbe, nq.toLong),
      AnnSearch.appendToIvfIndexAt(spark, _, _, _),
      AnnSearch.deleteFromIvfIndexAt(spark, _, _, _),
      AnnSearch.compactIvfTo(spark, _, _))
    val graph = Family("graph", "GraphAnn", "graph",
      (dir, qdf, nq) =>
        GraphAnn.graphSearchAt(spark, dir, qdf, K,
          GraphAnn.autoEf(GraphN), GraphAnn.autoHops(GraphN, deg), nq.toLong),
      GraphAnn.appendToGraphIndexAt(spark, _, _, _),
      GraphAnn.deleteFromGraphIndex(spark, _, _, _),
      GraphAnn.compactGraphTo(spark, _, _))

    val searchLive = Live(Seq(corpus), Set.empty)
    /** Exact search: the plan of `VectorSearch.knnSearch` over a fresh
      * query frame (the program's entry point picks its queries from the
      * corpus itself), built from the program's own `normalized`,
      * `squaredL2` and `topK`.
      */
    def knn(warm: Boolean) = {
      val q = freshQueries(SmallQ)
      val qdf = Checks.queryFrame(spark, q).withColumnRenamed("qu", "qv")
      search("knn", "VectorSearch.knn", searchLive, q, warm, exact = true) {
        VectorSearch.topK(VectorSearch.normalized(spark, sDir)
          .join(broadcast(qdf), col("vec_id") =!= col("query_id"))
          .select(col("query_id"), col("vec_id").as("id"),
            squaredL2(col("qv"), col("v")).as("dist")), K)
      }
    }
    def annSearch(f: Family, kind: String, op: String, dir: String,
                  live: Live, q: Gen.Vectors, warm: Boolean,
                  truthRows: Int = -1) =
      search(kind, op, live, q, warm, truthRows = truthRows)(
        f.search(dir, Checks.queryFrame(spark, q), q.size))
    def ann(q: Gen.Vectors, warm: Boolean) =
      annSearch(ivf, "ann", "AnnSearch.ivf.search", ivfDir, searchLive, q,
        warm)
    def bulk(warm: Boolean) =
      annSearch(ivf, "bulk", "AnnSearch.ivf.search_bulk", ivfDir,
        searchLive, freshQueries(if (warm) WarmBulkQ else BulkQ), warm,
        truthRows = BulkTruthQ)

    val w0 = System.nanoTime()
    knn(warm = true)
    val ivfAsOfQ = freshQueries(SmallQ)
    val ivfAsOf = ann(ivfAsOfQ, warm = true)
    bulk(warm = true)
    r.gauge("bench.warmup_s", (System.nanoTime() - w0) / 1e9)

    // ---- timed: search phase ---------------------------------------------
    var rounds = 0
    val minRounds = if (r.tracer.enabled) 2 else MinRounds
    while (rounds < minRounds || r.elapsedS < r.opts.seconds) {
      knn(warm = false)
      ann(freshQueries(SmallQ), warm = false)
      bulk(warm = false)
      rounds += 1
    }

    // ---- timed: lifecycle phase, per family ------------------------------
    val dels = Seq(
      lifecycle(ivf, ivfDir, corpus, batch, Some((ivfAsOfQ, ivfAsOf))),
      lifecycle(graph, graphDir, gCorpus, gBatch, None))
    val ingested = 2L * AppendN * (8 + 4 * Dim) + dels.sum * 8L
    val writeAmp = Main.dirBytes(vDir).toDouble / ingested

    // ---- run-level checks ----------------------------------------------
    val meanRecall = recalls.map { case (f, xs) => f -> Stats.mean(xs.toSeq) }
    RecallFloor.foreach { case (f, floor) =>
      val m = meanRecall.getOrElse(f, 0.0)
      r.outcome(s"$f mean recall@$K", if (m >= floor) Nil
        else Seq(f"$m%.4f below floor $floor"))
    }
    val annRecall = Stats.mean(meanRecall.values.toSeq)
    val bulkQps = bulkQueries / bulkSeconds
    def p50(kinds: String*): Double =
      Stats.median(kinds.flatMap(r.samples))
    val smallLat = Seq("knn", "ann").flatMap(r.samples)
    val tail = Stats.tail(smallLat)
    val types = Seq("ivf", "graph")
    Main.Summary(
      itemsPerS = bulkQps,
      quality = annRecall,
      detail = Seq(
        "knn_p50_s" -> Json.num(p50("knn")),
        "ann_p50_s" -> Json.num(p50("ann")),
        "search_tail_s" -> Json.num(tail.fold(Double.NaN)(_._2)),
        "search_tail_percentile" -> Json.num(tail.fold(Double.NaN)(_._1)),
        "search_tail_samples" -> Json.num(smallLat.length.toLong),
        "bulk_qps" -> Json.num(bulkQps),
        "recall_at_10" -> Json.num(annRecall),
        "recall_by_type" -> Json.obj(meanRecall.toSeq.map {
          case (f, x) => f -> Json.num(x) }),
        "build_s" -> Json.num(buildS),
        "append_p50_s" -> Json.num(p50(types.map(_ + "_append"): _*)),
        "delete_p50_s" -> Json.num(p50(types.map(_ + "_delete"): _*)),
        "version_search_p50_s" ->
          Json.num(p50(types.map(_ + "_version_search"): _*)),
        "compact_s" ->
          Json.num(types.flatMap(t => r.samples(t + "_compact")).sum),
        "write_amp" -> Json.num(writeAmp)),
      overheadKinds = Seq("knn", "ann", "bulk"))
  }

  /** Append, delete and compaction on one family, with one checked
    * search of the version the delete made. Given `asOf` (queries and the
    * base version's rows for them before any write), the base version is
    * re-read and the compacted version searched too. Returns the number of
    * deleted ids.
    */
  private def lifecycle(f: Family, base: String, corpus: Gen.Vectors,
                        batch: Gen.Vectors,
                        asOf: Option[(Gen.Vectors, Array[Row])]): Int = {
    val op = (s: String) => s"${f.layer}.$s"
    val kind = (s: String) => s"${f.name}_$s"
    def version(dir: String, live: Live, q: Gen.Vectors) =
      search(kind("version_search"), op("version_search"), live, q,
        warm = false)(f.search(dir, Checks.queryFrame(spark, q), q.size))

    // append a batch
    val v1 = s"$vDir/${f.name}-1"
    r.request(kind("append")) {
      r.layer(op("append"))(f.append(base, Gen.batchFrame(spark, batch), v1))
    }

    // delete base and appended ids (not the first SmallQ appended, which
    // are queries below)
    val pick = new java.util.SplittableRandom(r.opts.seed + 99L)
    val delIx = Iterator.continually(pick.nextInt(corpus.size)).distinct
      .take(DeleteN - 5).toArray
    val del = Gen.Vectors(delIx.map(corpus.ids) ++ batch.ids.takeRight(5),
      delIx.map(corpus.rows) ++ batch.rows.takeRight(5),
      delIx.map(corpus.labels) ++ batch.labels.takeRight(5))
    val delQ = asQueries(del, del.size)
    val v2 = s"$vDir/${f.name}-2"
    val live2 = Live(Seq(corpus, batch), del.ids.toSet)
    r.request(kind("delete")) {
      r.layer(op("delete"))(
        f.delete(v1, del.ids.toSeq.toDF("vec_id"), v2))
    }

    // search the newest version: every appended vector must be the first
    // hit for its own query, and with the deleted vectors as queries the
    // deleted ids are the likeliest wrong answers
    val ownQ = asQueries(batch, SmallQ)
    val got = Checks.hits(version(v2, live2, ownQ ++ delQ))
    r.outcome(s"${f.name} appended vectors found by their own query",
      ownQ.ids.indices.filterNot(i =>
        got.get(ownQ.ids(i)).flatMap(_.headOption)
          .exists(_.id == batch.ids(i)))
        .map(i => s"vector ${batch.ids(i)} not first for its query"))

    // an as-of read of the base version returns what it returned before
    // the writes
    asOf.foreach { case (asOfQ, before) =>
      val now = version(base, Live(Seq(corpus), Set.empty), asOfQ)
      r.outcome(s"${f.name} as-of search of the base version is stable",
        if (now.map(_.toString).sorted.sameElements(
              before.map(_.toString).sorted)) Nil
        else Seq("rows differ from the search before the writes"))
    }

    // compact; search the compacted version with the deleted vectors again
    val vc = s"$vDir/${f.name}-compact"
    r.request(kind("compact")) {
      r.layer(op("compact"))(f.compact(v2, vc))
    }
    if (asOf.isDefined) version(vc, live2, delQ)
    Seq(v1, v2, vc).foreach(storeGauges(f, _))
    del.size
  }

  /** Segment count and tombstone share of one version, from its manifest
    * (traced runs only; the reads run outside every span).
    */
  private def storeGauges(f: Family, dir: String): Unit =
    if (r.tracer.enabled) r.tracer.untraced {
      val man =
        if (IndexStore.committed(s"$dir/manifest"))
          IndexStore.readManifest(spark, dir)
        else Seq.empty
      def segments(kind: String): Seq[String] =
        if (man.isEmpty) Seq(s"$dir/$kind")
        else IndexStore.manifestSegments(man, kind)
      r.gauge(s"IndexStore.${f.name}.segments",
        segments(f.segmentKind).length.toDouble)
      def rows(paths: Seq[String]): Long =
        paths.map(p => spark.read.parquet(p).count()).sum
      r.gauge("IndexStore.tombstone_fraction",
        rows(IndexStore.manifestSegments(man, "tombstones")).toDouble /
          math.max(1L, rows(segments("vectors"))))
    }
}
