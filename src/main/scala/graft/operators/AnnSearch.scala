package graft.operators

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.feature.BucketedRandomProjectionLSH
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.VectorOps._
import graft.sources.IndexStore

/** Approximate nearest-neighbor search — the scale path for the flagship
  * k-NN (the reference's HNSW index, `main.py:60-62`, answers the same
  * query approximately; HNSW graphs don't distribute, so the Spark-native
  * analogs are LSH bucketing and IVF coarse quantization).
  *
  *  - LSH: `BucketedRandomProjectionLSH` (random hyperplane projections,
  *    Euclidean — the right metric since the reference L2-normalizes). At
  *    100 TB: candidates come from equi-joins on hash buckets; no all-pairs.
  *  - IVF: k-means coarse quantizer; vectors are partitioned by nearest
  *    centroid, queries probe the nprobe nearest partitions — Spark-native
  *    "partition pruning as index" (SURVEY.md §4.2). At 100 TB the cluster
  *    id becomes the physical partition/bucket key, so a probe touches
  *    nprobe/k of the data.
  *
  * Neither is SQL-expressible → no DuckDB oracle; correctness is gauged by
  * recall against the exact [[VectorSearch.knnSearch]] (see `ann_recall`
  * and the spec).
  */
object AnnSearch {

  /** IVF hyper-parameter auto-sizing. Every entry point takes explicit
    * overrides; 0 (the default) derives from the indexed table's size:
    *
    *  - nClusters ≈ √n (the FAISS nlist guideline): keeps BOTH the
    *    per-cluster scan (n/nlist rows) and the probe's centroid table
    *    (nlist rows) at O(√n), so neither side degenerates as n grows.
    *    Fixture n=500 → 22; at 10⁹ vectors → ~31.6k. Clamped to
    *    [4, 65536]: above ~65k hive partition dirs, file-listing cost
    *    dominates and the layout should move to hierarchical/bucketed
    *    partition keys (see SCALING.md).
    *  - nProbe = ⌈3/8 · nClusters⌉ at fixture scale — the probe FRACTION,
    *    not the count, is what fixes the recall point, so the default
    *    preserves the measured 16-cluster/6-probe operating point. (At
    *    true 100 TB scale operators tune this down: recall-per-probe
    *    rises with cluster count.)
    */
  private[graft] def autoClusters(n: Long): Int =
    math.max(4, math.min(65536, math.round(math.sqrt(n.toDouble)).toInt))

  private[graft] def autoProbe(nClusters: Int): Int =
    math.max(1, (nClusters * 3 + 7) / 8)

  /** Per-SparkSession-INSTANCE cache-key component for the DataFrame
    * caches (recall frame, exact pairs, curve, the graph family's
    * append truth): a checkpointed DataFrame pins the session that
    * created it, so a stop-and-recreate of the session in the same JVM
    * must MISS rather than serve a dead handle. Identity-keyed weak map
    * (not hashCode — two live sessions can collide on hash), entries
    * released with the session.
    */
  private val sessionIds =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, String]())
  private[graft] def sessionKey(spark: SparkSession): String =
    sessionIds.computeIfAbsent(spark,
      _ => java.util.UUID.randomUUID().toString)

  /** Table-size cache for auto-sizing: one count job per (fixture dir,
    * table) per JVM — every default-parameter query would otherwise
    * re-count the LARGEST table just to re-derive the name of an
    * already-built index. Safe because a regenerated fixture invalidates
    * via [[IndexStore.indexDir]]'s source fingerprint, not via this
    * count.
    */
  private val countCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private[graft] def tableCount(spark: SparkSession, sfDir: String,
                                table: String): Long =
    countCache.computeIfAbsent(s"$sfDir#$table",
      _ => Tables.load(spark, sfDir, table).count()).longValue()
  private[graft] def embeddingCount(spark: SparkSession,
                                    sfDir: String): Long =
    tableCount(spark, sfDir, "embeddings")

  private def resolveClusters(spark: SparkSession, sfDir: String,
                              nClusters: Int): Int =
    if (nClusters > 0) nClusters
    else autoClusters(embeddingCount(spark, sfDir))

  private def resolveProbe(nClusters: Int, nProbe: Int): Int =
    if (nProbe > 0) nProbe else autoProbe(nClusters)

  private def normalizedVec(spark: SparkSession, sfDir: String): DataFrame =
    VectorSearch.normalized(spark, sfDir)
      .select(col("vec_id"), array_to_vector(col("v")).as("features"),
        col("v"))

  /** Approximate top-k via LSH similarity join + per-query ranking. */
  def lshKnn(spark: SparkSession, sfDir: String,
             nQueries: Int = 10, k: Int = 10): DataFrame = {
    // no .cache(): these frames are small and caching here would pin a
    // copy per call for the session lifetime (no unpersist hook before
    // the caller's action)
    val data = normalizedVec(spark, sfDir)
    val queries = data.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("features"))
    val lsh = new BucketedRandomProjectionLSH()
      .setBucketLength(0.8)
      .setNumHashTables(6)
      .setSeed(42L)
      .setInputCol("features")
      .setOutputCol("hashes")
    val model = lsh.fit(data)
    val joined = model.approxSimilarityJoin(
        model.transform(queries), model.transform(data), 2.0, "dist")
      .select(col("datasetA.query_id").as("query_id"),
        col("datasetB.vec_id").as("id"), col("dist"))
      .filter(col("query_id") =!= col("id"))
    val w = Window.partitionBy("query_id").orderBy(col("dist"), col("id"))
    joined.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("id"),
        round(col("dist") * col("dist"), 6).as("distance"), col("rn"))
      .orderBy("query_id", "rn")
  }

  /** Build (once) the persisted IVF index: fit the k-means coarse
    * quantizer, then write
    *  - `dir/centroids` — (cluster, center) parquet, k·d doubles, and
    *  - `dir/vectors` — the vector table PARTITIONED BY cluster id
    *    (hive-style directories), so a probe's `cluster IN (...)` filter
    *    becomes file-source partition pruning: only probed clusters' files
    *    are ever read.
    *
    * This is the Spark restatement of the reference's build-once index
    * (`main.py:55-63` load-or-init, `main.py:168-173` persist): the fit
    * runs in the build job, never in a query. (Directory partitioning is
    * chosen over writer bucketing because IVF wants partition PRUNING —
    * bucketing co-locates joins but prunes nothing.)
    */
  def buildIvfIndex(spark: SparkSession, sfDir: String,
                    nClusters: Int = 0): String = {
    val nc = resolveClusters(spark, sfDir, nClusters)
    val dir = IndexStore.indexDir(sfDir, s"ivf$nc-v1", "embeddings")
    buildIvfOver(spark, normalizedVec(spark, sfDir), nc, dir,
      knownN = embeddingCount(spark, sfDir))
    dir
  }

  /** The IVF build proper over an EXPLICIT normalized corpus
    * (vec_id, v [, features]) into an explicit dir — shared by the
    * fixture build and the REFIT path ([[ivfRefitViolations]]), so a
    * refit can never drift from the primary build in fit parameters or
    * layout.
    */
  /** FAISS-practice k-means TRAINING-SAMPLE bound
    * (`Clustering.max_points_per_centroid = 256`, faiss/Clustering.cpp):
    * fitting on more than ~256·k points adds cost, not centroid
    * quality, so a fit above the bound trains on a deterministic
    * hash-sample of ≈ that many rows while the assign/encode pass still
    * covers EVERY row. Without it the coarse-quantizer fit is a
    * 5-iteration k-means over the whole corpus — at the deep×wide point
    * (n=500k, d=2048, k=√n≈707) that is ~3.6·10¹² multiplies for
    * centroids a 181k-row sample determines just as well, and at 100 TB
    * it is the difference between a feasible training job and a fit
    * that scans the corpus five times.
    *
    * Determinism: the filter keys on `xxhash64(vec_id)` — a pure
    * function of the id — so the sample (and therefore the fit) is
    * reproducible at any partitioning or ingest order. Corpora at or
    * under the bound take stride 1 = the IDENTICAL full fit: every
    * committed fixture artifact keeps its bytes.
    */
  private[graft] def fitSample(data: DataFrame, n: Long, k: Int,
                               maxPerCentroid: Int = 256): DataFrame = {
    val target = math.max(1L, maxPerCentroid.toLong * k)
    val stride = math.max(1L, n / target)
    if (stride <= 1L) data
    else data.filter(pmod(xxhash64(col("vec_id")), lit(stride)) === 0)
  }

  /** `knownN`: the corpus row count when the CALLER already holds it
    * (a cached table count, a checkpointed union's count, or the
    * hash-balanced per-shard expectation ⌈n/K⌉ — hash-mod slices
    * deviate from it by O(√(n/K)), immaterial to [[fitSample]]'s
    * 256·k heuristic bound). −1 counts here; passing it saves one full
    * corpus scan per build — at a deep×wide corpus that scan is real
    * I/O spent only to size a sampling stride.
    */
  private[graft] def buildIvfOver(spark: SparkSession,
                                      corpus: DataFrame,
                                      nClusters: Int, dir: String,
                                      knownN: Long = -1L): Unit = {
    import spark.implicits._
    val data =
      if (corpus.columns.contains("features")) corpus
      else corpus.select(col("vec_id"),
        array_to_vector(col("v")).as("features"), col("v"))
    val km = new KMeans().setK(nClusters).setSeed(42L).setMaxIter(5)
      .setFeaturesCol("features").setPredictionCol("cluster")
    // fit on the sample bound, assign the full corpus below
    val n = if (knownN >= 0L) knownN else data.count()
    val model = km.fit(fitSample(data, n, nClusters))
    val centers = model.clusterCenters.zipWithIndex.map { case (c, i) =>
      (i, c.toArray.toSeq)
    }.toSeq
    IndexStore.saveDataset(centers.toDF("cluster", "center"),
      s"$dir/centroids")
    model.transform(data)
      .select(col("vec_id"), col("v"), col("cluster"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("cluster").parquet(s"$dir/vectors")
  }

  /** Probe strategy switch: below this many queries the probe is a
    * bounded collect (`isin` literals → static PartitionFilters — the
    * cheapest plan when the probe set is a few MB); above it the search
    * keeps the probe DISTRIBUTED and lets dynamic partition pruning do
    * the same file-level pruning ([[ivfSearchJoinedAt]]). What this
    * switch removes is the `isin`-literal COLLECT of Q·d doubles plus
    * Q·nprobe assignment rows (at d=2048 ~16 KB per query: 1024 queries
    * ≈ 16 MB fine, a 10⁶-query batch ~16 GB — a driver OOM). The joined
    * strategy still BROADCASTS the probe frame — which stages it through
    * the driver too — until [[BroadcastProbeByteLimit]], above which the
    * hint drops and the join shuffles; the two bounds together are what
    * make the claim "never stages Q·d doubles on the driver" true at any
    * Q. Same control-plane-count pattern as
    * [[graft.operators.Dedup.autoPairedBands]]: the safe-at-scale mode
    * engages automatically, not by opt-in.
    */
  private[graft] val JoinProbeQueryThreshold = 1024L

  /** Staging ceiling for BROADCASTING the probe side of the joined
    * strategy, in bytes of query-vector payload (Q·nprobe·d·8): a
    * broadcast exchange still collects the whole probe frame to the
    * driver and replicates it to every executor, so the joined strategy
    * alone only relocates the Q·d staging, it doesn't remove it. Above
    * this bound the hint is dropped and the probe-vector join plans as a
    * shuffle join: file-level pruning (DPP) is lost, but at that Q the
    * probe set touches essentially every cluster anyway — with
    * Q·nprobe ≫ k clusters there is nothing left to prune, and the
    * shuffle join is the plan a 10⁶-query batch needs to survive.
    * 1 GiB: comfortably under both the 8 GiB broadcast-relation cap and
    * a typical driver/executor memory share.
    */
  private[graft] val BroadcastProbeByteLimit = 1L << 30

  /** Vector dimensionality read from the tiny centroid table (one-row
    * control-plane read) — the joined strategy needs it to price the
    * probe payload against [[BroadcastProbeByteLimit]].
    */
  private def centroidDim(centersDf: DataFrame): Int =
    centersDf.select(col("center")).head.getSeq[Double](0).length

  /** The probe side of the joined strategy: broadcast while the staged
    * payload is bounded, shuffle once it isn't. `expectedQ = 0` means
    * "caller knows the probe is small" (fixture-forced plan tests) and
    * keeps the broadcast shape.
    */
  private def probeSide(probes: DataFrame, expectedQ: Long, nProbe: Int,
                        d: => Int): DataFrame =
    // compare by division so an enormous expectedQ cannot overflow the
    // product into a negative (which would silently keep the broadcast)
    if (expectedQ > 0 &&
        expectedQ > BroadcastProbeByteLimit /
          math.max(1L, nProbe.toLong * d * 8L)) probes
    else broadcast(probes)

  /** nprobe nearest centroids per query as a LAZY plan (tiny crossJoin:
    * Q × k centroids, k = O(√n)) — the ONE probe subplan both strategies
    * share, so probe tie-breaking ((cdist, cluster) window) can never
    * drift between the collected and joined paths or the IVF layouts.
    */
  private def probeFrame(queries: DataFrame, centersDf: DataFrame,
                         nProbe: Int): DataFrame =
    probeFrameRanked(queries, centersDf)
      .filter(col("cr") <= nProbe)
      .select(col("query_id"), col("qu"), col("cluster"))

  /** [[probeFrame]] WITHOUT the nprobe cut, keeping the per-query probe
    * rank `cr`: probe sets are NESTED in the rank (cr ≤ p ⊆ cr ≤ p′ for
    * p ≤ p′), which is what lets an operating-point sweep derive every
    * nprobe point from ONE materialized full-probe frame
    * ([[annRecallCurve]]).
    */
  private def probeFrameRanked(queries: DataFrame,
                               centersDf: DataFrame): DataFrame = {
    val wc = Window.partitionBy("query_id")
      .orderBy(col("cdist"), col("cluster"))
    queries.crossJoin(broadcast(centersDf))
      .withColumn("cdist", squaredL2(col("qu"), col("center")))
      .withColumn("cr", row_number().over(wc))
      .select(col("query_id"), col("qu"), col("cluster"), col("cr"))
  }

  /** nprobe nearest centroids per query, COLLECTED (the low-Q strategy).
    * The probe set (≤ Q·nprobe rows, Q·d doubles) is collected ONCE,
    * deliberately: the distinct cluster ids become `isin` literals — what
    * the parquet source turns into PartitionFilters, the file-level
    * pruning that makes a probe touch nprobe/k of a 100 TB index — and
    * the rows become the broadcast join side. This bounded collect IS the
    * index probe mechanism, not a driver-side compute loop; without it
    * the probe subplan would run twice (collect + lazy plan). Bounded by
    * [[JoinProbeQueryThreshold]] at the call sites — high-Q searches
    * never reach it.
    */
  private def probe(spark: SparkSession, queries: DataFrame,
                    centersDf: DataFrame,
                    nProbe: Int): (Seq[Int], DataFrame) = {
    import spark.implicits._
    val rows = probeAssignments(spark, queries, centersDf, nProbe)
    (rows.map(_._3).distinct.sorted.toIndexedSeq,
      rows.toDF("query_id", "qu", "cluster"))
  }

  /** The raw (query_id, query vector, probed cluster) assignment rows —
    * [[probe]]'s collect, exposed so [[annRecallCurve]] can price an
    * operating point (sum of probed cluster sizes) without a second
    * distributed job.
    */
  private def probeAssignments(spark: SparkSession, queries: DataFrame,
                               centersDf: DataFrame, nProbe: Int)
      : Seq[(Long, Seq[Double], Int)] = {
    // DRIVER-SIDE collect, Q·nProbe rows each carrying a d-dim query
    // vector: sound only below [[JoinProbeQueryThreshold]] — every
    // caller auto-switches to the joined-probe plan above it. The
    // guard is post-collect (a pre-count would add a job to every hot
    // probe), so it catches a misrouted moderately-large query frame
    // deterministically rather than letting it silently become the new
    // normal; a truly corpus-sized frame fails the collect itself on
    // spark.driver.maxResultSize first.
    val rows = probeFrame(queries, centersDf, nProbe)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1), r.getInt(2)))
      .toSeq
    require(rows.length <= JoinProbeQueryThreshold * math.max(1, nProbe),
      s"probeAssignments collected ${rows.length} driver rows " +
        s"(> JoinProbeQueryThreshold=$JoinProbeQueryThreshold * " +
        s"nProbe=$nProbe) - route this query frame through the " +
        "joined-probe plan (probeSide) instead")
    rows
  }

  private def queryVectors(spark: SparkSession, sfDir: String,
                           nQueries: Int): DataFrame =
    normalizedVec(spark, sfDir)
      .filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qu"))

  /** IVF-style approximate top-k against the PERSISTED index
    * (load-or-build): nprobe nearest centroids per query from the tiny
    * persisted centroid table ([[probe]]), then candidates read only from
    * the probed cluster partitions. Above [[JoinProbeQueryThreshold]]
    * queries the probe auto-switches from the bounded collect to the
    * broadcast-probe-join + dynamic-partition-pruning plan
    * ([[ivfSearchJoinedAt]]) so a batch-query run never stages Q·d
    * doubles on the driver.
    */
  def ivfKnn(spark: SparkSession, sfDir: String, nQueries: Int = 10,
             k: Int = 10, nClusters: Int = 0, nProbe: Int = 0): DataFrame = {
    val nc = resolveClusters(spark, sfDir, nClusters)
    val dir = loadOrBuildIvf(spark, sfDir, nc)
    ivfSearchAt(spark, dir, queryVectors(spark, sfDir, nQueries), k,
      resolveProbe(nc, nProbe), expectedQ = nQueries.toLong)
  }

  /** [[ivfKnn]] forced onto the joined-probe strategy regardless of Q —
    * the high-Q plan made testable at fixture scale (the bit-identity
    * spec and the DPP plan assertion run against this).
    */
  private[graft] def ivfKnnJoined(spark: SparkSession, sfDir: String,
                                  nQueries: Int = 10, k: Int = 10,
                                  nClusters: Int = 0, nProbe: Int = 0,
                                  expectedQ: Long = 0L): DataFrame = {
    val nc = resolveClusters(spark, sfDir, nClusters)
    val dir = loadOrBuildIvf(spark, sfDir, nc)
    ivfSearchJoinedAt(spark, dir, queryVectors(spark, sfDir, nQueries), k,
      resolveProbe(nc, nProbe), expectedQ)
  }

  /** Resolve an index dir to (centroids path, seq-ordered vector segment
    * dirs). Two layouts share every read path:
    *
    *  - PLAIN (the build-once fixture index): `dir/centroids` +
    *    `dir/vectors` — one segment;
    *  - MANIFESTED (appended versions): `dir/manifest` lists the segments
    *    by absolute path — the predecessor's segments re-referenced plus
    *    the version's own batch segment ([[IndexStore.writeManifest]]).
    */
  private[graft] def ivfLayout(spark: SparkSession,
                               dir: String): (String, Seq[String]) =
    if (IndexStore.committed(s"$dir/manifest")) {
      val entries = IndexStore.readManifest(spark, dir)
      (IndexStore.manifestSegments(entries, "centroids").head,
        IndexStore.manifestSegments(entries, "vectors"))
    } else (s"$dir/centroids", Seq(s"$dir/vectors"))

  /** The version's full vector table: union of its immutable segments.
    * Each segment is hive-partitioned by cluster, and a `cluster IN`
    * filter above the union is pushed into EVERY branch's scan
    * (PushDownPredicates through Union), so probe-time partition pruning
    * survives the segmented layout unchanged. NOTE: raw rows — includes
    * rows masked by tombstones; [[ivfLiveVectors]] is the resolved view.
    */
  private[graft] def ivfVectors(spark: SparkSession, dir: String): DataFrame =
    IndexStore.readUnion(spark, ivfLayout(spark, dir)._2)

  /** The version's cluster count, cached per COMMITTED centroids path
    * (immutable once committed — the [[IndexStore.readManifest]] cache's
    * argument): saturated readers (`nProbe = -1`) derive it per dir, and
    * without the cache a K-shard scatter-gather pays K count jobs per
    * call for a number that never changes.
    */
  private val clusterCountCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Integer]()
  private[graft] def clusterCountAt(spark: SparkSession,
                                    dir: String): Int = {
    val cPath = ivfLayout(spark, dir)._1
    def load() = IndexStore.readCached(spark, cPath).count().toInt
    if (!IndexStore.committed(cPath)) load()
    else clusterCountCache.computeIfAbsent(cPath, _ => load()).intValue()
  }

  /** The version's TOMBSTONE segment paths — the DELETE half of the index
    * lifecycle (the reference wraps its index in `IndexIDMap`,
    * `main.py:60-62`, precisely so entries are id-addressable — FAISS's
    * `remove_ids` surface; takedown/retention is the first lifecycle
    * event a production corpus hits). A delete version appends one
    * O(batch) segment of bare vec_ids ([[deleteFromIvfIndexAt]]); a
    * plain (build-once) layout has none.
    */
  private[graft] def ivfTombSegments(spark: SparkSession,
                                     dir: String): Seq[String] =
    if (IndexStore.committed(s"$dir/manifest"))
      IndexStore.manifestSegments(
        IndexStore.readManifest(spark, dir), "tombstones")
    else Seq.empty

  /** Drop tombstone-masked rows from a candidate/vector frame keyed by
    * `idCol` — THE one exclusion seam every read path shares (searches,
    * live counts, compaction), so masking semantics cannot drift. The
    * tombstone set is a broadcast anti-join side: it is O(deletes-since-
    * compaction), and the same `maxSegments` compaction policy that
    * bounds the vector chain folds tombstones away ([[compactIvfTo]] and
    * the in-chain fold both resolve them physically), so the broadcast
    * stays bounded at scale. When the version carries no tombstones the
    * frame is returned UNTOUCHED — the plan (and the bit-identity and
    * DPP plan-shape specs over undeleted versions) is unchanged.
    *
    * Masking is id-global, not seq-aware: a tombstone hides the id in
    * EVERY vector segment of the version chain, so re-adding a deleted
    * id requires compacting the tombstone away first (matching the
    * reference, which never re-uses a faiss_id: `main.py:129-130`
    * allocates fresh dense ids).
    */
  private def excludeTombstoned(spark: SparkSession, dir: String,
                                rows: DataFrame,
                                idCol: String = "vec_id"): DataFrame = {
    val segs = ivfTombSegments(spark, dir)
    if (segs.isEmpty) rows
    else rows.join(
      broadcast(IndexStore.readUnion(spark, segs)
        .select(col("vec_id").as(idCol)).distinct()),
      Seq(idCol), "left_anti")
  }

  /** The version's LIVE vector table: raw segments minus tombstoned ids —
    * what searches rank over and what "the index holds" means once
    * deletes exist.
    */
  private[graft] def ivfLiveVectors(spark: SparkSession,
                                    dir: String): DataFrame =
    excludeTombstoned(spark, dir, ivfVectors(spark, dir))

  /** The IVF probe-and-scan against an EXPLICIT index dir — shared by the
    * fixture-corpus [[ivfKnn]] and the appended-version gate, so the two
    * can never drift in probe tie-breaking or candidate shaping.
    * `expectedQ` is the caller's known query count (a filter literal at
    * every call site — never a count job); above
    * [[JoinProbeQueryThreshold]] the search dispatches to the
    * driver-safe joined strategy.
    */
  private[operators] def ivfSearchAt(spark: SparkSession, dir: String,
                                     queries: DataFrame, k: Int,
                                     nProbe: Int,
                                     expectedQ: Long = 0L): DataFrame = {
    if (expectedQ > JoinProbeQueryThreshold)
      return ivfSearchJoinedAt(spark, dir, queries, k, nProbe, expectedQ)
    ivfSearchCollectAt(spark, dir, queries, k, nProbe)
  }

  /** The low-Q (collect-probe) strategy against an explicit dir —
    * exposed so the spec can pin joined-vs-collect bit-identity on the
    * SAME (possibly manifested) version.
    */
  private[graft] def ivfSearchCollectAt(spark: SparkSession, dir: String,
                                        queries: DataFrame, k: Int,
                                        nProbe: Int): DataFrame = {
    val (centroidsPath, _) = ivfLayout(spark, dir)
    val centersDf = IndexStore.readCached(spark, centroidsPath)
    val (probedClusters, probes) = probe(spark, queries, centersDf, nProbe)
    // tombstone exclusion ABOVE the isin-filtered scan: the static
    // PartitionFilters stay on the scan, the anti-join only thins rows
    val assigned = excludeTombstoned(spark, dir, ivfVectors(spark, dir)
      .filter(col("cluster").isin(probedClusters: _*)))
    VectorSearch.topK(
      broadcast(probes).join(assigned, "cluster")
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("id"),
          squaredL2(col("qu"), col("v")).as("dist")), k)
  }

  /** The high-Q IVF probe-and-scan: the probe stays a DISTRIBUTED plan
    * ([[probeFrame]]) and becomes the broadcast side of an equi-join on
    * the PARTITION column, so Spark's dynamic partition pruning closes
    * the same file-level pruning the collect path gets from its `isin`
    * literals — without ever staging query vectors on the driver (the
    * exact plan [[sqlAnnIvf]]'s BROADCAST hint produces, now the
    * programmatic path too). The join runs PER SEGMENT with the union
    * ABOVE it (join distributes over union; [[VectorSearch.topK]] ranks
    * the union) because DPP attaches to a partitioned file scan, not to
    * a Union — the broadcast exchange of the probe side is planned once
    * and reused across branches. Same probe window, same distance
    * expression, same ranking tail as the collect path → bit-identical
    * rows (spec-asserted). Above [[BroadcastProbeByteLimit]] of staged
    * probe payload the broadcast hint is dropped ([[probeSide]]) — the
    * join shuffles instead of staging Q·d doubles through the driver.
    */
  private[graft] def ivfSearchJoinedAt(spark: SparkSession, dir: String,
                                       queries: DataFrame, k: Int,
                                       nProbe: Int,
                                       expectedQ: Long = 0L): DataFrame = {
    val (centroidsPath, segments) = ivfLayout(spark, dir)
    val centersDf = IndexStore.readCached(spark, centroidsPath)
    val probes = probeFrame(queries, centersDf, nProbe)
    val p = probeSide(probes, expectedQ, nProbe, centroidDim(centersDf))
    val cands = segments.map { seg =>
      p.join(IndexStore.readCached(spark, seg), "cluster")
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("id"),
          squaredL2(col("qu"), col("v")).as("dist"))
    }.reduce(_ unionAll _)
    // tombstone exclusion on the UNIONED candidates, not per segment
    // scan: the probe join must sit directly on each partitioned scan
    // for DPP to attach ([[excludeTombstoned]] is a no-op plan-wise on
    // undeleted versions)
    VectorSearch.topK(excludeTombstoned(spark, dir, cands, "id"), k)
  }

  /** Load-or-build gate for the persisted IVF index — the ONE place the
    * committed-artifact check lives (three call sites would otherwise
    * each have to learn about any new artifact added to the layout).
    */
  private def loadOrBuildIvf(spark: SparkSession, sfDir: String,
                             nClusters: Int): String = {
    val nc = resolveClusters(spark, sfDir, nClusters)
    val dir = IndexStore.indexDir(sfDir, s"ivf$nc-v1", "embeddings")
    if (!IndexStore.committed(s"$dir/centroids") ||
        !IndexStore.committed(s"$dir/vectors"))
      buildIvfIndex(spark, sfDir, nc)
    dir
  }

  def appendToIvfIndex(spark: SparkSession, sfDir: String,
                       batch: DataFrame, out: String,
                       nClusters: Int = 0): Unit =
    appendToIvfIndexAt(spark, loadOrBuildIvf(spark, sfDir, nClusters),
      batch, out)

  /** Incremental add to the persisted IVF index — the reference's
    * `index.add_with_ids` (`main.py:134`) applied to the scale layout:
    * new vectors are assigned to their NEAREST EXISTING centroid (no
    * refit — exactly how FAISS IVF adds work) and a NEW index version is
    * produced at `out` as a MANIFEST: the predecessor's immutable vector
    * segments are re-referenced by path, the batch is written as ONE new
    * cluster-partitioned segment, and centroids are shared unchanged. Both
    * compute AND I/O are O(batch) — at 100 TB a micro-batch append writes
    * the batch's files plus one manifest, never a copy/rewrite of the
    * corpus. Readers keep using the old `dir` until the caller switches —
    * version-swap, never in-place. Commit protocol: the manifest is
    * written LAST, so `committed(out/manifest)` structurally gates the
    * whole version (a crash after the segment but before the manifest
    * reads as "never built", and the replay guard keys on the same
    * marker). Retention is manifest refcounting
    * ([[graft.streaming.StreamingIndex.pruneVersions]]): a segment lives
    * while any surviving manifest references it.
    */
  /** Nearest-existing-centroid assignment of one append batch — THE one
    * seam both append paths (flat [[appendToIvfIndexAt]] and PQ
    * [[appendToIvfPqIndexAt]]) share, so assignment semantics cannot
    * drift. Returns (vec_id, v-normalized, cluster), one row per BATCH
    * row (duplicate ids stay distinct via a per-row uid — FAISS
    * `add_with_ids` semantics).
    *
    * Shape that scales (round-17, found by the deep×wide STREAMED tier
    * — the same class the round-15 wide ladder caught in the PQ encode,
    * [[pqEncode]]): the previous cut ranked the batch × nc candidate
    * blowup with a window whose every row carried BOTH d-dim arrays
    * (batch vector + centroid), so the rank shuffle moved
    * batch·nc·2d·8 B — ~450 GB for two 10k-row triggers at nc=707,
    * d=2048; invisible at d=64. Here the blowup rows are projected SLIM
    * (uid, cluster, cdist — ~24 B) before any shuffle: the argmin
    * aggregates min(struct(cdist, cluster)) over slim rows (the
    * window's exact (cdist, cluster)-ascending tiebreak, bit-identical
    * assignments), and the winning cluster broadcast-joins back to the
    * checkpointed batch. In-flight payload is O(batch·nc) slim rows +
    * O(batch) wide rows — the d-dim arrays never ride the blowup
    * through an exchange or a sort. The uid'd batch is checkpointed so
    * the argmin pass and the re-join see the SAME generated ids, and
    * released before return; the returned frame is itself checkpointed
    * (callers release it after their version write).
    */
  private[graft] def assignToCentroids(spark: SparkSession,
                                       batch: DataFrame,
                                       centersDf: DataFrame): DataFrame = {
    val uid = batch
      .select(col("vec_id"), l2Normalize(col("v")).as("v"))
      .withColumn("uid", monotonically_increasing_id())
      .localCheckpoint(true)
    try {
      val best = uid
        .crossJoin(broadcast(centersDf))
        .select(col("uid"), col("cluster"),
          squaredL2(col("v"), col("center")).as("cdist"))
        .groupBy(col("uid"))
        .agg(min(struct(col("cdist"), col("cluster"))).as("best"))
        .select(col("uid"), col("best").getField("cluster").as("cluster"))
      uid.join(broadcast(best), "uid")
        .select(col("vec_id"), col("v"), col("cluster"))
        .localCheckpoint(true)
    } finally Checkpoints.release(uid)
  }

  private[graft] def appendToIvfIndexAt(spark: SparkSession, dir: String,
                                        batch: DataFrame, out: String,
                                        maxSegments: Int =
                                          IndexStore.DefaultMaxSegments)
      : Unit = {
    // a committed `out` means this version already folded its batch — a
    // re-invocation (crash-replay, retried job) must not append it twice
    if (IndexStore.committed(s"$out/manifest")) return
    val (centroidsPath, segments) = ivfLayout(spark, dir)
    require(IndexStore.committed(centroidsPath) &&
      segments.forall(IndexStore.committed),
      s"append base $dir is not a committed index version")
    val centersDf = IndexStore.readCached(spark, centroidsPath)
    // the batch's dimension must match the index — a mismatch would make
    // every squaredL2 NULL and silently dump the whole batch in cluster 0
    val centerDim = centersDf.select(size(col("center"))).head.getInt(0)
    batch.select(size(col("v"))).limit(1).collect().headOption.foreach {
      r => require(r.getInt(0) == centerDim,
        s"batch dim ${r.getInt(0)} != index dim $centerDim")
    }
    // assign each batch ROW to its nearest existing centroid (tiny
    // broadcast of k centers, one map pass over the batch) through the
    // slim shared seam — see [[assignToCentroids]] for the shuffle-
    // payload argument (the round-17 deep×wide streamed tier caught the
    // previous window form moving batch·nc rows that each carried BOTH
    // d-dim arrays). Keyed by a per-row uid, not vec_id: duplicate ids
    // in one batch are appended as distinct rows (FAISS add_with_ids
    // semantics), never silently collapsed. Overwrite clears any crashed
    // attempt's leftovers at the segment path before this version's
    // write.
    val segment = s"$out/segment"
    val assigned = assignToCentroids(spark, batch, centersDf)
    val tombSegs = ivfTombSegments(spark, dir)
    if (segments.length + 1 > maxSegments) {
      // compaction trigger ([[IndexStore.DefaultMaxSegments]]): fold the
      // whole chain + batch into ONE fresh cluster-partitioned segment,
      // re-clustered to one file per cluster — per-cluster rows are
      // O(√n) by the nlist sizing, so single files stay scan-friendly
      // and the chain's accumulated small delta files collapse. The fold
      // reads the LIVE view: tombstone-masked rows are physically
      // dropped here and the tombstones themselves retired from the
      // manifest (the merge-on-read → compaction contract of the
      // delete lifecycle)
      ivfLiveVectors(spark, dir)
        .select(col("vec_id"), col("v"), col("cluster"))
        .unionByName(assigned)
        .repartition(col("cluster"))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .partitionBy("cluster").parquet(segment)
      IndexStore.writeManifest(spark, out,
        Seq(("centroids", centroidsPath, 0L), ("vectors", segment, 0L)))
    } else {
      assigned
        // one O(batch) shuffle so each touched cluster gets ONE file, not
        // one per (task × cluster): a micro-batch spread over every
        // writer task would otherwise add tasks·nprobe-ish small files
        // per trigger — the file-listing death of a frequently-appended
        // index
        .repartition(col("cluster"))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .partitionBy("cluster").parquet(segment)
      // LAST: the manifest commits the version (see commit protocol
      // above) — a crash anywhere before this line reads as "never
      // built". The predecessor's tombstones are carried FORWARD: an
      // append after a delete must not silently un-delete
      IndexStore.writeManifest(spark, out,
        ("centroids", centroidsPath, 0L) +:
          ((segments :+ segment).zipWithIndex.map { case (s, i) =>
            ("vectors", s, i.toLong)
          } ++ tombSegs.zipWithIndex.map { case (s, i) =>
            ("tombstones", s, i.toLong)
          }))
    }
    // the version is committed — the assignment's working checkpoint is
    // dead; release deterministically ([[Checkpoints]])
    Checkpoints.release(assigned)
  }

  /** DELETE from the persisted IVF index — FAISS `remove_ids` restated
    * for the manifested layout (the reference's `IndexIDMap`,
    * `main.py:60-62`, exists precisely to make entries id-addressable):
    * a NEW version at `out` re-references every predecessor segment and
    * adds ONE tombstone segment holding the deleted vec_ids. Both
    * compute and I/O are O(batch-of-deletes); no corpus data is copied,
    * rewritten, or scanned. Reads resolve merge-on-read
    * ([[excludeTombstoned]]); compaction ([[compactIvfTo]] or the
    * in-chain fold) physically drops masked rows and retires the
    * tombstones. Same commit protocol as the append (manifest LAST,
    * replay-idempotent on `committed(out/manifest)`), and the same
    * `maxSegments` bound applied to the TOMBSTONE chain: a delete that
    * would push it past the bound folds all tombstone segments into one.
    */
  def deleteFromIvfIndex(spark: SparkSession, sfDir: String,
                         ids: DataFrame, out: String,
                         nClusters: Int = 0): Unit =
    deleteFromIvfIndexAt(spark, loadOrBuildIvf(spark, sfDir, nClusters),
      ids, out)

  private[graft] def deleteFromIvfIndexAt(spark: SparkSession, dir: String,
                                          ids: DataFrame, out: String,
                                          maxSegments: Int =
                                            IndexStore.DefaultMaxSegments)
      : Unit = {
    if (IndexStore.committed(s"$out/manifest")) return
    val (centroidsPath, segments) = ivfLayout(spark, dir)
    require(IndexStore.committed(centroidsPath) &&
      segments.forall(IndexStore.committed),
      s"delete base $dir is not a committed index version")
    writeTombstoneVersion(spark, dir, ids, out, maxSegments,
      ("centroids", centroidsPath, 0L) +:
        segments.zipWithIndex.map { case (s, i) =>
          ("vectors", s, i.toLong)
        })
  }

  /** DELETE from the persisted IVF+PQ index — the quantized twin of
    * [[deleteFromIvfIndex]], so the production-default layout has the
    * same takedown surface as the flat one: a new version re-references
    * centroids, codebooks and every code segment untouched and adds one
    * O(batch) tombstone segment; the ADC scan excludes tombstoned ids
    * merge-on-read ([[ivfPqSearchAt]]), appends carry tombstones
    * forward, and the in-chain fold drops masked codes physically.
    */
  def deleteFromIvfPqIndex(spark: SparkSession, sfDir: String,
                           ids: DataFrame, out: String,
                           nClusters: Int = 0, m: Int = 0,
                           nCodes: Int = 0): Unit = {
    val nc = resolveClusters(spark, sfDir, nClusters)
    val nk = Quantize.resolveCodes(spark, sfDir, nCodes)
    deleteFromIvfPqIndexAt(spark,
      buildIvfPqIndex(spark, sfDir, nc, m, nk), ids, out)
  }

  private[graft] def deleteFromIvfPqIndexAt(spark: SparkSession,
                                            dir: String, ids: DataFrame,
                                            out: String,
                                            maxSegments: Int =
                                              IndexStore.DefaultMaxSegments)
      : Unit = {
    if (IndexStore.committed(s"$out/manifest")) return
    val (centroidsPath, codebooksPath, segments) = ivfPqLayout(spark, dir)
    require(IndexStore.committed(centroidsPath) &&
      IndexStore.committed(codebooksPath) &&
      segments.forall(IndexStore.committed),
      s"delete base $dir is not a committed index version")
    writeTombstoneVersion(spark, dir, ids, out, maxSegments,
      ("centroids", centroidsPath, 0L) +:
        ("codebooks", codebooksPath, 0L) +:
        segments.zipWithIndex.map { case (s, i) =>
          ("codes", s, i.toLong)
        })
  }

  /** The shared tombstone-version tail of both delete paths: write the
    * (folded-if-over-bound) tombstone segment, then commit a manifest
    * of the predecessor's data artifacts plus the tombstone chain. One
    * seam, so the two layouts cannot drift in fold bound, dedup of the
    * id batch, or commit protocol (manifest LAST, replay-idempotent at
    * the caller's `committed` guard).
    */
  private def writeTombstoneVersion(spark: SparkSession, dir: String,
                                    ids: DataFrame, out: String,
                                    maxSegments: Int,
                                    dataEntries: Seq[(String, String, Long)])
      : Unit = {
    val tombSegs = ivfTombSegments(spark, dir)
    val segment = s"$out/tombstones"
    val batch = ids.select(col("vec_id")).distinct()
    val (written, kept) =
      if (tombSegs.length + 1 > maxSegments) {
        // fold the tombstone chain + batch into one fresh segment —
        // O(total deletes since compaction), still never corpus-bound
        (IndexStore.readUnion(spark, tombSegs).select(col("vec_id"))
          .unionByName(batch).distinct(), Seq.empty[String])
      } else (batch, tombSegs)
    written.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(segment)
    // LAST: the manifest commits the version — predecessor data
    // segments re-referenced untouched, tombstone chain extended/folded
    IndexStore.writeManifest(spark, out,
      dataEntries ++ (kept :+ segment).zipWithIndex.map { case (s, i) =>
        ("tombstones", s, i.toLong)
      })
  }

  /** Compact an appended IVF version into a standalone one-segment index
    * at `out` — the read-amplification bound of the manifest chain: after
    * many O(batch) appends the vector table is a long segment list; one
    * compaction job rewrites it as a single cluster-partitioned segment
    * (multiple files per cluster again — the parallel-read layout of the
    * base build) plus copied centroids, producing a PLAIN-layout index
    * any reader or append chain can use as its new base. `out` is a
    * fresh dir; a crashed compaction reads as "never built" (centroids
    * last = the commit marker of the plain layout). Tombstone-masked
    * rows are RESOLVED here: the compacted index holds live rows only
    * and carries no tombstones — the physical-drop half of the delete
    * lifecycle.
    */
  def compactIvfTo(spark: SparkSession, dir: String, out: String): Unit = {
    val (centroidsPath, _) = ivfLayout(spark, dir)
    ivfLiveVectors(spark, dir)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("cluster").parquet(s"$out/vectors")
    IndexStore.saveDataset(
      IndexStore.readCached(spark, centroidsPath), s"$out/centroids")
  }

  /** IVF + SQ8 composed index — the 100 TB shape: the coarse quantizer's
    * cluster id is the PHYSICAL partition key (a probe's `cluster IN`
    * literals prune at file listing, touching nprobe/k of the data) AND
    * every row inside a partition is int8-quantized (~3.5× fewer bytes
    * per scanned row, [[Quantize]]). A probe therefore reads
    * nprobe/k × 1/3.5 of the raw vector bytes; exactness is recovered by
    * rescoring the bounded candidate margin against full-precision rows.
    * Reuses the plain IVF build for the k-means fit (load-or-build), so
    * the fit still happens once per data version across BOTH layouts.
    */
  def buildIvfSqIndex(spark: SparkSession, sfDir: String,
                      nClusters: Int = 0): String = {
    val nc = resolveClusters(spark, sfDir, nClusters)
    val dir = IndexStore.indexDir(sfDir, s"ivfsq$nc-v2", "embeddings")
    if (!IndexStore.committed(s"$dir/centroids") ||
        !IndexStore.committed(s"$dir/vectors")) {
      val ivfDir = loadOrBuildIvf(spark, sfDir, nc)
      IndexStore.saveDataset(
        IndexStore.readCached(spark, s"$ivfDir/centroids"), s"$dir/centroids")
      // quantize passes the cluster column through — one map pass over the
      // assigned table, no self-join to re-attach the partition key
      Quantize.quantize(IndexStore.readCached(spark, s"$ivfDir/vectors"))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .partitionBy("cluster").parquet(s"$dir/vectors")
    }
    dir
  }

  /** [[ivfKnn]] over the composed IVF+SQ8 layout: probe-pruned partitions,
    * asymmetric distance on dequantized rows, exact rescore of the
    * per-query candidate margin against full-precision vectors. Same
    * probe auto-switch as [[ivfKnn]]: above [[JoinProbeQueryThreshold]]
    * queries the probe side stays distributed and DPP prunes the
    * quantized scan.
    */
  def ivfSqKnn(spark: SparkSession, sfDir: String, nQueries: Int = 10,
               k: Int = 10, nClusters: Int = 0, nProbe: Int = 0,
               rerank: Int = 40): DataFrame =
    ivfSqSearch(spark, sfDir, nQueries, k, nClusters, nProbe, rerank,
      forceJoin = false)

  /** [[ivfSqKnn]] forced onto the joined-probe strategy — the high-Q
    * plan made testable at fixture scale (bit-identity spec).
    */
  private[graft] def ivfSqKnnJoined(spark: SparkSession, sfDir: String,
                                    nQueries: Int = 10, k: Int = 10,
                                    nClusters: Int = 0, nProbe: Int = 0,
                                    rerank: Int = 40): DataFrame =
    ivfSqSearch(spark, sfDir, nQueries, k, nClusters, nProbe, rerank,
      forceJoin = true)

  private def ivfSqSearch(spark: SparkSession, sfDir: String,
                          nQueries: Int, k: Int, nClusters: Int,
                          nProbe: Int, rerank: Int,
                          forceJoin: Boolean): DataFrame = {
    val nc = resolveClusters(spark, sfDir, nClusters)
    val dir = buildIvfSqIndex(spark, sfDir, nc)
    val centersDf = IndexStore.readCached(spark, s"$dir/centroids")
    val queries = queryVectors(spark, sfDir, nQueries)
    val np = resolveProbe(nc, nProbe)
    val (probes, assigned) =
      if (forceJoin || nQueries.toLong > JoinProbeQueryThreshold)
        // distributed probe: DPP from the broadcast join on the
        // partition column prunes the quantized scan (single segment —
        // the SQ layout is always plain, so no per-segment fan-out);
        // above BroadcastProbeByteLimit the hint drops away (probeSide)
        (probeSide(probeFrame(queries, centersDf, np),
          if (forceJoin) 0L else nQueries.toLong, np,
          centroidDim(centersDf)),
          IndexStore.readCached(spark, s"$dir/vectors"))
      else {
        val (probedClusters, p) = probe(spark, queries, centersDf, np)
        (broadcast(p), IndexStore.readCached(spark, s"$dir/vectors")
          .filter(col("cluster").isin(probedClusters: _*)))
      }
    val adist = probes.join(assigned, "cluster")
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("qu"), col("vec_id").as("id"),
        squaredL2(col("qu"),
          transform(col("qv"), x => x.cast("double") / col("scale")))
          .as("adist"))
    // the ONE shared pruning tail (NULL adist ranks last there) — a local
    // copy of the window would let margin semantics drift from SQ8/PQ
    VectorSearch.rescoreTopK(
      VectorSearch.pruneCandidates(adist, rerank, Some(queries)),
      VectorSearch.normalized(spark, sfDir), k)
  }

  /** Build (once) the composed IVF+PQ layout — the production default of
    * every FAISS deployment at scale (`IndexIVFPQ`; the reference holds
    * raw float32 in a flat index, `main.py:60-62`, precisely the thing
    * that stops fitting first at 100 TB): cluster-partitioned PRODUCT-
    * QUANTIZED codes, so a probe prunes the scan to nprobe/k of the
    * corpus AND each scanned row is m bytes instead of d·4. Artifacts:
    * `centroids` (the IVF probe table), `codebooks` (the m per-subspace
    * k-means tables), `codes` hive-partitioned by cluster. Both parents
    * are the committed build-once indexes, so the compose is two
    * control-plane copies plus ONE equi-join pass (codes ⋈ assignments)
    * — no k-means refit, and the PQ arithmetic is definitionally
    * identical to the flat-PQ path's.
    *
    * Codes quantize the raw (normalized) vectors, not the per-cluster
    * residuals (FAISS `by_residual=false`): residual coding would buy
    * recall at the cost of forking the LUT construction per probed
    * cluster (Q·nprobe LUTs instead of Q); the lost recall is bought
    * back by the exact-rescore margin, and the gate that prices that
    * trade is the measured `ivf_pq` floor in [[annRecall]].
    */
  def buildIvfPqIndex(spark: SparkSession, sfDir: String,
                      nClusters: Int = 0, m: Int = 0,
                      nCodes: Int = 0): String = {
    val nc = resolveClusters(spark, sfDir, nClusters)
    val mm = Quantize.resolveM(spark, sfDir, m)
    val nk = Quantize.resolveCodes(spark, sfDir, nCodes)
    val dir = IndexStore.indexDir(sfDir, s"ivfpq$nc-$mm-$nk-v1",
      "embeddings")
    if (!IndexStore.committed(s"$dir/centroids") ||
        !IndexStore.committed(s"$dir/codebooks") ||
        !IndexStore.committed(s"$dir/codes")) {
      val ivfDir = loadOrBuildIvf(spark, sfDir, nc)
      val pqDir = Quantize.buildPqIndex(spark, sfDir, mm, nk)
      composeIvfPq(spark, ivfDir, pqDir, dir)
    }
    dir
  }

  /** Compose a committed IVF layout and a committed PQ layout into one
    * IVF+PQ dir: two control-plane artifact copies plus ONE equi-join
    * pass (codes ⋈ cluster assignments) — THE one compose, shared by the
    * build-once fixture index and the codebook-refit path so the two can
    * never drift in artifact layout or join shape. Codes are written
    * LAST: with [[buildIvfPqIndex]]'s three-artifact committed check
    * they double as the compose's commit marker.
    */
  private def composeIvfPq(spark: SparkSession, ivfDir: String,
                           pqDir: String, out: String): Unit = {
    IndexStore.saveDataset(
      IndexStore.readCached(spark, s"$ivfDir/centroids"), s"$out/centroids")
    IndexStore.saveDataset(
      IndexStore.readCached(spark, s"$pqDir/codebooks"), s"$out/codebooks")
    IndexStore.readCached(spark, s"$pqDir/codes")
      .join(IndexStore.readCached(spark, s"$ivfDir/vectors")
        .select(col("vec_id"), col("cluster")), "vec_id")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("cluster").parquet(s"$out/codes")
  }

  /** IVF+PQ top-k: probe-pruned partitions scanned by ADC lookup-table
    * sums, exact rescore of the candidate margin — [[ivfSqKnn]]'s shape
    * with the scan rows shrunk from ~d bytes (SQ8) to m bytes (PQ), the
    * aggressive end of the family's storage/recall trade at the SAME
    * probe pruning. The per-query LUTs are the shared distributed
    * construction ([[Quantize.pqLutsAt]]) joined INTO the probe side, so
    * the broadcast carries (qu, lut, cluster) per probe row and the code
    * scan is one map-side pass summing m lookups per row; above
    * [[JoinProbeQueryThreshold]] queries the probe stays distributed
    * (DPP prunes the partitioned code scan), and [[probeSide]] prices
    * the staged payload with the LUT bytes included.
    */
  def ivfPqKnn(spark: SparkSession, sfDir: String, nQueries: Int = 10,
               k: Int = 10, nClusters: Int = 0, nProbe: Int = 0,
               m: Int = 0, nCodes: Int = 0, rerank: Int = 40): DataFrame =
    ivfPqSearch(spark, sfDir, nQueries, k, nClusters, nProbe, m, nCodes,
      rerank, forceJoin = false)

  /** [[ivfPqKnn]] forced onto the joined-probe strategy — the high-Q
    * plan made testable at fixture scale (bit-identity spec).
    */
  private[graft] def ivfPqKnnJoined(spark: SparkSession, sfDir: String,
                                    nQueries: Int = 10, k: Int = 10,
                                    nClusters: Int = 0, nProbe: Int = 0,
                                    m: Int = 0, nCodes: Int = 0,
                                    rerank: Int = 40): DataFrame =
    ivfPqSearch(spark, sfDir, nQueries, k, nClusters, nProbe, m, nCodes,
      rerank, forceJoin = true)

  private def ivfPqSearch(spark: SparkSession, sfDir: String,
                          nQueries: Int, k: Int, nClusters: Int,
                          nProbe: Int, m: Int, nCodes: Int, rerank: Int,
                          forceJoin: Boolean): DataFrame = {
    val nc = resolveClusters(spark, sfDir, nClusters)
    val mm = Quantize.resolveM(spark, sfDir, m)
    val nk = Quantize.resolveCodes(spark, sfDir, nCodes)
    val dir = buildIvfPqIndex(spark, sfDir, nc, mm, nk)
    ivfPqSearchAt(spark, dir, queryVectors(spark, sfDir, nQueries),
      VectorSearch.normalized(spark, sfDir), k, resolveProbe(nc, nProbe),
      mm, nk, rerank, expectedQ = nQueries.toLong, forceJoin = forceJoin)
  }

  /** Resolve an IVF+PQ index dir to (centroids, codebooks, seq-ordered
    * code segment dirs) — the [[ivfLayout]] contract extended with the
    * codebooks artifact, so appended (manifested) versions share every
    * read path with the plain build-once layout.
    */
  private[graft] def ivfPqLayout(spark: SparkSession, dir: String)
      : (String, String, Seq[String]) =
    if (IndexStore.committed(s"$dir/manifest")) {
      val entries = IndexStore.readManifest(spark, dir)
      (IndexStore.manifestSegments(entries, "centroids").head,
        IndexStore.manifestSegments(entries, "codebooks").head,
        IndexStore.manifestSegments(entries, "codes"))
    } else (s"$dir/centroids", s"$dir/codebooks", Seq(s"$dir/codes"))

  /** The IVF+PQ probe-and-scan against an EXPLICIT (possibly manifested)
    * index dir — shared by the fixture search and the append gate, so
    * probe tie-breaking, LUT arithmetic and margin semantics can never
    * drift between them. `normed` is the full-precision rescore corpus:
    * an appended version's candidates include batch ids, so the caller
    * supplies the corpus the version actually indexes.
    */
  private[graft] def ivfPqSearchAt(spark: SparkSession, dir: String,
                                   queries: DataFrame, normed: DataFrame,
                                   k: Int, nProbe: Int, m: Int, nk: Int,
                                   rerank: Int, expectedQ: Long,
                                   forceJoin: Boolean = false,
                                   lutsIn: Option[DataFrame] = None)
      : DataFrame =
    VectorSearch.rescoreTopK(
      ivfPqMarginAt(spark, dir, queries, nProbe, m, nk, rerank,
        expectedQ, forceJoin, lutsIn),
      normed, k)

  /** The ADC half of [[ivfPqSearchAt]]: probe-pruned LUT scan +
    * rerank-margin prune, WITHOUT the exact rescore — (query_id, qu,
    * id) rows. Split out for the sharded topology
    * ([[ShardedSearch.shardedIvfPqKnn]]): gathering each shard's
    * MARGIN and rescoring the union ONCE costs one full-precision
    * corpus pass instead of K+1, and the gathered margin is a superset
    * of the per-shard top-k gather, so the merge can only improve.
    */
  private[graft] def ivfPqMarginAt(spark: SparkSession, dir: String,
                                   queries: DataFrame,
                                   nProbe: Int, m: Int, nk: Int,
                                   rerank: Int, expectedQ: Long,
                                   forceJoin: Boolean = false,
                                   lutsIn: Option[DataFrame] = None)
      : DataFrame = {
    val (centroidsPath, codebooksPath, segments) = ivfPqLayout(spark, dir)
    val centersDf = IndexStore.readCached(spark, centroidsPath)
    // `lutsIn`: a caller that probes several dirs sharing ONE trained
    // codebook (the sharded topology) builds the Q-row LUT table once
    // and passes it in — K identical Q·m·nk constructions collapsed to
    // one ([[ShardedSearch.shardedIvfPqKnn]])
    val luts = lutsIn.getOrElse(
      Quantize.pqLutsAt(spark, codebooksPath, queries, m, nk)
        .select(col("query_id"), col("lut")))
    def adistOf(probeLutCodes: DataFrame): DataFrame = probeLutCodes
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("qu"), col("vec_id").as("id"),
        expr(s"""aggregate(sequence(0, ${m - 1}), 0D, (acc, j) ->
          acc + element_at(lut, j * $nk +
            element_at(codes, j + 1) + 1))""").as("adist"))
    // the probe row payload is qu PLUS the m·nk-double LUT — price the
    // broadcast staging with both, not just the query vector
    def lutDim = centroidDim(centersDf) + m * nk
    val adist =
      if (forceJoin || expectedQ > JoinProbeQueryThreshold) {
        val p = probeSide(probeFrame(queries, centersDf, nProbe)
            .join(luts, "query_id"),
          if (forceJoin) 0L else expectedQ, nProbe, lutDim)
        // per-segment join with the union ABOVE it, as in
        // [[ivfSearchJoinedAt]]: DPP attaches to each partitioned scan
        segments.map(seg => adistOf(p.join(IndexStore.readCached(spark, seg),
          "cluster"))).reduce(_ unionAll _)
      } else {
        // the LUT rides per QUERY, not per probe row: joining luts into
        // the probe side before the broadcast denormalizes the m·nk
        // doubles across every probed cluster — Q·nProbe·(m·nk·8 B)
        // of broadcast, ~0.5 MB/row at d=2048 (m=256, nk=256), which
        // OOM'd a 24 g heap on the K-shard scatter-gather at the
        // deep×wide point (invisible at d=64 where a LUT is 4 KB).
        // Broadcasting the slim probe rows and the Q-row LUT table
        // SEPARATELY keeps both map-side joins and the ADC scan one
        // pipelined pass; the LUT is materialized per candidate row
        // only inside the stage, never staged or shuffled.
        val (probedClusters, p) = probe(spark, queries, centersDf, nProbe)
        adistOf(broadcast(p)
          .join(IndexStore.readUnion(spark, segments)
            .filter(col("cluster").isin(probedClusters: _*)), "cluster")
          .join(broadcast(luts), "query_id"))
      }
    // tombstone exclusion on the ADC candidates before the margin prune
    // (a deleted id must not burn rerank slots either); a no-op plan-wise
    // on undeleted versions, then the ONE shared pruning tail — margin
    // semantics identical to SQ8/PQ
    VectorSearch.pruneCandidates(
      excludeTombstoned(spark, dir, adist, "id"), rerank, Some(queries))
  }

  /** PQ-encode an explicit centroid-assigned frame (vec_id, v, cluster)
    * with FROZEN codebooks — the add-time half of FAISS `IndexIVFPQ.add`:
    * per subspace, each row takes the code of its nearest codebook
    * center; the codebooks are never refit by an append (that is the
    * refit lifecycle step's job, as with centroids). One crossJoin with
    * the tiny broadcast codebook table (batch × m·nk rows — O(batch)
    * with a constant factor, never corpus-bound) and a per-(row,
    * subspace) argmin window; ties break on the lower code, matching the
    * build-time k-means predict (first minimal index). The window
    * partitions by a per-row uid so duplicate vec_ids in one batch stay
    * distinct rows (add_with_ids semantics, as in [[appendToIvfIndexAt]]).
    *
    * Arithmetic caveat (applies equally to append-time CENTROID
    * assignment): this path computes exact fold-order squared L2 against
    * the persisted codebook/centroid tables — the SAME expression the
    * search paths use — while the BUILD-time k-means assignment goes
    * through MLlib's norm-accelerated fastSquaredDistance. A borderline
    * vector can therefore encode/assign differently between the build
    * and append paths; the invariant is search-time arithmetic plus the
    * recall-floor gates, NOT build/append bit-identity of assignments.
    */
  private def pqEncode(spark: SparkSession, codebooksPath: String,
                       rows: DataFrame, m: Int, nk: Int): DataFrame = {
    val books = IndexStore.readCached(spark, codebooksPath)
    val subLen = books.select(size(col("center"))).head.getInt(0)
    // NEVER materialize the batch × (m·nk) codebook blowup (57,344 book
    // rows at d=2048). The first cut carried the 8·d B vector through
    // that blowup into a window sort and OOM'd a 24 g heap on a 10k-row
    // batch at width; a min_by re-cut still sort-aggregated the blown-up
    // rows (struct agg buffers disable hash aggregation) and OOM'd the
    // same way — both found by the round-15 wide lifecycle ladder,
    // invisible at d=64 where the blowup is 176 rows. Shape that scales:
    // explode each vector into its m SUBVECTORS (subLen doubles each —
    // the full vector never rides a blown-up row), broadcast-hash-join
    // the m-row per-subspace candidate table, and fold the nk-candidate
    // argmin INSIDE one expression per (vector, subspace) row. In-flight
    // is O(batch·m) slim rows end-to-end; the only shuffle is the final
    // per-vector code collect. `cands` is code-ascending (sort_array on
    // the (code, center) struct) and array_position returns the FIRST
    // minimal d2, so ties resolve to the lowest code — the window's
    // exact (d2, code) ascending order; the d2 arithmetic is the same
    // zip_with/aggregate left fold. Codes bit-identical all three cuts.
    val booksBySub = books.groupBy(col("subspace"))
      .agg(sort_array(collect_list(struct(col("code"), col("center"))))
        .as("cands"))
    rows.withColumn("uid", monotonically_increasing_id())
      .select(col("uid"), col("vec_id"), col("cluster"),
        posexplode(expr(s"transform(sequence(0, ${m - 1}), " +
          s"j -> slice(v, j * $subLen + 1, $subLen))"))
          .as(Seq("subspace", "sv")))
      .join(broadcast(booksBySub), "subspace")
      .select(col("uid"), col("vec_id"), col("cluster"), col("subspace"),
        expr(
          """transform(cands, c ->
            |  aggregate(zip_with(sv, c.center, (x, y) -> (x - y) * (x - y)),
            |    0D, (acc, d) -> acc + d))""".stripMargin).as("d2s"),
        col("cands"))
      .select(col("uid"), col("vec_id"), col("cluster"), col("subspace"),
        expr("cands[CAST(array_position(d2s, array_min(d2s)) AS INT) - 1]" +
          ".code").as("code"))
      .groupBy(col("uid"))
      .agg(first(col("vec_id")).as("vec_id"),
        first(col("cluster")).as("cluster"),
        transform(array_sort(
          collect_list(struct(col("subspace"), col("code")))),
          s => s.getField("code")).as("codes"))
      .select(col("vec_id"), col("codes"), col("cluster"))
  }

  /** Incremental add to the persisted IVF+PQ index — the quantized twin
    * of [[appendToIvfIndex]], completing the lifecycle for the layout a
    * 100 TB deployment actually runs: new vectors are assigned to their
    * nearest EXISTING centroid and encoded with the FROZEN codebooks
    * ([[pqEncode]]), and a NEW version at `out` re-references the
    * predecessor's immutable code segments by manifest plus ONE new
    * cluster-partitioned batch segment. Same commit protocol (manifest
    * written last, replay-idempotent on `committed(out/manifest)`), same
    * [[IndexStore.DefaultMaxSegments]] in-chain auto-compaction bound.
    */
  def appendToIvfPqIndex(spark: SparkSession, sfDir: String,
                         batch: DataFrame, out: String,
                         nClusters: Int = 0, m: Int = 0,
                         nCodes: Int = 0): Unit = {
    val nc = resolveClusters(spark, sfDir, nClusters)
    val mm = Quantize.resolveM(spark, sfDir, m)
    val nk = Quantize.resolveCodes(spark, sfDir, nCodes)
    appendToIvfPqIndexAt(spark, buildIvfPqIndex(spark, sfDir, nc, mm, nk),
      batch, out, mm, nk)
  }

  private[graft] def appendToIvfPqIndexAt(spark: SparkSession,
                                          dir: String, batch: DataFrame,
                                          out: String, m: Int, nk: Int,
                                          maxSegments: Int =
                                            IndexStore.DefaultMaxSegments)
      : Unit = {
    if (IndexStore.committed(s"$out/manifest")) return
    val (centroidsPath, codebooksPath, segments) = ivfPqLayout(spark, dir)
    require(IndexStore.committed(centroidsPath) &&
      IndexStore.committed(codebooksPath) &&
      segments.forall(IndexStore.committed),
      s"append base $dir is not a committed index version")
    val centersDf = IndexStore.readCached(spark, centroidsPath)
    val centerDim = centersDf.select(size(col("center"))).head.getInt(0)
    batch.select(size(col("v"))).limit(1).collect().headOption.foreach {
      r => require(r.getInt(0) == centerDim,
        s"batch dim ${r.getInt(0)} != index dim $centerDim")
    }
    // coarse assignment through the slim shared seam
    // ([[assignToCentroids]] — the flat append's exact semantics and
    // shuffle shape)
    val assigned = assignToCentroids(spark, batch, centersDf)
    val encoded = pqEncode(spark, codebooksPath, assigned, m, nk)
    val segment = s"$out/segment"
    val tombSegs = ivfTombSegments(spark, dir)
    if (segments.length + 1 > maxSegments) {
      // compaction trigger: fold the whole chain + batch into ONE fresh
      // cluster-partitioned code segment ([[appendToIvfIndexAt]]'s
      // bound). The fold reads the LIVE view — tombstone-masked codes
      // are dropped physically and the tombstones retired, exactly as
      // in the flat chain's fold
      excludeTombstoned(spark, dir, IndexStore.readUnion(spark, segments))
        .select(col("vec_id"), col("codes"), col("cluster"))
        .unionByName(encoded)
        .repartition(col("cluster"))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .partitionBy("cluster").parquet(segment)
      IndexStore.writeManifest(spark, out,
        Seq(("centroids", centroidsPath, 0L),
          ("codebooks", codebooksPath, 0L), ("codes", segment, 0L)))
    } else {
      encoded
        // one O(batch) shuffle so each touched cluster gets ONE file
        // (the small-file bound of [[appendToIvfIndexAt]])
        .repartition(col("cluster"))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .partitionBy("cluster").parquet(segment)
      // tombstones carried FORWARD (an append must never un-delete)
      IndexStore.writeManifest(spark, out,
        ("centroids", centroidsPath, 0L) +:
          ("codebooks", codebooksPath, 0L) +:
          ((segments :+ segment).zipWithIndex.map { case (s, i) =>
            ("codes", s, i.toLong)
          } ++ tombSegs.zipWithIndex.map { case (s, i) =>
            ("tombstones", s, i.toLong)
          }))
    }
    Checkpoints.release(assigned)
  }

  /** Load-or-build the PAYLOAD-CARRYING IVF layout: the same centroids
    * and cluster-partitioned vectors as the plain index, with the
    * filterable metadata column (`label`) riding IN the vector rows —
    * the layout every production vector store uses for metadata
    * filtering, so a predicate composes with the partition prune as a
    * pushed filter on the SAME scan. Derived from the plain index's
    * committed artifacts (one assignment pass is shared); a from-scratch
    * deployment builds with payload columns on day one.
    */
  private def loadOrBuildFilteredIvf(spark: SparkSession, sfDir: String,
                                     nClusters: Int): String = {
    val dir = IndexStore.indexDir(sfDir, s"ivf$nClusters-flt-v1",
      "embeddings")
    if (!IndexStore.committed(s"$dir/centroids") ||
        !IndexStore.committed(s"$dir/vectors")) {
      val base = loadOrBuildIvf(spark, sfDir, nClusters)
      IndexStore.saveDataset(
        IndexStore.readCached(spark, s"$base/centroids"), s"$dir/centroids")
      val labels = Tables.load(spark, sfDir, "embeddings")
        .select(col("vec_id"), col("label").cast("int").as("label"))
      IndexStore.readCached(spark, s"$base/vectors").join(labels, "vec_id")
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .partitionBy("cluster").parquet(s"$dir/vectors")
    }
    dir
  }

  /** Fraction of the corpus matching `label` — the predicate SELECTIVITY
    * the filtered probe over-probes by. Two cached control-plane counts
    * (at 100 TB both come from table statistics / NDV sketches). The
    * cache keys on the SOURCE fingerprint (as [[IndexStore.indexDir]]
    * does), not the path: selectivity feeds the saturation-exactness
    * property that lets `ann_filtered` share the exact oracle, so a
    * regenerated fixture in the same JVM must never be served a stale
    * figure — both counts run fresh inside the miss, keeping numerator
    * and denominator consistent with each other.
    */
  private val selCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Double]()
  private[graft] def labelSelectivity(spark: SparkSession, sfDir: String,
                                      label: Int): Double = {
    val fp = IndexStore.sourceFingerprint(sfDir, "embeddings")
    selCache.computeIfAbsent(s"$sfDir#$fp#$label", _ => {
      val emb = Tables.load(spark, sfDir, "embeddings")
      val matching = emb.filter(col("label") === label).count()
      matching.toDouble / math.max(1L, emb.count())
    }).doubleValue()
  }

  /** FILTERED approximate k-NN: metadata predicate + IVF probe in ONE
    * plan — the promised-but-missing `search_by_text`-style filtered
    * search direction (`README.md:37`). Two compositions make it scale:
    *
    *  - the predicate prunes INSIDE the partition scan: `label` is a
    *    payload column of the cluster-partitioned index, so the probed
    *    scan carries BOTH `PartitionFilters` (cluster ∈ probed) and
    *    `PushedFilters` (label = L) — matching rows are selected at the
    *    row-group level of only the probed partitions, never filtered
    *    after a full read;
    *  - the probe OVER-PROBES inversely to selectivity: a predicate
    *    matching fraction `sel` of the corpus thins every cluster's
    *    candidates by `sel`, so reaching the unfiltered candidate count
    *    needs ~nprobe/sel clusters (the standard filtered-ANN heuristic).
    *    Saturation at nc clusters makes sparse fixtures EXACT — at the
    *    gate scales the over-probe saturates, so this entry shares the
    *    exact filtered-kNN oracle; at 100 TB (nc = √n ≫ nprobe/sel) it
    *    is a genuine partition-pruned approximate search. A predicate
    *    selective enough to saturate every probe (sel → 0) wants a
    *    different layout — partition by (label, cluster) — noted, not
    *    built: at that point the filter IS the index.
    *
    * Same probe window, distance, and ranking tail as [[ivfKnn]]; same
    * high-Q auto-switch ([[JoinProbeQueryThreshold]], [[probeSide]]).
    */
  def ivfFilteredKnn(spark: SparkSession, sfDir: String, label: Int = 1,
                     nQueries: Int = 10, k: Int = 10, nClusters: Int = 0,
                     nProbe: Int = 0): DataFrame =
    ivfFilteredSearch(spark, sfDir, label, nQueries, k, nClusters, nProbe,
      forceJoin = false)

  /** [[ivfFilteredKnn]] forced onto the joined-probe strategy — the
    * high-Q plan made testable at fixture scale (bit-identity spec).
    */
  private[graft] def ivfFilteredKnnJoined(spark: SparkSession,
                                          sfDir: String, label: Int = 1,
                                          nQueries: Int = 10, k: Int = 10,
                                          nClusters: Int = 0,
                                          nProbe: Int = 0): DataFrame =
    ivfFilteredSearch(spark, sfDir, label, nQueries, k, nClusters, nProbe,
      forceJoin = true)

  /** The over-probed cluster count of a filtered search: nprobe/sel,
    * saturating at the cluster count. Exposed for the saturation spec.
    */
  private[graft] def filteredProbe(nProbe: Int, nClusters: Int,
                                   sel: Double): Int =
    math.min(nClusters.toLong,
      math.ceil(nProbe / math.max(sel, 1e-12)).toLong).toInt

  private def ivfFilteredSearch(spark: SparkSession, sfDir: String,
                                label: Int, nQueries: Int, k: Int,
                                nClusters: Int, nProbe: Int,
                                forceJoin: Boolean): DataFrame = {
    val nc = resolveClusters(spark, sfDir, nClusters)
    val dir = loadOrBuildFilteredIvf(spark, sfDir, nc)
    val centersDf = IndexStore.readCached(spark, s"$dir/centroids")
    val queries = queryVectors(spark, sfDir, nQueries)
    val np = filteredProbe(resolveProbe(nc, nProbe), nc,
      labelSelectivity(spark, sfDir, label))
    val (probes, assigned) =
      if (forceJoin || nQueries.toLong > JoinProbeQueryThreshold)
        (probeSide(probeFrame(queries, centersDf, np),
          if (forceJoin) 0L else nQueries.toLong, np,
          centroidDim(centersDf)),
          IndexStore.readCached(spark, s"$dir/vectors"))
      else {
        val (probedClusters, p) = probe(spark, queries, centersDf, np)
        (broadcast(p), IndexStore.readCached(spark, s"$dir/vectors")
          .filter(col("cluster").isin(probedClusters: _*)))
      }
    VectorSearch.topK(
      probes.join(assigned.filter(col("label") === label), "cluster")
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("id"),
          squaredL2(col("qu"), col("v")).as("dist")), k)
  }

  /** The persisted-IVF scale path through the PURE-SQL surface — what a
    * SQL-only consumer of the library runs (the exact-k-NN twin is
    * `sql_vector_knn`). The index artifacts are exposed as views over the
    * committed layout and the whole probe-then-scan is ONE ANSI statement
    * using the injected `graft_*` expressions: nearest-nprobe centroids
    * per query via a windowed cross join with the O(√n) centroid table,
    * then candidates from the cluster-partitioned vector table joined on
    * `cluster`. The BROADCAST hint on the tiny probe side makes the join
    * a broadcast hash join on the PARTITION column, so Spark's dynamic
    * partition pruning closes the same file-level pruning the programmatic
    * [[ivfKnn]] gets from its `isin` literals (spec-verified in the plan).
    * Same distance expression, same tie-breaking → bit-identical rows to
    * [[ivfKnn]], which is what the spec asserts — the SQL surface
    * inherits the programmatic path's recall gates transitively.
    */
  def sqlAnnIvf(spark: SparkSession, sfDir: String, nQueries: Int = 10,
                k: Int = 10, nClusters: Int = 0,
                nProbe: Int = 0): DataFrame = {
    graft.GraftFunctions.register(spark)
    val nc = resolveClusters(spark, sfDir, nClusters)
    val dir = loadOrBuildIvf(spark, sfDir, nc)
    IndexStore.readCached(spark, s"$dir/centroids")
      .createOrReplaceTempView("ivf_centroids_sql")
    IndexStore.readCached(spark, s"$dir/vectors")
      .createOrReplaceTempView("ivf_vectors_sql")
    Tables.load(spark, sfDir, "embeddings")
      .createOrReplaceTempView("ivf_emb_sql")
    spark.sql(
      s"""WITH queries AS (
         |  SELECT vec_id AS query_id, graft_l2_normalize(
         |    transform(embedding, x -> CAST(x AS DOUBLE))) AS qu
         |  FROM ivf_emb_sql WHERE vec_id < $nQueries
         |), probes AS (
         |  SELECT query_id, qu, cluster FROM (
         |    SELECT q.query_id, q.qu, c.cluster,
         |      row_number() OVER (PARTITION BY q.query_id
         |        ORDER BY graft_squared_l2(q.qu, c.center), c.cluster)
         |        AS cr
         |    FROM queries q CROSS JOIN ivf_centroids_sql c
         |  ) WHERE cr <= ${resolveProbe(nc, nProbe)}
         |), cand AS (
         |  SELECT /*+ BROADCAST(p) */
         |    p.query_id, v.vec_id AS id,
         |    graft_squared_l2(p.qu, v.v) AS dist
         |  FROM probes p JOIN ivf_vectors_sql v
         |    ON v.cluster = p.cluster AND v.vec_id <> p.query_id
         |), ranked AS (
         |  SELECT query_id, id, dist,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY dist, id) AS rn
         |  FROM cand
         |)
         |SELECT query_id, id, round(dist, 6) AS distance,
         |  CAST(rn AS BIGINT) AS rn
         |FROM ranked WHERE rn <= $k ORDER BY query_id, rn""".stripMargin)
  }

  /** The FILTERED IVF path through the PURE-SQL surface — completes the
    * SQL-twin symmetry (knn / ivf / bm25 / minhash / dup_groups /
    * filtered): the payload-carrying index is exposed as views, and the
    * whole predicate-composed probe-then-scan is ONE ANSI statement. The
    * `label = L` predicate sits in the candidate join's ON clause over
    * the view of the cluster-partitioned layout, so it reaches the scan
    * as a pushed row-group filter ALONGSIDE the DPP partition prune from
    * the broadcast probe join — the same one-scan composition as the
    * programmatic [[ivfFilteredKnn]]. The over-probe count is the same
    * [[filteredProbe]] literal (selectivity from the cached
    * control-plane count), so saturation — and with it the exact
    * filtered-kNN oracle — carries over. Bit-identical to
    * [[ivfFilteredKnn]] (spec-asserted).
    */
  def sqlAnnFiltered(spark: SparkSession, sfDir: String, label: Int = 1,
                     nQueries: Int = 10, k: Int = 10, nClusters: Int = 0,
                     nProbe: Int = 0): DataFrame = {
    graft.GraftFunctions.register(spark)
    val nc = resolveClusters(spark, sfDir, nClusters)
    val dir = loadOrBuildFilteredIvf(spark, sfDir, nc)
    IndexStore.readCached(spark, s"$dir/centroids")
      .createOrReplaceTempView("ivf_flt_centroids_sql")
    IndexStore.readCached(spark, s"$dir/vectors")
      .createOrReplaceTempView("ivf_flt_vectors_sql")
    Tables.load(spark, sfDir, "embeddings")
      .createOrReplaceTempView("ivf_emb_sql")
    val np = filteredProbe(resolveProbe(nc, nProbe), nc,
      labelSelectivity(spark, sfDir, label))
    spark.sql(
      s"""WITH queries AS (
         |  SELECT vec_id AS query_id, graft_l2_normalize(
         |    transform(embedding, x -> CAST(x AS DOUBLE))) AS qu
         |  FROM ivf_emb_sql WHERE vec_id < $nQueries
         |), probes AS (
         |  SELECT query_id, qu, cluster FROM (
         |    SELECT q.query_id, q.qu, c.cluster,
         |      row_number() OVER (PARTITION BY q.query_id
         |        ORDER BY graft_squared_l2(q.qu, c.center), c.cluster)
         |        AS cr
         |    FROM queries q CROSS JOIN ivf_flt_centroids_sql c
         |  ) WHERE cr <= $np
         |), cand AS (
         |  SELECT /*+ BROADCAST(p) */
         |    p.query_id, v.vec_id AS id,
         |    graft_squared_l2(p.qu, v.v) AS dist
         |  FROM probes p JOIN ivf_flt_vectors_sql v
         |    ON v.cluster = p.cluster AND v.vec_id <> p.query_id
         |   AND v.label = :label
         |), ranked AS (
         |  SELECT query_id, id, dist,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY dist, id) AS rn
         |  FROM cand
         |)
         |SELECT query_id, id, round(dist, 6) AS distance,
         |  CAST(rn AS BIGINT) AS rn
         |FROM ranked WHERE rn <= $k ORDER BY query_id, rn""".stripMargin,
      Map("label" -> label))
  }

  /** Recall of the approximate searches against the exact k-NN, per query
    * and method — the accuracy report the reference's `efSearch` knob
    * (`main.py:31`) trades against. `meets_floor` flags queries below the
    * method's OWN recall floor (each method sits at a different point on
    * the storage/recall trade — a single global floor would make the flag
    * permanently red for PQ and meaningless as a regression signal), so a
    * recall regression is visible row-by-row in the correctness dump
    * (the spec additionally asserts per-method averages).
    */
  def annRecall(spark: SparkSession, sfDir: String,
                nQueries: Int = 10, k: Int = 10,
                floors: Map[String, Double] = DefaultRecallFloors): DataFrame =
    recallFrame(spark, sfDir, nQueries, k, floors)
      .orderBy("method", "query_id")

  private[graft] val DefaultRecallFloors: Map[String, Double] =
    Map("lsh" -> 0.8, "ivf" -> 0.6, "ivf_sq" -> 0.6,
      "pq" -> 0.4, "ivf_filtered" -> 0.6, "ivf_pq" -> 0.4,
      // the graph leg navigates to the exact neighborhood at fixture
      // scale (measured 1.0 avg on every fixture) — floor set at the
      // LSH tier, the family's high-recall end
      "knn_graph" -> 0.8,
      // the filtered beam saturates at fixture scale (ef/sel >= n), so
      // its measured recall is 1.0 like the unfiltered leg; same floor
      "graph_filtered" -> 0.8)

  /** The gauge tier's shared (method, query) recall frame — computed ONCE
    * per (data fingerprint, nQueries, k, floors) per JVM and
    * localCheckpoint'ed: [[annRecall]] IS this frame ordered, and
    * [[annRecallViolations]] is a pure filter over it, so the exact
    * denominator and the six per-method searches never run twice across
    * the gauge tier (they are ~25% of the whole suite's wall-clock
    * otherwise). Fingerprint keying, as in [[labelSelectivity]], keeps a
    * regenerated fixture from reading a stale frame.
    */
  // session-instance keying + eviction (all three DataFrame caches
  // here, via Checkpoints.FrameCache): a cached checkpointed frame pins
  // the session that created it, so a stop-and-recreate of the session
  // in the same JVM must MISS rather than serve a dead handle, and a
  // superseded-fingerprint or dead-session entry has its blocks
  // RELEASED (the Gates.cached discipline) instead of pinned for the
  // JVM lifetime; only the scalar caches ([[countCache]], [[selCache]])
  // survive a session swap
  private val recallCache = new Checkpoints.FrameCache
  private def recallFrame(spark: SparkSession, sfDir: String,
                          nQueries: Int, k: Int,
                          floors: Map[String, Double]): DataFrame =
    recallCache.getOrCompute(spark,
      s"$sfDir#$nQueries#$k#" + floors.toSeq.sorted.mkString(","),
      IndexStore.sourceFingerprint(sfDir, "embeddings"))(
      computeRecallFrame(spark, sfDir, nQueries, k, floors))

  /** The exact k-NN truth pairs (query_id, id), checkpointed and shared
    * per (fingerprint, nQueries, k): the denominator of every recall
    * gauge ([[annRecall]] via [[recallFrame]], [[annRecallCurve]]) — six
    * per-method hit joins and the curve's nine operating points all read
    * the same materialization instead of re-running the brute-force scan.
    */
  /** Disk-committed exact brute-force truth per (fixture fingerprint,
    * Q, k) — the denominator every recall gauge and shard-merge
    * identity shares. The brute force is O(n·Q·d); at the wide and
    * deep×wide tiers it had become a RECURRING per-round cost paid only
    * to recompute bit-identical rows (round-16 VERDICT: `ann_recall`
    * cold 15.2 s at sf0.1, the deepwide exact truth re-derived per
    * leg), so the first computation is committed ONCE — keyed by the
    * source fingerprint exactly like every index artifact, regenerated
    * fixture ⇒ fresh truth — and every later JVM reads the frozen
    * frame. `knn_search` the ENTRY stays a live computation; this is
    * the gates'/gauges' denominator, not the query path.
    */
  private[graft] def exactKnnAt(spark: SparkSession, sfDir: String,
                                nQueries: Int = 10,
                                k: Int = 10): DataFrame = {
    val dir = IndexStore.indexDir(sfDir, s"exact-knn-$nQueries-$k-v1",
      "embeddings")
    if (!IndexStore.committed(dir))
      IndexStore.saveDataset(
        VectorSearch.knnSearch(spark, sfDir, nQueries, k).coalesce(1),
        dir)
    IndexStore.readCached(spark, dir)
  }

  private val exactCache = new Checkpoints.FrameCache
  private[graft] def exactKnnPairs(spark: SparkSession, sfDir: String,
                            nQueries: Int, k: Int): DataFrame =
    exactCache.getOrCompute(spark, s"$sfDir#$nQueries#$k",
      IndexStore.sourceFingerprint(sfDir, "embeddings"))(
      exactKnnAt(spark, sfDir, nQueries, k)
        .select(col("query_id"), col("id")))

  private def computeRecallFrame(spark: SparkSession, sfDir: String,
                                 nQueries: Int, k: Int,
                                 floors: Map[String, Double]): DataFrame = {
    val exact = exactKnnPairs(spark, sfDir, nQueries, k)
    val allQueries = exact.select(col("query_id")).distinct()
    // left join from the full query list so a method that found zero true
    // neighbors for some query reports recall 0 rather than vanishing.
    // The denominator is the EXACT set's own per-query size, not k: a
    // filtered truth set can hold fewer than k rows (selective label,
    // tiny corpus), and dividing by k there would report recall < 1 for
    // a perfect search and trip the gates spuriously. For the
    // unfiltered methods the exact set has exactly k rows per query, so
    // the value is unchanged.
    def recallAgainst(exactRef: DataFrame, name: String,
                      approx: DataFrame): DataFrame = {
      val denom = exactRef.groupBy("query_id")
        .agg(count(lit(1)).as("n_exact"))
      val hits = exactRef.join(approx.select(col("query_id"), col("id")),
          Seq("query_id", "id"), "left_semi")
        .groupBy("query_id")
        .agg(count(lit(1)).as("n_hits"))
      allQueries.join(denom, Seq("query_id"), "left_outer")
        .join(hits, Seq("query_id"), "left_outer")
        .select(col("query_id"),
          // an EMPTY truth set (no exact rows for this query) is
          // vacuously perfect recall, not 0/k — a query whose filtered
          // slice is empty must not trip the gates
          when(col("n_exact").isNull, lit(1.0))
            .otherwise(coalesce(col("n_hits"), lit(0L)).cast("double") /
              col("n_exact")).as("recall"))
        .withColumn("method", lit(name))
        .withColumn("floor", lit(floors.getOrElse(name, 0.8)))
        .withColumn("meets_floor", col("recall") >= col("floor"))
    }
    def recallOf(name: String, approx: DataFrame): DataFrame =
      recallAgainst(exact, name, approx)
    // the filtered method's truth is the exact FILTERED k-NN — recall
    // against the unfiltered exact would conflate predicate selectivity
    // with probe misses
    val filteredExact = VectorSearch
      .knnSearchFiltered(spark, sfDir, nQueries = nQueries, k = k)
      .select(col("query_id"), col("id")).localCheckpoint(true)
    recallOf("lsh", lshKnn(spark, sfDir, nQueries, k))
      .unionAll(recallOf("ivf", ivfKnn(spark, sfDir, nQueries, k)))
      .unionAll(recallOf("ivf_sq", ivfSqKnn(spark, sfDir, nQueries, k)))
      .unionAll(recallOf("pq",
        Quantize.pqKnn(spark, sfDir, nQueries, k)))
      .unionAll(recallOf("ivf_pq", ivfPqKnn(spark, sfDir, nQueries, k)))
      .unionAll(recallOf("knn_graph",
        GraphAnn.graphKnn(spark, sfDir, nQueries, k)))
      .unionAll(recallAgainst(filteredExact, "ivf_filtered",
        ivfFilteredKnn(spark, sfDir, nQueries = nQueries, k = k)))
      .unionAll(recallAgainst(filteredExact, "graph_filtered",
        GraphAnn.graphKnnFiltered(spark, sfDir, nQueries = nQueries,
          k = k)))
      .select(col("method"), col("query_id"), col("recall"),
        col("floor"), col("meets_floor"))
  }

  /** HARD recall gate: an EMPTY result is the passing state, checked
    * against a typed zero-row oracle, so a recall regression flips the
    * driver's rows_match red instead of hiding inside a boolean column of
    * a rows-only entry. Two violation levels (both rows of the same
    * shape; method-level rows carry NULL query_id):
    *
    *  - method level: avg recall under the method's floor — the same
    *    averages AnnSpec asserts, the real regression signal;
    *  - query level: any single query under the method's CATASTROPHIC
    *    minimum (set well below every observed per-query value, so it
    *    trips on "a query found nothing", not on normal per-query
    *    variance — a per-query gate at the average floor would be
    *    knife-edge: ivf query 5 legitimately sits at 0.5 vs the 0.6
    *    average floor at sf0.01).
    *
    * This is the regression alarm for the reference's accuracy knob
    * (`main.py:31` efSearch — "higher = more accurate").
    */
  def annRecallViolations(spark: SparkSession, sfDir: String,
                          nQueries: Int = 10, k: Int = 10,
                          queryMinima: Map[String, Double] =
                            Map("lsh" -> 0.5, "ivf" -> 0.25,
                              "ivf_sq" -> 0.25, "pq" -> 0.15,
                              "ivf_filtered" -> 0.25,
                              "ivf_pq" -> 0.15,
                              "knn_graph" -> 0.5,
                              "graph_filtered" -> 0.5)): DataFrame = {
    // the SHARED checkpointed gauge frame ([[recallFrame]]): both
    // violation branches — and the `ann_recall` entry itself — read one
    // materialization, so the exact denominator and the six per-method
    // searches run once across the whole gauge tier
    val r = recallFrame(spark, sfDir, nQueries, k, DefaultRecallFloors)
    val qmin = queryMinima.foldLeft(lit(0.0)) { case (acc, (m, f)) =>
      when(col("method") === m, lit(f)).otherwise(acc)
    }
    val methodViol = r.groupBy("method")
      .agg(round(avg(col("recall")), 4).as("recall"),
        first(col("floor")).as("floor"))
      .filter(col("recall") < col("floor"))
      .select(col("method"), lit(null).cast("long").as("query_id"),
        col("recall"), col("floor"))
    val queryViol = r.withColumn("qmin", qmin)
      .filter(col("recall") < col("qmin"))
      .select(col("method"), col("query_id"),
        round(col("recall"), 4).as("recall"), col("qmin").as("floor"))
    methodViol.unionAll(queryViol).orderBy("method", "query_id")
  }

  /** Recall-vs-cost curve: the MEASURED form of the reference's accuracy
    * knob (`main.py:31` efSearch) — 3 operating points per tunable method
    * (IVF and IVF+SQ8 sweep nprobe low/default/full; PQ sweeps the rerank
    * margin), each reported as average recall@k against the exact k-NN
    * PLUS the point's MEASURED price, `cost_rows`:
    *
    *  - ivf / ivf_sq: the candidate rows actually scanned = Σ over
    *    (query, probed cluster) of that cluster's stored size — priced
    *    from the probe assignments and a once-collected cluster-size
    *    table (≤ nClusters = O(√n) rows, control-plane metadata). This is
    *    what `cost = nprobe` hides: per-cluster probe cost shrinks as √n
    *    grows, so rows — not the parameter — are the comparable unit
    *    (ivf_sq scans the same rows at ~3.5× fewer bytes per row).
    *  - pq: ADC scans every code regardless; the rerank margin prices the
    *    full-precision rescore, min(rerank, n-1) rows per query.
    *
    * ivf_pq is deliberately NOT a fourth swept layout: its two knobs are
    * exactly its parents' (nprobe from the IVF probe, rerank from the PQ
    * margin), so the ivf/pq sweeps already span its operating surface —
    * and its composed recall is gated directly by the `ivf_pq` floor in
    * [[annRecallViolations]].
    *
    * Recall is monotone non-decreasing in the cost parameter BY
    * CONSTRUCTION, not just in expectation: a larger nprobe (or rerank
    * margin) produces a SUPERSET of candidates, and top-k over a superset
    * can only move closer to the exact result — so the spec asserts
    * monotonicity deterministically (for cost_rows too), and full probe
    * (nprobe = nClusters) must hit recall 1.0 exactly at
    * cost_rows = nQueries · n. Probe-rank nesting makes the sweep cheap:
    * each layout's candidate frame is materialized ONCE at full probe
    * and an operating point is a rank filter + ranking tail (identical
    * rows to running that point's search directly — the same subset the
    * point's own probe would select). The driver-side loop is
    * control-plane only (≤ 9 operating points, like text_rank's
    * iteration loop); per-point recall is a count aggregate, never a
    * row collect.
    */
  /** The curve is a GAUGE, so it rides the gauge tier's caching
    * discipline ([[recallFrame]]/[[exactKnnPairs]]): the full sweep —
    * all twelve operating points and the trace/candidate frames they
    * derive from — is computed ONCE per (fingerprint, nQueries, k) per
    * JVM and the checkpointed result re-read after that. Fingerprint
    * keying keeps a regenerated fixture from serving a stale curve.
    */
  private val curveCache = new Checkpoints.FrameCache
  def annRecallCurve(spark: SparkSession, sfDir: String,
                     nQueries: Int = 10, k: Int = 10): DataFrame =
    curveCache.getOrCompute(spark, s"$sfDir#$nQueries#$k",
      IndexStore.sourceFingerprint(sfDir, "embeddings"))(
      computeRecallCurve(spark, sfDir, nQueries, k))
      .orderBy("method", "cost")

  private def computeRecallCurve(spark: SparkSession, sfDir: String,
                                 nQueries: Int, k: Int): DataFrame = {
    import spark.implicits._
    val nc = resolveClusters(spark, sfDir, 0)
    // the same checkpointed truth pairs the recall frame reads — the
    // curve's nine operating points add no second exact-kNN job
    val exact = exactKnnPairs(spark, sfDir, nQueries, k)
    val denom = exact.count().toDouble
    def recallOf(approx: DataFrame): Double = {
      val hits = exact.join(approx.select(col("query_id"), col("id")),
        Seq("query_id", "id"), "left_semi").count()
      math.round(hits / denom * 10000.0) / 10000.0
    }
    val ivfDir = loadOrBuildIvf(spark, sfDir, nc)
    val centersDf = IndexStore.readCached(spark, s"$ivfDir/centroids")
    val queries = queryVectors(spark, sfDir, nQueries)
    val n = embeddingCount(spark, sfDir)
    val probePoints = Seq(math.max(1, nc / 8), autoProbe(nc), nc).distinct
    val rerankPoints = Seq(k, 40, 120).distinct
    // probe sets are NESTED in the probe rank, so the whole sweep derives
    // from ONE ranked full-probe frame: pricing is a single Q·nc
    // control-plane collect (never per point), and each layout's
    // candidate frame is materialized ONCE at nprobe = nc — an operating
    // point is then a `cr <= p` filter plus the (cheap) ranking tail,
    // not a re-probe + re-scan
    val probes = probeFrameRanked(queries, centersDf).localCheckpoint(true)
    val clusterSizes = IndexStore.readCached(spark, s"$ivfDir/vectors")
      .groupBy("cluster").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    // GAUGE-ONLY driver collect, Q·nc slim (cluster, rank) pairs — the
    // curve's pricing input, never a production path. Q here is the
    // interactive fixture-query count and nc = O(√n); guard the product
    // so a future caller cannot feed a corpus-sized query frame through
    // the diagnostic (1e7 pairs ≈ 80 MB driver heap, far past any
    // legitimate curve sweep)
    val assignments = probes.select(col("cluster"), col("cr")).collect()
      .map(r => (r.getInt(0), r.getInt(1)))
    require(assignments.length <= 10000000,
      s"annRecallCurve pricing collected ${assignments.length} " +
        "(query, cluster) pairs on the driver - the curve is an " +
        "interactive diagnostic; reduce nQueries or price from " +
        "cluster statistics instead")
    def probedRows(p: Int): Long = assignments.iterator
      .filter(_._2 <= p).map(a => clusterSizes.getOrElse(a._1, 0L)).sum
    // full-probe candidates per layout, each ONE scan+join (ivf_sq holds
    // the same rows per cluster at ~3.5× fewer bytes; pq's ADC scans
    // every code, so its one frame is rerank-independent already)
    val ivfCand = probes
      .join(IndexStore.readCached(spark, s"$ivfDir/vectors"), "cluster")
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("cr"), col("vec_id").as("id"),
        squaredL2(col("qu"), col("v")).as("dist"))
      .localCheckpoint(true)
    val sqDir = buildIvfSqIndex(spark, sfDir, nc)
    val sqCand = probes
      .join(IndexStore.readCached(spark, s"$sqDir/vectors"), "cluster")
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("cr"), col("qu"),
        col("vec_id").as("id"),
        squaredL2(col("qu"),
          transform(col("qv"), x => x.cast("double") / col("scale")))
          .as("adist"))
      .localCheckpoint(true)
    val pqCand = Quantize.pqAdist(spark, sfDir, nQueries)
      .localCheckpoint(true)
    // the graph leg sweeps search DEPTH (hops): visited(h) ⊆
    // visited(h+1) by construction, so the whole sweep derives from ONE
    // checkpointed trace at max depth — an operating point is a
    // `hop <= h` filter + the ranking tail, and its measured price is
    // the point's own visited-set size (the distance evals that depth
    // actually pays). This is the efSearch knob of `main.py:31` in its
    // distributed reading: deeper beam = more accurate = more evals.
    val gDir = GraphAnn.ensureGraphIndex(spark, sfDir)
    val gHops = GraphAnn.autoHops(n, GraphAnn.autoDegree(n))
    // unpruned trace: the depth sweep reconstructs beam-at-depth-h
    // pools from first-scored hops, which the (default) beam cut
    // discards — interactive Q only, Q × explored stays ~10⁵ rows here
    val gTrace = GraphAnn.searchTraceAt(spark, gDir, queries,
      GraphAnn.autoEf(n), gHops, pruneToEf = false).localCheckpoint(true)
    val hopPoints = (Seq(1, 2) ++ Seq(gHops)).distinct.filter(_ <= gHops)
    val normed = VectorSearch.normalized(spark, sfDir)
    val rows =
      hopPoints.map { h =>
        val sub = gTrace.filter(col("hop") <= h)
        ("graph", h.toLong,
          recallOf(VectorSearch.topK(
            sub.filter(col("id") =!= col("query_id"))
              .select(col("query_id"), col("id"), col("dist")), k)),
          sub.count())
      } ++
      probePoints.map { p =>
        ("ivf", p.toLong,
          recallOf(VectorSearch.topK(ivfCand.filter(col("cr") <= p), k)),
          probedRows(p))
      } ++
      probePoints.map { p =>
        ("ivf_sq", p.toLong,
          recallOf(VectorSearch.rescoreTopK(
            VectorSearch.pruneCandidates(
              sqCand.filter(col("cr") <= p), 40), normed, k)),
          probedRows(p))
      } ++
      rerankPoints.map { r =>
        ("pq", r.toLong,
          recallOf(VectorSearch.rescoreTopK(
            VectorSearch.pruneCandidates(pqCand, r), normed, k)),
          math.min(r.toLong, n - 1) * nQueries)
      }
    rows.toDF("method", "cost", "recall", "cost_rows")
      .orderBy("method", "cost")
  }

  /** The deterministic growth batch both lifecycle gates append: every
    * fixture embedding shifted to id + n (the corpus size) with +0.01
    * per element.
    */
  /** One past the corpus's LARGEST vec_id — the collision-free append
    * shift. The id CEILING, not the row count: the scaling ladder's
    * blowup corpora carry sparse ids (max ≈ 10.1 M over 200k rows), so
    * a count-based shift still lands inside the base id space (and the
    * fixture-era +20000 constant overlapped 180k of the 100× base ids
    * outright — the append gate's vector_count invariant measured the
    * collision, not the append). Cached per (dir, fingerprint) like
    * [[tableCount]]; on dense fixture ids (0..n-1) the ceiling equals
    * the count, so fixture artifacts are unchanged.
    */
  private[graft] def embeddingIdCeiling(spark: SparkSession,
                                        sfDir: String): Long =
    countCache.computeIfAbsent(
      s"$sfDir#embeddings#idceiling#" +
        IndexStore.sourceFingerprint(sfDir, "embeddings"),
      _ => Tables.load(spark, sfDir, "embeddings")
        .agg(max(col("vec_id"))).head.getLong(0) + 1L).longValue()

  private[graft] def appendBatch(spark: SparkSession,
                                 sfDir: String): DataFrame = {
    val ceil = embeddingIdCeiling(spark, sfDir)
    Tables.load(spark, sfDir, "embeddings")
      .select((col("vec_id") + ceil).as("vec_id"),
        transform(col("embedding"),
          x => x.cast("double") + lit(0.01)).as("v"))
  }

  /** The k-th deterministic embedding injection batch — the streamed
    * chains' growth fixture. Ids re-base into the k-th id-ceiling
    * window ([k·ceiling, (k+1)·ceiling)): every batch is disjoint from
    * the base AND from every other k at ANY corpus — the old
    * fixed-offset scheme (+30k/+50k/…, chosen clear of the FIXTURES'
    * dense id spaces) landed inside the blowup corpora's sparse id
    * range (max ≈ 10.1 M) and the chains' vector_count invariants
    * measured the collision. `rows > 0` slices the `rows` smallest
    * vec_ids first (deterministic on any id distribution — a raw
    * `vec_id < rows` cut is only a slice when ids are dense).
    */
  private[graft] def injectionBatch(spark: SparkSession, sfDir: String,
                                    k: Int, delta: Double,
                                    rows: Long = 0L): DataFrame = {
    val ceil = embeddingIdCeiling(spark, sfDir)
    val emb = Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
    val sliced =
      if (rows > 0L)
        emb.orderBy(col("vec_id"))
          .limit(math.min(rows, Int.MaxValue.toLong).toInt)
      else emb
    sliced.select((col("vec_id") + k.toLong * ceil).as("vec_id"),
      transform(col("v"), x => x + lit(delta)).as("v"))
  }

  /** HARD gate for the O(batch) IVF append (same zero-row contract as
    * [[annRecallViolations]]): fold the deterministic [[appendBatch]]
    * into a NEW index version via [[appendToIvfIndex]], then emit a
    * violation row if either invariant breaks:
    *
    *  - completeness: the appended version must hold base + batch rows
    *    (a lost cluster partition in the file-copy, or a dropped batch
    *    row, trips this);
    *  - quality: probing the appended version must reach `recallFloor`
    *    average recall@k against the exact k-NN over the appended corpus
    *    (assigning batch rows to wrong/degenerate centroids trips this
    *    even when counts look right).
    *
    * An empty result is the passing state, checked against a typed
    * zero-row oracle, so an append regression flips the driver's
    * rows_match red.
    */
  def ivfAppendViolations(spark: SparkSession, sfDir: String,
                          nQueries: Int = 10, k: Int = 10,
                          recallFloor: Double = 0.5,
                          batchRows: Long = 0L): DataFrame = {
    val nc = resolveClusters(spark, sfDir, 0)
    // batchRows > 0 slices the fixture growth batch to its smallest
    // `batchRows` ids — the steady-state micro-batch shape for corpora
    // where the full doubling batch would dominate the measurement (the
    // deep×wide ladder's convention, [[GraphAnn.graphAppendViolations]]);
    // 0 keeps the doubling fixture batch. Tagged out dir: the two
    // regimes' committed artifacts never collide.
    val tag = if (batchRows <= 0L) "" else s"-b$batchRows"
    val out = IndexStore.indexDir(sfDir, s"ivf$nc-app$tag-v3",
      "embeddings")
    val fullBatch = appendBatch(spark, sfDir)
    val batch = if (batchRows <= 0L) fullBatch
                else fullBatch.orderBy("vec_id").limit(batchRows.toInt)
    appendToIvfIndex(spark, sfDir, batch, out, nc)
    val nBase = embeddingCount(spark, sfDir)
    val nBatch = if (batchRows <= 0L) nBase else batchRows
    // exact top-k over the appended corpus (base ∪ batch, both normalized
    // exactly as the index stores them) — disk-committed per fingerprint
    // ([[appendUnionExact]], r17: the brute force re-ran per call)
    val union = normalizedVec(spark, sfDir).select(col("vec_id"), col("v"))
      .unionAll(batch.select(col("vec_id"), l2Normalize(col("v")).as("v")))
    val exact = appendUnionExact(spark, sfDir, union, nQueries, k,
      batchTag = tag)
    val approx = ivfSearchAt(spark, out,
      queryVectors(spark, sfDir, nQueries), k, resolveProbe(nc, 0),
      expectedQ = nQueries.toLong)
    // ONE action for the scalar checks (r17: was three sequential jobs)
    val g = Actions.gauges(
      "n_out" -> ivfVectors(spark, out).agg(count(lit(1))),
      "hits" -> Actions.hits(exact, approx),
      "n_exact" -> exact.agg(count(lit(1))))
    Actions.violations(spark,
      Actions.exactly("vector_count", nBase + nBatch, g("n_out").toLong),
      Actions.atLeast("avg_recall", recallFloor, g("hits") / g("n_exact")))
  }

  /** HARD gate for the O(batch) IVF+PQ append — [[ivfAppendViolations]]'
    * contract applied to the quantized layout (zero rows = passing,
    * typed zero-row oracle): fold the SAME deterministic [[appendBatch]]
    * into a new IVF+PQ version via [[appendToIvfPqIndex]], then emit a
    * violation row if any invariant breaks:
    *
    *  - completeness: the appended version must hold base + batch code
    *    rows (a lost partition or dropped batch row trips this);
    *  - code width: every stored code array must have exactly m entries
    *    (a partial encode — e.g. a dropped subspace in the frozen-
    *    codebook argmin — trips this even when row counts look right);
    *  - quality: probing the appended version must reach `recallFloor`
    *    average recall@k against the exact k-NN over the appended
    *    corpus. The floor sits below the flat append gate's 0.5: the
    *    probe misses now compose with PQ quantization loss (the same
    *    ordering the `ivf_pq` vs `ivf` floors encode in
    *    [[annRecallViolations]]).
    */
  def ivfPqAppendViolations(spark: SparkSession, sfDir: String,
                            nQueries: Int = 10, k: Int = 10,
                            recallFloor: Double = 0.35): DataFrame = {
    val nc = resolveClusters(spark, sfDir, 0)
    val nk = Quantize.resolveCodes(spark, sfDir, 0)
    val m = Quantize.resolveM(spark, sfDir, 0)
    val out = IndexStore.indexDir(sfDir, s"ivfpq$nc-$m-$nk-app-v2",
      "embeddings")
    val batch = appendBatch(spark, sfDir)
    appendToIvfPqIndex(spark, sfDir, batch, out, nc, m, nk)
    val nBase = embeddingCount(spark, sfDir)
    val codes = IndexStore.readUnion(spark, ivfPqLayout(spark, out)._3)
    val union = normalizedVec(spark, sfDir).select(col("vec_id"), col("v"))
      .unionAll(batch.select(col("vec_id"), l2Normalize(col("v")).as("v")))
    val queries = queryVectors(spark, sfDir, nQueries)
    // the committed appended-corpus truth ([[appendUnionExact]]) + ONE
    // action for the scalar checks (r17: was four sequential jobs)
    val exact = appendUnionExact(spark, sfDir, union, nQueries, k)
    val approx = ivfPqSearchAt(spark, out, queries, union, k,
      resolveProbe(nc, 0), m, nk, rerank = 40,
      expectedQ = nQueries.toLong)
    val g = Actions.gauges(
      "n_out" -> codes.agg(count(lit(1))),
      "bad_width" -> codes.filter(size(col("codes")) =!= m)
        .agg(count(lit(1))),
      "hits" -> Actions.hits(exact, approx),
      "n_exact" -> exact.agg(count(lit(1))))
    Actions.violations(spark,
      Actions.exactly("vector_count", 2 * nBase, g("n_out").toLong),
      Actions.exactly("code_width", 0L, g("bad_width").toLong),
      Actions.atLeast("avg_recall", recallFloor, g("hits") / g("n_exact")))
  }

  /** HARD gate for index REFIT — the lifecycle step after appends: an
    * appended version keeps assigning new vectors to the ORIGINAL
    * centroids (exactly how FAISS IVF adds work), so after enough
    * growth the centroids are stale — fit on half the corpus, sized
    * √(n/2) when the corpus warrants √n. The refit re-runs the SAME
    * k-means build ([[buildIvfOver]] — one build path, refit can't
    * drift) over the appended corpus at its own auto size, and the gate
    * emits a violation row (zero rows = passing, typed zero-row oracle)
    * if either invariant breaks:
    *
    *  - completeness: the refit index must hold exactly the appended
    *    corpus's rows (a dropped cluster in the rewrite trips this);
    *  - quality: probing the refit index must reach at least the
    *    APPENDED version's recall minus `eps` — refreshing centroids
    *    must never cost recall (it typically gains: the refit centroids
    *    see the grown corpus, and the auto probe fraction is
    *    size-consistent again).
    *
    * Build-once: the refit index persists behind the committed gate, so
    * the O(corpus) re-fit prices like every other index build — in the
    * build phase, not the query path.
    */
  def ivfRefitViolations(spark: SparkSession, sfDir: String,
                         nQueries: Int = 10, k: Int = 10,
                         eps: Double = 0.05): DataFrame = {
    val nc = resolveClusters(spark, sfDir, 0)
    val appended = IndexStore.indexDir(sfDir, s"ivf$nc-refit-base-v2",
      "embeddings")
    val batch = appendBatch(spark, sfDir)
    // appendToIvfIndexAt is replay-idempotent on the committed manifest
    // itself — no second guard here, one copy of the commit protocol
    appendToIvfIndex(spark, sfDir, batch, appended, nc)
    val union = normalizedVec(spark, sfDir).select(col("vec_id"), col("v"))
      .unionAll(batch.select(col("vec_id"), l2Normalize(col("v")).as("v")))
    val nc2 = autoClusters(2 * embeddingCount(spark, sfDir))
    val refit = IndexStore.indexDir(sfDir, s"ivf$nc2-refit-v2",
      "embeddings")
    if (!IndexStore.committed(s"$refit/centroids") ||
        !IndexStore.committed(s"$refit/vectors"))
      buildIvfOver(spark, union, nc2, refit)
    val queries = queryVectors(spark, sfDir, nQueries)
    // the committed appended-corpus truth + ONE action for all six
    // scalar checks (r17: was six sequential jobs)
    val exact = appendUnionExact(spark, sfDir, union, nQueries, k)
    def hitsAt(dir: String, p: Int): DataFrame = Actions.hits(exact,
      ivfSearchAt(spark, dir, queries, k, p, nQueries.toLong))
    val g = Actions.gauges(
      "n_appended" -> ivfVectors(spark, appended).agg(count(lit(1))),
      "n_refit" -> ivfVectors(spark, refit).agg(count(lit(1))),
      "hits_before" -> hitsAt(appended, resolveProbe(nc, 0)),
      "hits_after" -> hitsAt(refit, resolveProbe(nc2, 0)),
      "n_exact" -> exact.agg(count(lit(1))))
    Actions.violations(spark,
      Actions.exactly("vector_count", g("n_appended").toLong,
        g("n_refit").toLong),
      Actions.atLeast("refit_recall",
        g("hits_before") / g("n_exact") - eps,
        g("hits_after") / g("n_exact")))
  }

  /** HARD gate for CODEBOOK refit — [[ivfRefitViolations]]' contract
    * extended to the quantized family: IVF+PQ appends freeze the
    * codebooks by design ([[pqEncode]] — FAISS `IndexIVFPQ.add`
    * semantics), so quantization error drifts unbounded across appends
    * unless a refit periodically re-trains them over the grown corpus.
    * FAISS retrains codebooks on refit; this gate is the gauge that
    * keeps the engine's lifecycle story symmetric. The refit re-runs
    * BOTH parents' shared builds over the appended corpus at its own
    * auto sizes — centroids through [[buildIvfOver]] (the SAME dir the
    * flat refit gate builds, shared work), codebooks through
    * [[Quantize.buildPqOver]] (one PQ build path, refit can't drift) —
    * and composes them through the one [[composeIvfPq]] seam. Violation
    * rows (zero = passing, typed zero-row oracle):
    *
    *  - completeness: the refit index must hold exactly the appended
    *    corpus's rows;
    *  - code width: every refit code array must have exactly m entries;
    *  - quality: probing the refit index must reach at least the
    *    APPENDED (frozen-codebook) version's recall minus `eps` —
    *    re-training codebooks must never cost recall.
    *
    * Build-once: all three rebuilt artifacts persist behind committed
    * gates, so the O(corpus) re-fit prices in the build phase.
    */
  def ivfPqRefitViolations(spark: SparkSession, sfDir: String,
                           nQueries: Int = 10, k: Int = 10,
                           eps: Double = 0.05): DataFrame = {
    val nc = resolveClusters(spark, sfDir, 0)
    val nk = Quantize.resolveCodes(spark, sfDir, 0)
    val m = Quantize.resolveM(spark, sfDir, 0)
    // the SAME appended version the PQ append gate builds (idempotent)
    val appended = IndexStore.indexDir(sfDir, s"ivfpq$nc-$m-$nk-app-v2",
      "embeddings")
    val batch = appendBatch(spark, sfDir)
    appendToIvfPqIndex(spark, sfDir, batch, appended, nc, m, nk)
    val union = normalizedVec(spark, sfDir).select(col("vec_id"), col("v"))
      .unionAll(batch.select(col("vec_id"), l2Normalize(col("v")).as("v")))
    val n2 = 2 * embeddingCount(spark, sfDir)
    val nc2 = autoClusters(n2)
    val nk2 = Quantize.codesFor(n2)
    // centroid side: the refit IVF the flat gate builds (shared path +
    // shared work); codebook side: the PQ build path over the union
    val refitIvf = IndexStore.indexDir(sfDir, s"ivf$nc2-refit-v2",
      "embeddings")
    if (!IndexStore.committed(s"$refitIvf/centroids") ||
        !IndexStore.committed(s"$refitIvf/vectors"))
      buildIvfOver(spark, union, nc2, refitIvf)
    val refitPq = IndexStore.indexDir(sfDir, s"pq$m-$nk2-refit-v2",
      "embeddings")
    Quantize.buildPqOver(spark, union, m, nk2, refitPq)
    val refit = IndexStore.indexDir(sfDir, s"ivfpq$nc2-$m-$nk2-refit-v2",
      "embeddings")
    if (!IndexStore.committed(s"$refit/centroids") ||
        !IndexStore.committed(s"$refit/codebooks") ||
        !IndexStore.committed(s"$refit/codes"))
      composeIvfPq(spark, refitIvf, refitPq, refit)
    val codes = IndexStore.readUnion(spark, ivfPqLayout(spark, refit)._3)
    val nRefit = codes.count()
    val badWidth = codes.filter(size(col("codes")) =!= m).count()
    val queries = queryVectors(spark, sfDir, nQueries)
    val exact = unionExactTopK(union, queries, k)
    def recallOf(dir: String, probeN: Int, nkOf: Int): Double = {
      val approx = ivfPqSearchAt(spark, dir, queries, union, k, probeN,
        m, nkOf, rerank = 40, expectedQ = nQueries.toLong)
      Actions.hits(exact, approx).head().getLong(0).toDouble / exact.count()
    }
    val before = recallOf(appended, resolveProbe(nc, 0), nk)
    val after = recallOf(refit, resolveProbe(nc2, 0), nk2)
    Actions.violations(spark,
      Actions.exactly("vector_count", n2, nRefit),
      Actions.exactly("code_width", 0L, badWidth),
      Actions.atLeast("refit_recall", before - eps, after))
  }

  /** HARD gate for index DELETION — the lifecycle event between append
    * and compact (takedowns/retention; the reference's `IndexIDMap`,
    * `main.py:60-62`, makes entries id-addressable for exactly this):
    * fold the deterministic [[appendBatch]] into a version, DELETE every
    * 5th batch id via an O(batch) tombstone version
    * ([[deleteFromIvfIndexAt]]), then emit a violation row (zero rows =
    * passing, typed zero-row oracle) if any invariant breaks:
    *
    *  - exclusion: searching the deleted version must return NO
    *    tombstoned id (a read path that misses the tombstone anti-join
    *    trips this);
    *  - merge-on-read completeness: the live view must hold exactly
    *    base + batch − deleted rows;
    *  - physical drop: compacting the deleted version must leave
    *    exactly the live rows on disk (tombstones resolved, not
    *    carried);
    *  - quality: probing the COMPACTED index must reach `recallFloor`
    *    average recall@k against the exact k-NN over the live corpus —
    *    deletion must not degrade what remains.
    */
  def ivfDeleteViolations(spark: SparkSession, sfDir: String,
                          nQueries: Int = 10, k: Int = 10,
                          recallFloor: Double = 0.5): DataFrame = {
    val nc = resolveClusters(spark, sfDir, 0)
    // the SAME appended version the append gate builds (idempotent —
    // one append job serves both gates in a suite run)
    val appended = IndexStore.indexDir(sfDir, s"ivf$nc-app-v3",
      "embeddings")
    val batch = appendBatch(spark, sfDir)
    appendToIvfIndex(spark, sfDir, batch, appended, nc)
    val delIds = batch.select(col("vec_id"))
      .filter(col("vec_id") % 5 === 0)
    val deleted = IndexStore.indexDir(sfDir, s"ivf$nc-del-v2",
      "embeddings")
    deleteFromIvfIndexAt(spark, appended, delIds, deleted)
    val nBase = embeddingCount(spark, sfDir)
    val queries = queryVectors(spark, sfDir, nQueries)
    val res = ivfSearchAt(spark, deleted, queries, k,
      resolveProbe(nc, 0), expectedQ = nQueries.toLong)
    val compacted = IndexStore.indexDir(sfDir, s"ivf$nc-delc-v2",
      "embeddings")
    if (!IndexStore.committed(s"$compacted/centroids") ||
        !IndexStore.committed(s"$compacted/vectors"))
      compactIvfTo(spark, deleted, compacted)
    // the live corpus: base ∪ batch minus the deleted ids, normalized
    // exactly as the index stores them; its exact truth is a pure
    // fixture function — disk-committed ([[appendUnionExact]], shared
    // with the PQ delete gate's identical live corpus)
    val live = normalizedVec(spark, sfDir).select(col("vec_id"), col("v"))
      .unionAll(batch.select(col("vec_id"), l2Normalize(col("v")).as("v")))
      .join(delIds, Seq("vec_id"), "left_anti")
    val exact = appendUnionExact(spark, sfDir, live, nQueries, k,
      batchTag = "-del")
    val postCompact = ivfSearchAt(spark, compacted, queries, k,
      resolveProbe(nc, 0), expectedQ = nQueries.toLong)
    // ONE action for the six scalar checks (r17: was six sequential jobs)
    val g = Actions.gauges(
      "n_del" -> delIds.agg(count(lit(1))),
      "deleted_in_results" -> res
        .join(delIds.select(col("vec_id").as("id")), Seq("id"),
          "left_semi")
        .agg(count(lit(1))),
      "n_live" -> ivfLiveVectors(spark, deleted).agg(count(lit(1))),
      "n_compact" -> ivfVectors(spark, compacted).agg(count(lit(1))),
      "hits" -> Actions.hits(exact, postCompact),
      "n_exact" -> exact.agg(count(lit(1))))
    val nLiveExpected = 2 * nBase - g("n_del").toLong
    Actions.violations(spark,
      Actions.exactly("deleted_in_results", 0L,
        g("deleted_in_results").toLong),
      Actions.exactly("live_count", nLiveExpected, g("n_live").toLong),
      Actions.exactly("compact_count", nLiveExpected, g("n_compact").toLong),
      Actions.atLeast("post_compact_recall", recallFloor,
        g("hits") / g("n_exact")))
  }

  /** HARD gate for IVF+PQ DELETION — [[ivfDeleteViolations]]' contract
    * on the quantized production-default layout, so the takedown
    * surface is symmetric across both index families: fold the
    * deterministic [[appendBatch]] into an IVF+PQ version, delete every
    * 5th batch id via an O(batch) tombstone version
    * ([[deleteFromIvfPqIndexAt]]), then emit a violation row (zero rows
    * = passing, typed zero-row oracle) if any invariant breaks:
    *
    *  - exclusion: the ADC search over the deleted version must return
    *    NO tombstoned id;
    *  - merge-on-read completeness: the live code view must hold
    *    exactly base + batch − deleted rows;
    *  - quality: probing the deleted version must reach `recallFloor`
    *    average recall@k against the exact k-NN over the LIVE corpus
    *    (same floor as the PQ append gate — quantization loss composes
    *    with probe misses, deletion must add nothing).
    */
  def ivfPqDeleteViolations(spark: SparkSession, sfDir: String,
                            nQueries: Int = 10, k: Int = 10,
                            recallFloor: Double = 0.35): DataFrame = {
    val nc = resolveClusters(spark, sfDir, 0)
    val nk = Quantize.resolveCodes(spark, sfDir, 0)
    val m = Quantize.resolveM(spark, sfDir, 0)
    val appended = IndexStore.indexDir(sfDir, s"ivfpq$nc-$m-$nk-app-v2",
      "embeddings")
    val batch = appendBatch(spark, sfDir)
    appendToIvfPqIndex(spark, sfDir, batch, appended, nc, m, nk)
    val delIds = batch.select(col("vec_id"))
      .filter(col("vec_id") % 5 === 0)
    val deleted = IndexStore.indexDir(sfDir, s"ivfpq$nc-$m-$nk-del-v2",
      "embeddings")
    deleteFromIvfPqIndexAt(spark, appended, delIds, deleted)
    val nBase = embeddingCount(spark, sfDir)
    val live = normalizedVec(spark, sfDir).select(col("vec_id"), col("v"))
      .unionAll(batch.select(col("vec_id"), l2Normalize(col("v")).as("v")))
      .join(delIds, Seq("vec_id"), "left_anti")
    val queries = queryVectors(spark, sfDir, nQueries)
    val approx = ivfPqSearchAt(spark, deleted, queries, live, k,
      resolveProbe(nc, 0), m, nk, rerank = 40,
      expectedQ = nQueries.toLong)
    // the SAME committed live-corpus truth as the flat delete gate
    // (identical corpus — one artifact serves both) + ONE action for
    // the five scalar checks (r17: was five sequential jobs)
    val exact = appendUnionExact(spark, sfDir, live, nQueries, k,
      batchTag = "-del")
    val g = Actions.gauges(
      "n_del" -> delIds.agg(count(lit(1))),
      "deleted_in_results" -> approx
        .join(delIds.select(col("vec_id").as("id")), Seq("id"),
          "left_semi")
        .agg(count(lit(1))),
      "n_live" -> excludeTombstoned(spark, deleted,
        IndexStore.readUnion(spark, ivfPqLayout(spark, deleted)._3))
        .agg(count(lit(1))),
      "hits" -> Actions.hits(exact, approx),
      "n_exact" -> exact.agg(count(lit(1))))
    Actions.violations(spark,
      Actions.exactly("deleted_in_results", 0L,
        g("deleted_in_results").toLong),
      Actions.exactly("live_count", 2 * nBase - g("n_del").toLong,
        g("n_live").toLong),
      Actions.atLeast("avg_recall", recallFloor, g("hits") / g("n_exact")))
  }

  /** Disk-committed exact truth over the APPENDED corpus (base ∪ the
    * deterministic growth batch) per (fixture fingerprint, Q, k, batch
    * tag) — the [[exactKnnAt]] discipline applied to the append/refit
    * gates' denominator, shared by BOTH index families (the graph gates
    * had a per-JVM cache; the IVF gates re-ran the brute force per
    * call). The truth is a pure function of the fixture, so committing
    * it once per fingerprint weakens no gate: the alarms re-run the
    * INDEX path per call, only the bit-identical denominator is read.
    * `union` is consumed only on the first (building) call.
    */
  private[graft] def appendUnionExact(spark: SparkSession, sfDir: String,
                                      union: DataFrame, nQueries: Int,
                                      k: Int,
                                      batchTag: String = ""): DataFrame = {
    val dir = IndexStore.indexDir(sfDir,
      s"exact-app-$nQueries-$k$batchTag-v1", "embeddings")
    if (!IndexStore.committed(dir)) {
      val truth = unionExactTopK(union,
        queryVectors(spark, sfDir, nQueries), k)
      IndexStore.saveDataset(truth.coalesce(1), dir)
      Checkpoints.release(truth)
    }
    IndexStore.readCached(spark, dir)
  }

  /** Average recall@k of probing the index at `dir` against the exact
    * k-NN over an explicit normalized corpus — the shared measurement of
    * both append gates (batch and streamed). `expectedQ` is the CALLER's
    * known query count (required, no default): a recall gauge over a
    * large query batch must take the driver-safe joined probe exactly
    * like a search would. `exactOverride` supplies an already-committed
    * truth frame (the append/refit gates' [[appendUnionExact]]) so the
    * brute force isn't re-run per call; the numerator and denominator
    * fold into ONE action ([[Actions.gauges]], r17 — was two).
    */
  private[graft] def probeRecall(spark: SparkSession, dir: String,
                                 union: DataFrame, queries: DataFrame,
                                 k: Int, nProbe: Int,
                                 expectedQ: Long,
                                 exactOverride: Option[DataFrame] = None)
      : Double = {
    val exact = exactOverride.getOrElse(unionExactTopK(union, queries, k))
    val approx = ivfSearchAt(spark, dir, queries, k, nProbe, expectedQ)
    val g = Actions.gauges(
      "hits" -> Actions.hits(exact, approx),
      "n_exact" -> exact.agg(count(lit(1))))
    g("hits") / g("n_exact")
  }

  /** Exact top-k (query_id, id) over an explicit normalized corpus — the
    * shared truth set of every append-gate recall measurement, so the
    * flat and PQ gates can never drift in their exact baseline.
    */
  private[graft] def unionExactTopK(union: DataFrame,
                                    queries: DataFrame,
                                    k: Int): DataFrame =
    VectorSearch.topK(
      union.join(broadcast(queries), col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("id"),
          squaredL2(col("qu"), col("v")).as("dist")), k)
      .select(col("query_id"), col("id")).localCheckpoint(true)

  /** The fixture's auto-sized PQ codebook cardinality — exposed so specs
    * drive the append-at-dir path with the same nk the build used.
    */
  private[graft] def pqCodebookSize(spark: SparkSession,
                                    sfDir: String): Int =
    Quantize.resolveCodes(spark, sfDir, 0)

  private[graft] def defaultProbe(spark: SparkSession,
                                  sfDir: String): Int = {
    val nc = resolveClusters(spark, sfDir, 0)
    resolveProbe(nc, 0)
  }

  private[graft] def normalizedCorpus(spark: SparkSession,
                                      sfDir: String): DataFrame =
    normalizedVec(spark, sfDir).select(col("vec_id"), col("v"))

  private[graft] def fixtureQueries(spark: SparkSession, sfDir: String,
                                    nQueries: Int): DataFrame =
    queryVectors(spark, sfDir, nQueries)

  private[graft] def ensureIvfIndex(spark: SparkSession,
                                    sfDir: String): String =
    loadOrBuildIvf(spark, sfDir, 0)

  /** [[ivfSearchAt]] opened to the streaming package — the delete-at-
    * ingest gate searches an explicit (possibly tombstoned) version
    * through the exact same dispatch as every other caller.
    */
  private[graft] def searchIndexAt(spark: SparkSession, dir: String,
                                   queries: DataFrame, k: Int,
                                   nProbe: Int, expectedQ: Long): DataFrame =
    ivfSearchAt(spark, dir, queries, k, nProbe, expectedQ)

  /** Build-once IVF index over the hashed-BoW DOCUMENT embedding space
    * ([[VectorSearch.textEmbed]]) — the index the hybrid retrieval
    * stack's vector leg rides ([[TfIdf.hybridSearchAnn]]), so the query
    * every RAG stack runs stops exact-scanning the corpus at scale. Goes
    * through the ONE [[buildIvfOver]] fit (doc embeddings are already
    * unit-normalized by textEmbed), keyed to the `documents` source
    * fingerprint.
    */
  private[graft] def loadOrBuildDocIvf(spark: SparkSession, sfDir: String,
                                       dim: Int = 16): String = {
    val nc = autoClusters(tableCount(spark, sfDir, "documents"))
    val dir = IndexStore.indexDir(sfDir, s"ivfdoc$nc-$dim-v1", "documents")
    if (!IndexStore.committed(s"$dir/centroids") ||
        !IndexStore.committed(s"$dir/vectors")) {
      val corpus = VectorSearch.textEmbed(
        Tables.load(spark, sfDir, "documents")
          .select(col("doc_id"), col("text")), dim)
        .select(col("doc_id").as("vec_id"), col("v"))
      buildIvfOver(spark, corpus, nc, dir)
    }
    dir
  }

  /** Probe count for a retrieval leg asking for the top `perLeg` of an
    * n-row corpus: when the requested depth is a noticeable fraction of
    * the corpus (≥ 1/[[HybridSatFactor]]), probing saturates to a full
    * scan — the standard selectivity switch of any optimizer, and what
    * makes the leg EXACT at fixture scale (the shared-oracle property,
    * same trick as [[filteredProbe]]'s saturation). At 100 TB
    * (perLeg ≪ n/12) the default probe fraction applies and the leg's
    * recall rides the spec floor.
    */
  private[graft] val HybridSatFactor = 12L
  private[graft] def hybridVecProbe(nClusters: Int, perLeg: Int,
                                    n: Long): Int =
    if (perLeg.toLong * HybridSatFactor >= n) nClusters
    else autoProbe(nClusters)

  /** [[VectorSearch.mmrRerank]] with the candidate POOL riding the
    * persisted IVF index instead of the exact broadcast scan — the
    * retrieve→diversify stack index-backed end-to-end, completing the
    * RAG triad next to [[TfIdf.hybridSearchAnn]] (retrieve→fuse). The
    * pool stage is the probe-pruned partitioned scan of `ann_ivf`; the
    * candidates then re-fetch their vectors via a broadcast equi-join
    * (Q·C rows against the corpus — a semi-join-shaped narrow pass, at
    * 100 TB the only corpus touch outside the probed partitions), qsim
    * is re-derived with the SAME codegen ArrayDot as the exact entry,
    * and the greedy runs the shared [[VectorSearch.mmrGreedy]] tail.
    *
    * Probe sizing rides [[hybridVecProbe]]: at fixture scale
    * nCandidates=50 of ≤600 vectors saturates the probe, the pool is
    * EXACTLY the top-C relevance pool, and the entry is bit-identical
    * to `mmr_rerank` (spec-asserted) — so it shares the DuckDB oracle
    * verbatim. At corpus scale the default probe fraction applies and
    * the pool is genuinely approximate (recall rides AnnSpec's
    * non-saturated floor, same regime as the hybrid leg).
    */
  def mmrRerankAnn(spark: SparkSession, sfDir: String, nQueries: Int = 10,
                   k: Int = 10, nCandidates: Int = 50,
                   lambda: Double = 0.7): DataFrame = {
    val nc = resolveClusters(spark, sfDir, 0)
    val np = hybridVecProbe(nc, nCandidates, embeddingCount(spark, sfDir))
    val dir = loadOrBuildIvf(spark, sfDir, nc)
    val queries = queryVectors(spark, sfDir, nQueries)
    val cands = ivfSearchAt(spark, dir, queries, nCandidates, np,
        expectedQ = nQueries.toLong)
      .select(col("query_id"), col("id"))
    // broadcast hints only while Q·C is broadcast-sized — a batch-query
    // run past the probe threshold drops them and lets the equi-joins
    // shuffle, mirroring ivfSearchAt's own joined-strategy switch
    val (candSide, querySide) =
      if (nQueries <= JoinProbeQueryThreshold)
        (broadcast(cands), broadcast(queries))
      else (cands, queries)
    val pool = VectorSearch.normalized(spark, sfDir)
      .select(col("vec_id").as("id"), col("v"))
      .join(candSide, "id")
      .join(querySide, "query_id")
      .select(col("query_id"), col("id"), col("v"),
        graft.functions.VectorOps.dot(col("qu"), col("v")).as("qsim"))
    VectorSearch.mmrGreedy(spark, pool, k, lambda)
  }

  /** HARD gate for the flagships' GENUINELY APPROXIMATE operating point
    * (zero rows = passing, typed zero-row oracle): `hybrid_search_ann`
    * and `mmr_rerank_ann` saturate their probes at fixture scale
    * ([[hybridVecProbe]]) — bit-identical to exact, which is what lets
    * them share the exact entries' DuckDB oracles, but it means the
    * approximate regime they run at corpus scale had no CORRECTNESS row
    * of its own. This gate drives BOTH index legs at the default probe
    * fraction (the regime `hybridVecProbe` selects once perLeg ≪ n),
    * asserts the point is genuinely below saturation, and pins each
    * leg's recall@perLeg against its own saturated (exact) probe:
    *
    *  - `hybrid_probe_saturated` / `mmr_probe_saturated`: the swept
    *    point must sit strictly below the full probe, or the gate is
    *    vacuous (trips only if a fixture shrinks past the autoProbe
    *    collapse);
    *  - `hybrid_leg_recall` / `mmr_pool_recall`: recall of the probed
    *    candidate set against the saturated set, floored — the measured
    *    promise the saturation switch rests on at 100 TB.
    */
  def hybridProbeViolations(spark: SparkSession, sfDir: String,
                            perLeg: Int = 50,
                            recallFloor: Double = 0.6): DataFrame = {
    def legRecall(dir: String, queries: DataFrame, nc: Int,
                  expectedQ: Long): (Int, Double) = {
      val np = autoProbe(nc)
      val exact = ivfSearchAt(spark, dir, queries, perLeg, nc, expectedQ)
        .select(col("query_id"), col("id")).localCheckpoint(true)
      val probed = ivfSearchAt(spark, dir, queries, perLeg, np, expectedQ)
        .select(col("query_id"), col("id"))
      (np, Actions.hits(exact, probed).head().getLong(0).toDouble /
        exact.count())
    }
    val docNc = autoClusters(tableCount(spark, sfDir, "documents"))
    val (docNp, hybridRecall) = legRecall(
      loadOrBuildDocIvf(spark, sfDir),
      TfIdf.hybridQueryVec(spark, sfDir), docNc, expectedQ = 1L)
    val embNc = resolveClusters(spark, sfDir, 0)
    val (embNp, mmrRecall) = legRecall(
      loadOrBuildIvf(spark, sfDir, embNc),
      queryVectors(spark, sfDir, 10), embNc, expectedQ = 10L)
    Actions.violations(spark,
      Actions.atMost("hybrid_probe_saturated", docNc - 1, docNp),
      Actions.atMost("mmr_probe_saturated", embNc - 1, embNp),
      Actions.atLeast("hybrid_leg_recall", recallFloor, hybridRecall),
      Actions.atLeast("mmr_pool_recall", recallFloor, mmrRecall))
  }
}
