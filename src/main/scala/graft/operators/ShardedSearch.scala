package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorOps._
import graft.sources.IndexStore

/** Sharded scatter-gather k-NN — FAISS `IndexShards` semantics restated
  * for a cluster. The reference holds its whole index in one process
  * (`main.py:60-62`); at 100 TB no single artifact can be built, held,
  * or searched as a unit, so a real deployment splits the corpus into K
  * disjoint shards, builds one index PER SHARD through the one existing
  * build path, and answers a query by scatter (per-shard top-k) +
  * gather (global re-rank of the K·k candidates).
  *
  * The shard-merge theorem (what [[shardMergeViolations]] pins): for
  * EXACT per-shard search, scatter-gather is bit-identical to the
  * unsharded answer for ANY K — every global top-k member lives in
  * exactly one shard, where it is also among that shard's top-k (its
  * within-shard rank can only be ≤ its global rank), so the gathered
  * K·k candidates contain the whole answer and the one shared ranking
  * tail ([[VectorSearch.topK]]) orders them identically. For
  * APPROXIMATE per-shard search the merge inherits each shard's recall:
  * a neighbor missed by its OWN shard's index is gone, but neighbors in
  * other shards are unaffected — sharding never compounds the error
  * across shards, so the sharded recall floor is the per-shard floor.
  *
  * Scale shape: shards are hash-disjoint (`pmod(vec_id, K)`), so builds
  * are embarrassingly parallel (K independent jobs over 1/K of the
  * corpus each — the build that was one 100 TB job becomes K 100/K TB
  * jobs that fit per-node resources), and the scatter is K independent
  * probed scans whose ONLY cross-shard traffic is the Q·k candidate
  * rows each shard emits. The gather rescores the ≤ Q·K·k gathered
  * candidates on full-precision vectors (a broadcast map-side join —
  * the batch analog of FAISS's refine step) and re-ranks through the
  * shared tail — O(Q·K·k), independent of corpus size.
  */
object ShardedSearch {

  /** Fixture shard count — enough to make the merge non-trivial (the
    * gate also pins K=1 degeneracy); a deployment sizes K to per-node
    * build memory, not to a constant.
    */
  val DefaultShards = 4

  /** Deterministic disjoint shard id. Hash-mod (not range) so shard
    * sizes stay balanced under any id distribution — the id-ordered
    * prefix skew of a monotone ingest never lands in one shard.
    */
  private[graft] def shardOf(c: org.apache.spark.sql.Column,
                             shards: Int) =
    pmod(xxhash64(c), lit(shards.toLong))

  private def queryFrame(spark: SparkSession, sfDir: String,
                         nQueries: Int): DataFrame =
    VectorSearch.normalized(spark, sfDir)
      .filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qu"))

  /** EXACT scatter-gather k-NN: per-(shard, query) top-k, then global
    * re-rank — bit-identical to [[VectorSearch.knnSearch]] for any K
    * (the shard-merge theorem above; `sharded_knn` shares the exact
    * oracle verbatim). The whole scatter is ONE declarative plan: the
    * per-shard truncation is a rank filter over (shard, query_id), so
    * Catalyst plans it as WindowGroupLimit with a PARTIAL limit below
    * the exchange — on a cluster each shard's partitions truncate to k
    * rows per query map-side and ship only Q·k rows to the gather, the
    * scatter-gather traffic pattern, not a data movement of the corpus.
    * Distances stay UNROUNDED through the scatter; the single rounding
    * is the shared tail's, as in every other search path.
    */
  def shardedKnn(spark: SparkSession, sfDir: String, nQueries: Int = 10,
                 k: Int = 10, shards: Int = DefaultShards): DataFrame = {
    val normed = VectorSearch.normalized(spark, sfDir)
    val queries = queryFrame(spark, sfDir, nQueries)
    val pairs = normed
      .withColumn("shard", shardOf(col("vec_id"), shards))
      .join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(col("shard"), col("query_id"), col("vec_id").as("id"),
        squaredL2(col("qu"), col("v")).as("dist"))
    val w = Window.partitionBy("shard", "query_id")
      .orderBy(col("dist"), col("id"))
    val scattered = pairs.withColumn("srn", row_number().over(w))
      .filter(col("srn") <= k)
      .select(col("query_id"), col("id"), col("dist"))
    VectorSearch.topK(scattered, k)
  }

  /** Per-shard cluster count: the √n rule applied to the SHARD's size —
    * each shard's index is sized like a standalone index over its own
    * 1/K of the corpus (FAISS `IndexShards` builds K independent
    * IVFs the same way).
    */
  private[operators] def shardClusters(n: Long, shards: Int): Int =
    AnnSearch.autoClusters(math.max(1L, (n + shards - 1) / shards))

  /** Build (once) the K per-shard IVF indexes, each through THE one
    * existing IVF build path ([[AnnSearch.buildIvfOver]]) over its hash
    * slice of the corpus — shard builds cannot drift from the unsharded
    * build in fit parameters or layout. Returns the K shard dirs.
    * Each dir is an ordinary IVF index: every existing read path
    * (search, append, manifest lifecycle) applies to a shard unchanged.
    */
  def buildShardedIvf(spark: SparkSession, sfDir: String,
                      shards: Int = DefaultShards): Seq[String] = {
    val n = AnnSearch.embeddingCount(spark, sfDir)
    val nc = shardClusters(n, shards)
    (0 until shards).map { s =>
      val dir = IndexStore.indexDir(sfDir, s"ivfshard$shards-$s-v1",
        "embeddings")
      if (!IndexStore.committed(s"$dir/centroids") ||
          !IndexStore.committed(s"$dir/vectors"))
        AnnSearch.buildIvfOver(spark,
          VectorSearch.normalized(spark, sfDir)
            .filter(shardOf(col("vec_id"), shards) === s),
          nc, dir, knownN = math.max(1L, (n + shards - 1) / shards))
      dir
    }
  }

  /** Per-shard graph degree: [[GraphAnn.autoDegree]] applied to the
    * SHARD's size — each shard's graph is sized like a standalone index
    * over its own 1/K of the corpus, the [[shardClusters]] rule.
    */
  private[operators] def shardDegree(n: Long, shards: Int): Int =
    GraphAnn.autoDegree(math.max(1L, (n + shards - 1) / shards))

  /** Build (once) the K per-shard GRAPH indexes, each through THE one
    * NN-descent build path ([[GraphAnn.buildGraphOver]]) over its hash
    * slice. This is the deployment answer to the build cost the
    * deep×wide ladder measured (SCALING.md: 500k × 2048 builds in
    * 867 s with an n-exponent of 0.77–1.03): NN-descent's cost grows
    * at-least-linearly in n with a super-linear shuffle/spill share
    * past the storage pool, so at 100 TB the ONE build is infeasible —
    * but K hash-disjoint shard builds are K INDEPENDENT jobs of n/K
    * nodes each, schedulable in parallel on separate resources, each
    * inside the regime the ladder proved. Search inherits each shard's
    * recall (the shard-merge theorem's approximate half: missing a
    * neighbor requires its OWN shard's beam to miss it; other shards
    * are unaffected).
    */
  def buildShardedGraph(spark: SparkSession, sfDir: String,
                        shards: Int = DefaultShards): Seq[String] = {
    val deg = shardDegree(AnnSearch.embeddingCount(spark, sfDir), shards)
    (0 until shards).map { s =>
      val dir = IndexStore.indexDir(sfDir, s"graphshard$shards-$s-v1",
        "embeddings")
      GraphAnn.buildGraphOver(spark,
        AnnSearch.normalizedCorpus(spark, sfDir)
          .filter(shardOf(col("vec_id"), shards) === s), dir, deg)
      dir
    }
  }

  /** Build (once) the K-shard IVF+PQ topology — FAISS `IndexShards` on
    * the QUANTIZED family, with the FAISS training practice: the
    * quantizers are trained ONCE (the fixture index's coarse centroids
    * + PQ codebooks, both fit under the `max_points_per_centroid`
    * bound) and SHARED by every shard, because per-shard training
    * would make a vector's code depend on which shard the hash routed
    * it to — recall would vary with topology and a re-shard would have
    * to re-encode the corpus. Each shard dir holds the shared
    * control-plane artifacts (centroids + codebooks, KB-sized copies)
    * plus its OWN hash slice of the cluster-partitioned m-byte codes:
    * the storage — the only corpus-sized artifact, and at 100 TB the
    * thing that doesn't fit one node — is what shards. Codes are
    * written LAST (the [[AnnSearch.buildIvfPqIndex]] commit-marker
    * convention), and every shard dir is an ordinary IVF+PQ layout:
    * the one existing ADC read path applies unchanged.
    */
  def buildShardedIvfPq(spark: SparkSession, sfDir: String,
                        shards: Int = DefaultShards): Seq[String] = {
    val src = AnnSearch.buildIvfPqIndex(spark, sfDir)
    val dirs = (0 until shards).map(s =>
      IndexStore.indexDir(sfDir, s"ivfpqshard$shards-$s-v1",
        "embeddings"))
    if (dirs.exists(d => !IndexStore.committed(s"$d/codes"))) {
      // ONE pass over the code table (the [[reshardIvf]] checkpoint
      // rule): the K slice writes each filter the SAME frame, and the
      // codes are the only corpus-sized artifact here — materialize
      // once, slice K times from the checkpointed blocks, release when
      // the last shard has committed
      val codes = IndexStore.readCached(spark, s"$src/codes").localCheckpoint(true)
      try dirs.zipWithIndex.foreach { case (dir, s) =>
        if (!IndexStore.committed(s"$dir/codes")) {
          IndexStore.saveDataset(
            IndexStore.readCached(spark, s"$src/centroids"), s"$dir/centroids")
          IndexStore.saveDataset(
            IndexStore.readCached(spark, s"$src/codebooks"), s"$dir/codebooks")
          codes.filter(shardOf(col("vec_id"), shards) === s)
            .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
            .partitionBy("cluster").parquet(s"$dir/codes")
        }
      } finally Checkpoints.release(codes)
    }
    dirs
  }

  /** IVF+PQ scatter-gather: ADC-probe each shard's code slice through
    * the one existing read path ([[AnnSearch.ivfPqSearchAt]] — shared
    * LUT arithmetic, probe tie-breaking, margin semantics), gather the
    * ≤ Q·K·k rescored candidates, re-rank through the shared rescore
    * tail. Because every shard shares the ONE trained quantizer pair,
    * a vector's ADC distance is the same number in any shard — so the
    * merge theorem's approximate half applies verbatim: the gathered
    * candidate set is a SUPERSET of the unsharded margin (a global
    * ADC-top-r candidate is ADC-top-r within its own shard), and the
    * merged recall can only meet or beat the per-shard `ivf_pq` floor
    * (gated in [[shardMergeViolations]]).
    */
  def shardedIvfPqKnn(spark: SparkSession, sfDir: String,
                      nQueries: Int = 10, k: Int = 10,
                      shards: Int = DefaultShards, nProbe: Int = 0,
                      rerank: Int = 40): DataFrame = {
    val dirs = buildShardedIvfPq(spark, sfDir, shards)
    val nc = AnnSearch.clusterCountAt(spark, dirs.head)
    val m = Quantize.resolveM(spark, sfDir, 0)
    val nk = Quantize.resolveCodes(spark, sfDir, 0)
    val p = if (nProbe == -1) nc
            else if (nProbe > 0) math.min(nProbe, nc)
            else AnnSearch.autoProbe(nc)
    val queries = queryFrame(spark, sfDir, nQueries)
    val normed = VectorSearch.normalized(spark, sfDir)
    // ONE LUT table for the whole topology (shared training makes the
    // K per-shard tables identical), one MATERIALIZED slim margin per
    // shard probed sequentially, and ONE exact rescore of the gathered
    // union: a single K-way union plan runs K full ADC subplans in one
    // job — K× the LUT construction and K× the in-flight wide rows,
    // which OOM'd a 24 g heap at the deep×wide point — and rescoring
    // per shard pays K+1 full-precision corpus passes where the
    // gathered margin needs one. Sequential per-shard jobs bound peak
    // memory to ONE shard's ADC plan (the deployment shape: each
    // shard's scan runs on its own executors and only ≤ Q·rerank id
    // rows travel), and the gathered margin is a SUPERSET of the
    // per-shard top-k gather, so the one-rescore merge can only
    // improve on it.
    val luts = Quantize.pqLutsAt(spark, s"${dirs.head}/codebooks",
        queries, m, nk)
      .select(col("query_id"), col("lut")).localCheckpoint(true)
    try {
      val gathered = dirs.map { dir =>
        AnnSearch.ivfPqMarginAt(spark, dir, queries, p, m, nk,
            rerank, expectedQ = nQueries.toLong, lutsIn = Some(luts))
          .select(col("query_id"), col("id")).localCheckpoint(true)
      }.reduce(_ unionAll _)
      VectorSearch.rescoreTopK(
        gathered.join(broadcast(queries), "query_id")
          .select(col("query_id"), col("qu"), col("id")),
        normed, k)
    } finally Checkpoints.release(luts)
  }

  /** Graph scatter-gather: beam each shard's graph (the one existing
    * search path, per-shard autoEf/autoHops at the SHARD's size),
    * gather the ≤ Q·K·k candidates, re-rank through the shared rescore
    * tail — the [[shardedIvfKnn]] shape on the graph family. No
    * saturation trick exists for a beam, so the merged recall floor is
    * the per-shard `knn_graph` floor, gated in
    * [[shardMergeViolations]].
    */
  def shardedGraphKnn(spark: SparkSession, sfDir: String,
                      nQueries: Int = 10, k: Int = 10,
                      shards: Int = DefaultShards): DataFrame = {
    val dirs = buildShardedGraph(spark, sfDir, shards)
    val n = AnnSearch.embeddingCount(spark, sfDir)
    val shardN = math.max(1L, (n + shards - 1) / shards)
    val deg = shardDegree(n, shards)
    val queries = queryFrame(spark, sfDir, nQueries)
    // the K iterative per-shard beams overlapped (Actions.par, guide
    // §2.6): each beam is a chain of small hop jobs, so running the
    // shards' chains concurrently back-fills the executor instead of
    // serializing K× the hop latency; results keep `dirs` order
    val gathered = Actions.par(dirs.map(dir => () =>
      GraphAnn.graphSearchAt(spark, dir, queries, k,
          GraphAnn.autoEf(shardN), GraphAnn.autoHops(shardN, deg),
          expectedQ = nQueries.toLong)
        .select(col("query_id"), col("id"))
    )).reduce(_ unionAll _)
    VectorSearch.rescoreTopK(
      gathered.join(broadcast(queries), "query_id")
        .select(col("query_id"), col("qu"), col("id")),
      VectorSearch.normalized(spark, sfDir), k)
  }

  /** Route one ingest batch into the sharded topology — FAISS
    * `IndexShards.add` semantics: a row's shard is the SAME pure hash of
    * its id the build used ([[shardOf]]), so routing never depends on
    * ingest order or topology state, and each shard folds its slice
    * through THE one existing O(batch) append path
    * ([[AnnSearch.appendToIvfIndexAt]]) producing a NEW per-shard
    * version dir. K independent O(batch/K) append jobs — the write path
    * scales exactly like the build path (the 100 TB ingest is K
    * feasible appends, each touching only its shard's files), and every
    * shard version keeps the whole single-index lifecycle (manifest
    * commit protocol, tombstones, compaction, retention) unchanged.
    * Replay-idempotent per shard behind the manifest commit gate.
    */
  def appendToShards(spark: SparkSession, sfDir: String,
                     batch: DataFrame, shards: Int = DefaultShards,
                     tag: String = "app1"): Seq[String] = {
    val base = buildShardedIvf(spark, sfDir, shards)
    (0 until shards).map { s =>
      val out = IndexStore.indexDir(sfDir,
        s"ivfshard$shards-$s-$tag-v1", "embeddings")
      AnnSearch.appendToIvfIndexAt(spark, base(s),
        batch.filter(shardOf(col("vec_id"), shards) === s), out)
      out
    }
  }

  /** Route one takedown batch of vec_ids into the sharded topology —
    * FAISS `IndexShards` + `remove_ids` semantics: an id's shard is the
    * SAME pure hash the build and append used ([[shardOf]] — routing
    * can never disagree with where the id was indexed), and each OWNING
    * shard folds its slice through THE one existing O(batch) tombstone
    * path ([[AnnSearch.deleteFromIvfIndexAt]]) producing a NEW per-shard
    * version dir. Shards that own none of the ids are NOT touched — no
    * version churn, no manifest write, their dir is returned unchanged:
    * at 100 TB a takedown of a handful of ids must cost O(ids), not
    * O(K) index versions. The only cross-shard coordination is K
    * control-plane counts (which shards own anything); the deletes
    * themselves share nothing across shards. Compliance-critical at
    * scale: this is the write a takedown/GDPR request actually issues
    * against the deployed topology.
    */
  def deleteFromShards(spark: SparkSession, sfDir: String,
                       delIds: DataFrame, shards: Int = DefaultShards,
                       tag: String = "del1"): Seq[String] =
    deleteRouted(spark, sfDir, buildShardedIvf(spark, sfDir, shards),
      delIds, shards, s => s"ivfshard$shards-$s-$tag-v1",
      (b, slice, out) => AnnSearch.deleteFromIvfIndexAt(spark, b, slice,
        out))

  /** The GRAPH family's sharded takedown — [[deleteFromShards]] routed
    * through [[GraphAnn.deleteFromGraphIndex]]: one O(batch) tombstone
    * segment per OWNING shard, unowning shards untouched. The per-shard
    * beam keeps traversing tombstoned nodes and masks them only from
    * the final ranking (the graph family's masked-delete discipline),
    * so the merged scatter-gather can never surface a deleted id.
    */
  def deleteFromGraphShards(spark: SparkSession, sfDir: String,
                            delIds: DataFrame,
                            shards: Int = DefaultShards,
                            tag: String = "gdel1"): Seq[String] =
    deleteRouted(spark, sfDir, buildShardedGraph(spark, sfDir, shards),
      delIds, shards, s => s"graphshard$shards-$s-$tag-v1",
      (b, slice, out) => GraphAnn.deleteFromGraphIndex(spark, b, slice,
        out))

  /** The one delete-routing kernel both families share: hash-route the
    * ids, ask which shards own any (K control-plane counts — the only
    * driver-side data), and run the family's tombstone writer on each
    * owning shard's slice. Unowning shards return their base dir
    * untouched.
    */
  private def deleteRouted(spark: SparkSession, sfDir: String,
                           base: Seq[String], delIds: DataFrame,
                           shards: Int, name: Int => String,
                           del: (String, DataFrame, String) => Unit)
      : Seq[String] = {
    val routed = delIds.select(col("vec_id"))
      .withColumn("shard", shardOf(col("vec_id"), shards))
    val owning = routed.groupBy("shard").agg(count(lit(1)))
      .collect().map(_.getLong(0)).toSet
    (0 until shards).map { s =>
      if (!owning.contains(s.toLong)) base(s)
      else {
        val out = IndexStore.indexDir(sfDir, name(s), "embeddings")
        del(base(s), routed.filter(col("shard") === s)
          .select(col("vec_id")), out)
        out
      }
    }
  }

  /** Route one ingest batch into the sharded GRAPH topology — the
    * [[appendToShards]] contract on the graph family: a row's shard is
    * the same pure hash the build used, each shard folds its slice
    * through THE one existing beam-link append path
    * ([[GraphAnn.appendToGraphIndexAt]]) into a NEW per-shard version.
    * K independent O(batch/K) appends; every per-shard version keeps
    * the whole graph lifecycle (manifest chains, in-chain compaction,
    * tombstones) unchanged.
    */
  def appendToGraphShards(spark: SparkSession, sfDir: String,
                          batch: DataFrame,
                          shards: Int = DefaultShards,
                          tag: String = "gapp1"): Seq[String] = {
    val base = buildShardedGraph(spark, sfDir, shards)
    (0 until shards).map { s =>
      val out = IndexStore.indexDir(sfDir,
        s"graphshard$shards-$s-$tag-v1", "embeddings")
      GraphAnn.appendToGraphIndexAt(spark, base(s),
        batch.filter(shardOf(col("vec_id"), shards) === s), out)
      out
    }
  }

  /** Graph scatter-gather over EXPLICIT shard version dirs with an
    * explicit rescore corpus — the post-write read path of the graph
    * topology ([[scatterGatherAt]]'s beam twin): beam each dir with
    * knobs auto-derived from the dir's OWN state
    * ([[GraphAnn.graphSearchAtAuto]] — a written shard's n has grown,
    * its beam must widen with it), gather, re-rank through the one
    * shared rescore tail.
    */
  private[graft] def scatterGatherGraphAt(spark: SparkSession,
                                          dirs: Seq[String],
                                          queries: DataFrame,
                                          corpus: DataFrame,
                                          k: Int): DataFrame = {
    // K iterative beams overlapped (the [[shardedGraphKnn]] rationale)
    val gathered = Actions.par(dirs.map(dir => () =>
      GraphAnn.graphSearchAtAuto(spark, dir, queries, k)
        .select(col("query_id"), col("id"))
    )).reduce(_ unionAll _)
    VectorSearch.rescoreTopK(
      gathered.join(broadcast(queries), "query_id")
        .select(col("query_id"), col("qu"), col("id")),
      corpus, k)
  }

  /** Re-shard: rebuild a K′-shard topology FROM the stored shards (the
    * live vectors the K source dirs actually hold — tombstone-masked,
    * appended rows included), not from the original source table — the
    * operational re-shard of FAISS `IndexShards` add/merge semantics
    * (shard counts change when the fleet does; the data of record is
    * the index). Each new shard builds through the one existing build
    * path at its own √(n/K′) sizing.
    */
  def reshardIvf(spark: SparkSession, sfDir: String,
                 srcDirs: Seq[String], shards: Int,
                 tag: String): Seq[String] = {
    // ONE pass over the K-way union: at a real re-shard `stored` is
    // corpus-sized, and without the checkpoint it would be re-scanned
    // once for the count and once per new shard's filtered build
    // (round-16 VERDICT) — checkpoint, build every shard from the
    // materialized blocks, release when the last build has committed
    val stored = srcDirs.map(d => AnnSearch.ivfLiveVectors(spark, d)
      .select(col("vec_id"), col("v"))).reduce(_ unionAll _)
      .localCheckpoint(true)
    try {
      val n = stored.count()
      val nc = shardClusters(n, shards)
      val perShard = math.max(1L, (n + shards - 1) / shards)
      (0 until shards).map { s =>
        val dir = IndexStore.indexDir(sfDir,
          s"ivfreshard$shards-$s-$tag-v1", "embeddings")
        if (!IndexStore.committed(s"$dir/centroids") ||
            !IndexStore.committed(s"$dir/vectors"))
          AnnSearch.buildIvfOver(spark,
            stored.filter(shardOf(col("vec_id"), shards) === s), nc, dir,
            knownN = perShard)
        dir
      }
    } finally Checkpoints.release(stored)
  }

  /** Re-shard the GRAPH topology: rebuild a K′-shard graph topology
    * FROM the stored shards' live vectors (tombstone-masked, appended
    * rows included — [[reshardIvf]]'s data-of-record contract on the
    * beam family). Each new shard rebuilds through the one NN-descent
    * build path at its own n/K′ sizing — a re-shard is K′ independent
    * builds of exactly the shape the deep×wide measurement priced
    * (SCALING.md round-16: K feasible jobs, spill deleted), which is
    * why changing K on a live graph deployment is an operation, not a
    * migration.
    */
  def reshardGraph(spark: SparkSession, sfDir: String,
                   srcDirs: Seq[String], shards: Int,
                   tag: String): Seq[String] = {
    // ONE pass over the K-way union (the [[reshardIvf]] checkpoint
    // rule: at a real re-shard the union is corpus-sized and would
    // otherwise re-scan once for the count + once per new shard)
    val stored = srcDirs.map(d => GraphAnn.graphLiveVectors(spark, d))
      .reduce(_ unionAll _).localCheckpoint(true)
    try {
      val deg = shardDegree(stored.count(), shards)
      (0 until shards).map { s =>
        val dir = IndexStore.indexDir(sfDir,
          s"graphreshard$shards-$s-$tag-v1", "embeddings")
        GraphAnn.buildGraphOver(spark,
          stored.filter(shardOf(col("vec_id"), shards) === s), dir, deg)
        dir
      }
    } finally Checkpoints.release(stored)
  }

  /** Scatter-gather over EXPLICIT shard version dirs with an explicit
    * rescore corpus — the post-append / post-re-shard read path: probe
    * each dir (saturated when `nProbe` = -1, at the dir's own cluster
    * count), gather, re-rank through the one shared rescore tail
    * against the corpus the shards now hold.
    */
  private[graft] def scatterGatherAt(spark: SparkSession,
                                     dirs: Seq[String],
                                     queries: DataFrame, corpus: DataFrame,
                                     k: Int, nProbe: Int,
                                     expectedQ: Long): DataFrame = {
    // per-shard leg construction overlapped (Actions.par, guide §2.6):
    // each leg's collect-probe embeds a control-plane job, and K of
    // them were running back-to-back; results keep `dirs` order so the
    // gathered union is deterministic
    val gathered = Actions.par(dirs.map(dir => () => {
      val nc = AnnSearch.clusterCountAt(spark, dir)
      val p = if (nProbe == -1) nc else math.min(nProbe, nc)
      AnnSearch.ivfSearchAt(spark, dir, queries, k, p, expectedQ)
        .select(col("query_id"), col("id"))
    })).reduce(_ unionAll _)
    VectorSearch.rescoreTopK(
      gathered.join(broadcast(queries), "query_id")
        .select(col("query_id"), col("qu"), col("id")),
      corpus, k)
  }

  /** ANN scatter-gather: probe each shard's IVF index (the one existing
    * search path, [[AnnSearch.ivfSearchAt]] — collect-probe at low Q,
    * joined-probe + DPP above the threshold, per shard), gather the
    * ≤ Q·K·k candidates, and re-rank them globally on full-precision
    * distances through the shared rescore + [[VectorSearch.topK]] tail.
    *
    * `nProbe = 0` derives the per-shard auto probe (the non-saturated
    * corpus-scale operating point — recall floor gated in
    * [[shardMergeViolations]]); `nProbe = -1` saturates every shard
    * (probe all clusters), which makes each shard's search exact and
    * the merge therefore bit-identical to the unsharded exact answer —
    * the fixture operating point of the `ann_sharded` entry, sharing
    * the exact oracle (the `ann_filtered` convention: saturated at
    * fixture scale, genuinely approximate at 100 TB, floor gated).
    */
  def shardedIvfKnn(spark: SparkSession, sfDir: String,
                    nQueries: Int = 10, k: Int = 10,
                    shards: Int = DefaultShards,
                    nProbe: Int = 0): DataFrame = {
    val dirs = buildShardedIvf(spark, sfDir, shards)
    val nc = shardClusters(AnnSearch.embeddingCount(spark, sfDir), shards)
    val p = if (nProbe == -1) nc
            else if (nProbe > 0) nProbe
            else AnnSearch.autoProbe(nc)
    val queries = queryFrame(spark, sfDir, nQueries)
    // per-shard legs overlapped (Actions.par — the scatterGatherAt
    // rationale); input order preserved, union deterministic
    val gathered = Actions.par(dirs.map(dir => () =>
      AnnSearch.ivfSearchAt(spark, dir, queries, k, math.min(p, nc),
          expectedQ = nQueries.toLong)
        .select(col("query_id"), col("id"))
    )).reduce(_ unionAll _)
    // global re-rank: exact rescore of the bounded candidate set — the
    // single rounding point, so a saturated-probe run is bit-identical
    // to the unsharded exact search (no double-rounded tie-breaks)
    VectorSearch.rescoreTopK(
      gathered.join(broadcast(queries), "query_id")
        .select(col("query_id"), col("qu"), col("id")),
      VectorSearch.normalized(spark, sfDir), k)
  }

  /** The zero-row sharded-WRITE gate (`shard_append_violations`) — the
    * lifecycle half of the sharded story ([[shardMergeViolations]] pins
    * the read half): route the deterministic injection batch into the
    * K=4 topology ([[appendToShards]]), then pin
    *
    *  1. `append_scatter_gather` — saturated scatter-gather over the
    *     APPENDED shard versions is bit-identical to the exact k-NN
    *     over base ∪ batch (the shard-merge theorem must survive a
    *     write: a batch row routed to the wrong shard, dropped, or
    *     double-appended breaks this);
    *  2. `append_coverage` — the appended shards together hold exactly
    *     base + batch rows;
    *  3. `append_disjoint` — no vec_id indexed by more than one shard
    *     after the append (routing is deterministic by id, so append
    *     routing can never overlap build routing);
    *  4. `reshard_identity` — a K′=2 topology rebuilt FROM the stored
    *     K=4 shards ([[reshardIvf]] — the data of record is the index,
    *     not the source table) answers saturated scatter-gather
    *     bit-identically to the same exact truth: re-sharding preserves
    *     the corpus and the merge theorem holds at any K.
    */
  def shardAppendViolations(spark: SparkSession, sfDir: String,
                            nQueries: Int = 10, k: Int = 10): DataFrame = {
    val shards = DefaultShards
    val batch = AnnSearch.injectionBatch(spark, sfDir, 1, 0.04)
    val appended = appendToShards(spark, sfDir, batch, shards)
    val queries = queryFrame(spark, sfDir, nQueries)
    // the post-append corpus, normalized exactly as the shards store it;
    // checkpointed — it anchors the exact truth and both rescore tails
    val union = VectorSearch.normalized(spark, sfDir)
      .select(col("vec_id"), col("v"))
      .unionAll(batch.select(col("vec_id"),
        l2Normalize(col("v")).as("v")))
      .localCheckpoint(true)
    val exact = VectorSearch.topK(
      union.join(broadcast(queries), col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("id"),
          squaredL2(col("qu"), col("v")).as("dist")), k)
      .localCheckpoint(true)
    // r17 job structure: the four scatter-gathers are checkpointed once
    // (each symDiff side used to re-run the whole probe/beam plan) and
    // every scalar folds into ONE [[Actions.gauges]] action — the gate
    // was ~15 sequential count() jobs
    def symDiffFrame(other: DataFrame): DataFrame =
      exact.exceptAll(other).select(lit(1L).as("one"))
        .unionAll(other.exceptAll(exact).select(lit(1L).as("one")))
        .agg(count(lit(1)))
    def dupFrame(ids: DataFrame): DataFrame =
      ids.groupBy("vec_id").agg(count(lit(1)).as("c"))
        .filter(col("c") > 1).agg(count(lit(1)))
    val sat = scatterGatherAt(spark, appended, queries,
      union, k, nProbe = -1, expectedQ = nQueries.toLong)
      .localCheckpoint(true)
    val ids = appended.map(d => AnnSearch.ivfVectors(spark, d)
      .select(col("vec_id"))).reduce(_ unionAll _)
    // the injection batch is the full corpus re-based (rows = n,
    // fingerprint-cached) — control-plane, no count job
    val want = 2 * AnnSearch.embeddingCount(spark, sfDir)
    val resharded = reshardIvf(spark, sfDir, appended, 2, "app1")
    val re = scatterGatherAt(spark, resharded, queries,
      union, k, nProbe = -1, expectedQ = nQueries.toLong)
      .localCheckpoint(true)
    // the GRAPH family's write legs (round 17 — symmetry with the IVF
    // shard writes above): the same batch hash-routed into the K graph
    // shards through the one beam-link append path, then coverage,
    // disjointness, and the merged beam's recall against the SAME
    // exact truth over base ∪ batch (a beam has no saturation trick,
    // so the write contract is the `knn_graph` family floor, the
    // shard-merge theorem's approximate half)
    val gAppended = appendToGraphShards(spark, sfDir, batch, shards)
    val gIds = gAppended.map(d =>
      IndexStore.loadSegments(spark, d, "vectors")
        .select(col("vec_id")).distinct()).reduce(_ unionAll _)
    val exactPairs = exact.select(col("query_id"), col("id"))
    val gApprox = scatterGatherGraphAt(spark, gAppended, queries,
      union, k).select(col("query_id"), col("id"))
      .localCheckpoint(true)
    val gFloor = AnnSearch.DefaultRecallFloors("knn_graph")
    // the GRAPH family's re-shard (round 17 — symmetry with
    // `reshard_identity` above): a K′=2 graph topology rebuilt FROM the
    // appended K=4 graph shards' stored vectors must hold exactly
    // base ∪ batch (coverage/disjointness — the corpus survives the
    // re-shard) and its merged beam must hold the family floor against
    // the SAME exact truth (a beam has no saturation trick, so the
    // re-shard contract is the merge theorem's approximate half at the
    // new K)
    val gResharded = reshardGraph(spark, sfDir, gAppended, 2, "gapp1")
    val rIds = gResharded.map(d =>
      IndexStore.loadSegments(spark, d, "vectors")
        .select(col("vec_id"))).reduce(_ unionAll _)
    val rApprox = scatterGatherGraphAt(spark, gResharded, queries,
      union, k).select(col("query_id"), col("id"))
      .localCheckpoint(true)
    val g = Actions.gauges(
      "sat_diff" -> symDiffFrame(sat),
      "coverage" -> ids.agg(count(lit(1))),
      "dup_ids" -> dupFrame(ids),
      "re_diff" -> symDiffFrame(re),
      "g_coverage" -> gIds.agg(count(lit(1))),
      "g_dups" -> dupFrame(gIds),
      "g_hits" -> Actions.hits(exactPairs, gApprox),
      "r_coverage" -> rIds.agg(count(lit(1))),
      "r_dups" -> dupFrame(rIds),
      "r_hits" -> Actions.hits(exactPairs, rApprox),
      "n_exact" -> exactPairs.agg(greatest(count(lit(1)), lit(1L))))
    Seq(sat, re, gApprox, rApprox, union, exact)
      .foreach(Checkpoints.release)
    def n(gauge: String): Long = g(gauge).toLong
    Actions.violations(spark,
      Actions.exactly("append_scatter_gather", 0L, n("sat_diff")),
      Actions.exactly("append_coverage", want, n("coverage")),
      Actions.exactly("append_disjoint", 0L, n("dup_ids")),
      Actions.exactly("reshard_identity", 0L, n("re_diff")),
      Actions.exactly("graph_append_coverage", want, n("g_coverage")),
      Actions.exactly("graph_append_disjoint", 0L, n("g_dups")),
      Actions.exactly("graph_reshard_coverage", want, n("r_coverage")),
      Actions.exactly("graph_reshard_disjoint", 0L, n("r_dups")),
      Actions.atLeast("graph_append_recall", gFloor,
        g("g_hits") / g("n_exact")),
      Actions.atLeast("graph_reshard_recall", gFloor,
        g("r_hits") / g("n_exact")))
  }

  /** The zero-row sharded-DELETE gate (`shard_delete_violations`) — the
    * takedown cell of the lifecycle × topology matrix, for BOTH index
    * families. Fixture: every 7th corpus id EXCEPT those the last shard
    * owns (so one shard provably receives no deletes — the isolation
    * contract is pinned in the topology, not just in row counts),
    * routed via [[deleteFromShards]] / [[deleteFromGraphShards]]. Rows:
    *
    *  1. `delete_nonvacuous` — the takedown set is non-empty (the
    *     exclusion rows below cannot pass by deleting nothing);
    *  2. `ivf_delete_exclusion` — no deleted id surfaces in a saturated
    *     scatter-gather over the deleted shard versions (the masked id
    *     must be gone at ANY probe depth — saturation is the adversarial
    *     worst case);
    *  3. `ivf_delete_scatter_gather` — that scatter-gather is
    *     bit-identical to the exact k-NN over base ∖ deleted (the merge
    *     theorem survives the takedown);
    *  4. `ivf_delete_live_count` — the shards' live views together hold
    *     exactly n − |deleted| rows;
    *  5. `ivf_delete_untouched_shard` — the unowning shard's dir is
    *     returned UNCHANGED (same committed version, no tombstone churn:
    *     deletes share nothing across shards);
    *  6-9. `graph_delete_exclusion` / `graph_delete_live_count` /
    *     `graph_delete_untouched_shard` / `graph_delete_recall` — the
    *     same contract on the graph topology; the beam keeps traversing
    *     masked nodes, so exclusion pins the ranking mask and the
    *     recall row (vs the exact k-NN over the live corpus, `knn_graph`
    *     floor) pins that masking didn't break navigability.
    */
  def shardDeleteViolations(spark: SparkSession, sfDir: String,
                            nQueries: Int = 10, k: Int = 10): DataFrame = {
    val shards = DefaultShards
    val base = buildShardedIvf(spark, sfDir, shards)
    val gBase = buildShardedGraph(spark, sfDir, shards)
    val normed = VectorSearch.normalized(spark, sfDir)
    val delIds = normed.select(col("vec_id"))
      .filter(col("vec_id") % 7 === 0 &&
        shardOf(col("vec_id"), shards) =!= (shards - 1))
      .localCheckpoint(true)
    val deleted = deleteFromShards(spark, sfDir, delIds, shards)
    val gDeleted = deleteFromGraphShards(spark, sfDir, delIds, shards)
    val n = AnnSearch.embeddingCount(spark, sfDir)
    val queries = queryFrame(spark, sfDir, nQueries)
    // the survivor corpus, normalized exactly as the shards store it —
    // anchors the exact truth and both rescore tails
    val live = normed.select(col("vec_id"), col("v"))
      .join(delIds, Seq("vec_id"), "left_anti")
      .localCheckpoint(true)
    val exact = VectorSearch.topK(
      live.join(broadcast(queries), col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("id"),
          squaredL2(col("qu"), col("v")).as("dist")), k)
      .localCheckpoint(true)
    val sg = scatterGatherAt(spark, deleted, queries, live, k,
      nProbe = -1, expectedQ = nQueries.toLong).localCheckpoint(true)
    val delAsId = delIds.select(col("vec_id").as("id"))
    val gApprox = scatterGatherGraphAt(spark, gDeleted, queries, live, k)
      .localCheckpoint(true)
    // per-shard live frames unioned so the K counts fold into one gauge
    def liveAll(f: IndexFamily, dirs: Seq[String]): DataFrame =
      dirs.map(f.liveIds(spark, _)).reduce(_ unionAll _)
    val ivfLiveAll = liveAll(IndexFamily.Ivf, deleted)
    val gLiveAll = liveAll(IndexFamily.Graph, gDeleted)
    val exactPairs = exact.select(col("query_id"), col("id"))
    // ONE action for the seven scalar checks (r17: was ~12 sequential
    // jobs — the K per-shard live counts each had their own)
    val g = Actions.gauges(
      "ivf_leaked" -> sg.join(delAsId, Seq("id"), "left_semi")
        .agg(count(lit(1))),
      "ivf_diff" -> exact.exceptAll(sg).select(lit(1L).as("one"))
        .unionAll(sg.exceptAll(exact).select(lit(1L).as("one")))
        .agg(count(lit(1))),
      "ivf_live" -> ivfLiveAll.agg(count(lit(1))),
      "g_leaked" -> gApprox.join(delAsId, Seq("id"), "left_semi")
        .agg(count(lit(1))),
      "g_live" -> gLiveAll.agg(count(lit(1))),
      "g_hits" -> Actions.hits(exactPairs, gApprox),
      "n_exact" -> exactPairs.agg(greatest(count(lit(1)), lit(1L))),
      "n_del" -> delIds.agg(count(lit(1))))
    Seq(delIds, live, exact, sg, gApprox).foreach(Checkpoints.release)
    val nDel = g("n_del").toLong
    Actions.violations(spark,
      Actions.holds("delete_nonvacuous", nDel > 0),
      Actions.exactly("ivf_delete_exclusion", 0L, g("ivf_leaked").toLong),
      Actions.exactly("ivf_delete_scatter_gather", 0L, g("ivf_diff").toLong),
      Actions.exactly("ivf_delete_live_count", n - nDel,
        g("ivf_live").toLong),
      Actions.holds("ivf_delete_untouched_shard",
        deleted(shards - 1) == base(shards - 1)),
      Actions.exactly("graph_delete_exclusion", 0L, g("g_leaked").toLong),
      Actions.exactly("graph_delete_live_count", n - nDel,
        g("g_live").toLong),
      Actions.holds("graph_delete_untouched_shard",
        gDeleted(shards - 1) == gBase(shards - 1)),
      Actions.atLeast("graph_delete_recall",
        AnnSearch.DefaultRecallFloors("knn_graph"),
        g("g_hits") / g("n_exact")))
  }

  /** The zero-row shard-merge gate (`shard_merge_violations`):
    *
    *  1. `exact_shard_invariance_k1` / `_k4` — [[shardedKnn]] at K=1 and
    *     K=[[DefaultShards]] bit-identical to the unsharded exact search
    *     (symmetric-diff row count, expected 0);
    *  2. `shard_coverage` — the K shard indexes together hold exactly
    *     the corpus (sum of per-shard index rows = n);
    *  3. `shard_disjoint` — no vec_id indexed by more than one shard;
    *  4. `ann_sharded_saturated_identity` — saturated-probe
    *     [[shardedIvfKnn]] bit-identical to the exact answer (the merge
    *     theorem through the REAL index path, not just the one-plan
    *     exact form);
    *  5. `ann_sharded_recall` — default-probe (non-saturated)
    *     [[shardedIvfKnn]] holds the IVF family recall floor;
    *  6. `graph_shard_coverage` / 7. `graph_shard_disjoint` — the K
    *     per-shard GRAPH indexes together hold exactly the corpus, no
    *     node in two shards (round 16 — the graph family joins the
    *     sharded topology);
    *  8. `graph_sharded_recall` — [[shardedGraphKnn]] holds the
    *     `knn_graph` family floor (a beam has no saturation trick, so
    *     the merged answer's contract is the per-shard recall the
    *     merge theorem's approximate half guarantees);
    *  9. `pq_shard_coverage` / 10. `pq_shard_disjoint` /
    *     11. `pq_sharded_recall` — the QUANTIZED family's sharded legs
    *     (late round 17, [[buildShardedIvfPq]]): the K hash slices of
    *     the shared-training code table cover the corpus disjointly,
    *     and the merged default-probe ADC answer ([[shardedIvfPqKnn]])
    *     holds the `ivf_pq` family floor.
    *
    * Passing state is zero rows; each violated invariant becomes one
    * (invariant, expected, actual) row.
    */
  def shardMergeViolations(spark: SparkSession, sfDir: String,
                           nQueries: Int = 10, k: Int = 10): DataFrame = {
    // the shared disk-committed truth ([[AnnSearch.exactKnnAt]]) — the
    // identity and recall legs below re-read it instead of re-running
    // the brute force per gate
    val exact = AnnSearch.exactKnnAt(spark, sfDir, nQueries, k)
    def symDiff(other: DataFrame): Long = {
      val a = exact.select("query_id", "id", "distance", "rn")
      val b = other.select("query_id", "id", "distance", "rn")
      a.exceptAll(b).count() + b.exceptAll(a).count()
    }
    val n = AnnSearch.embeddingCount(spark, sfDir)
    val dirs = buildShardedIvf(spark, sfDir, DefaultShards)
    val shardIds = dirs.map(d => IndexStore.readCached(spark, s"$d/vectors")
      .select(col("vec_id"))).reduce(_ unionAll _)
    val coverage = shardIds.count()
    val dupIds = shardIds.groupBy("vec_id").agg(count(lit(1)).as("c"))
      .filter(col("c") > 1).count()
    val exactPairs = exact.select(col("query_id"), col("id"))
    val approx = shardedIvfKnn(spark, sfDir, nQueries, k)
    val floor = AnnSearch.DefaultRecallFloors("ivf")
    // the graph family's sharded legs (round 16)
    val gDirs = buildShardedGraph(spark, sfDir, DefaultShards)
    val gShardIds = gDirs.map(d =>
      IndexStore.loadSegments(spark, d, "vectors")
        .select(col("vec_id")).distinct()).reduce(_ unionAll _)
    val gCoverage = gShardIds.count()
    val gDups = gShardIds.groupBy("vec_id").agg(count(lit(1)).as("c"))
      .filter(col("c") > 1).count()
    val gApprox = shardedGraphKnn(spark, sfDir, nQueries, k)
    val gFloor = AnnSearch.DefaultRecallFloors("knn_graph")
    // the QUANTIZED family's sharded legs (late round 17): the K code
    // slices together hold exactly the corpus (the trained quantizers
    // are shared control-plane copies; the CODES are what shard), no
    // vec_id coded in two shards, and the default-probe merged ADC
    // answer holds the `ivf_pq` family floor against the same exact
    // truth (shared training ⇒ the merge theorem's approximate half
    // applies verbatim — the gathered margin is a superset of the
    // unsharded one)
    val pqDirs = buildShardedIvfPq(spark, sfDir, DefaultShards)
    val pqIds = pqDirs.map(d => IndexStore.readCached(spark, s"$d/codes")
      .select(col("vec_id"))).reduce(_ unionAll _)
    val pqCoverage = pqIds.count()
    val pqDups = pqIds.groupBy("vec_id").agg(count(lit(1)).as("c"))
      .filter(col("c") > 1).count()
    val pqApprox = shardedIvfPqKnn(spark, sfDir, nQueries, k)
    val pqFloor = AnnSearch.DefaultRecallFloors("ivf_pq")
    // the three recall numerators and their shared denominator in ONE
    // action ([[Actions.gauges]])
    val g = Actions.gauges(
      "hits" -> Actions.hits(exactPairs, approx),
      "g_hits" -> Actions.hits(exactPairs, gApprox),
      "pq_hits" -> Actions.hits(exactPairs, pqApprox),
      "n_exact" -> exactPairs.agg(greatest(count(lit(1)), lit(1L))))
    Actions.violations(spark,
      Actions.exactly("exact_shard_invariance_k1", 0L,
        symDiff(shardedKnn(spark, sfDir, nQueries, k, 1))),
      Actions.exactly("exact_shard_invariance_k4", 0L,
        symDiff(shardedKnn(spark, sfDir, nQueries, k, DefaultShards))),
      Actions.exactly("shard_coverage", n, coverage),
      Actions.exactly("shard_disjoint", 0L, dupIds),
      Actions.exactly("ann_sharded_saturated_identity", 0L,
        symDiff(shardedIvfKnn(spark, sfDir, nQueries, k, DefaultShards,
          nProbe = -1))),
      Actions.exactly("graph_shard_coverage", n, gCoverage),
      Actions.exactly("graph_shard_disjoint", 0L, gDups),
      Actions.exactly("pq_shard_coverage", n, pqCoverage),
      Actions.exactly("pq_shard_disjoint", 0L, pqDups),
      Actions.atLeast("ann_sharded_recall", floor,
        g("hits") / g("n_exact")),
      Actions.atLeast("graph_sharded_recall", gFloor,
        g("g_hits") / g("n_exact")),
      Actions.atLeast("pq_sharded_recall", pqFloor,
        g("pq_hits") / g("n_exact")))
  }
}
