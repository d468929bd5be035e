package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.IndexStore

/** Time-travel reads over the manifested index store — the lakehouse
  * `VERSION AS OF` surface the versioned layout already implies: every
  * committed version is an immutable manifest over immutable segments
  * (the write side never mutates a committed dir — appends/deletes
  * produce NEW version dirs, [[AnnSearch.appendToIvfIndexAt]]), so
  * resolving `root/v$v` instead of the latest version through the ONE
  * existing read path ([[AnnSearch.searchIndexAt]]) IS the as-of read.
  * No new read machinery: what this object adds is the version-chain
  * fixture, the resolution convention, and the gate that pins the two
  * properties an as-of reader relies on:
  *
  *  - **historical invariance** — a version's answer never changes as
  *    the chain grows past it (v0's search result is persisted when the
  *    chain is built and every later read must reproduce it exactly);
  *  - **compaction transparency** — compacting a version (merge-on-read
  *    folded to one physical segment, [[AnnSearch.compactIvfTo]]) is a
  *    physical-layout change only: as-of reads pre- and post-compaction
  *    are bit-identical.
  *
  * The reference persists exactly one index state and loses history on
  * every overwrite (`main.py:168-173` — save on shutdown, load at
  * startup); at 100 TB the versioned store is what makes ingest
  * auditable (which corpus state served this query?) and rollback a
  * pointer swap rather than a restore.
  */
object TimeTravel {

  /** The injection deltas of the two chain versions — v0 = base ∪
    * batch(1, 0.04), v1 = v0 ∪ batch(2, 0.05) (the retention chains'
    * convention, [[graft.streaming.StreamingIndex.ivfRetentionViolations]]).
    */
  private val Deltas = Seq(0.04, 0.05)

  /** Build (once, committed) the 2-version as-of chain over the fixture
    * corpus and return its root. Version dirs are `root/v0`, `root/v1`;
    * both are ordinary manifested IVF versions — every existing read
    * path applies unchanged.
    */
  private[graft] def ensureChain(spark: SparkSession,
                                 sfDir: String): String = {
    val root = IndexStore.indexDir(sfDir, "ivf-asof-v1", "embeddings")
    if (!IndexStore.committed(s"$root/v0/manifest"))
      AnnSearch.appendToIvfIndex(spark, sfDir,
        AnnSearch.injectionBatch(spark, sfDir, 1, Deltas(0)), s"$root/v0")
    if (!IndexStore.committed(s"$root/v1/manifest"))
      AnnSearch.appendToIvfIndexAt(spark, s"$root/v0",
        AnnSearch.injectionBatch(spark, sfDir, 2, Deltas(1)), s"$root/v1")
    root
  }

  /** `search ... VERSION AS OF v` — resolve the requested version dir
    * and run the one shared IVF search path against it. The fixture
    * entry saturates the probe (every cluster scanned), so the as-of
    * answer over v0 is EXACTLY the brute-force k-NN over base ∪ batch1 —
    * which is what lets the entry carry a full DuckDB oracle (the
    * `ann_filtered` saturation convention); at corpus scale a caller
    * passes the real nProbe and gets the ordinary approximate search,
    * as-of semantics unchanged.
    */
  def searchAsOf(spark: SparkSession, sfDir: String, version: Int = 0,
                 nQueries: Int = 10, k: Int = 10,
                 nProbe: Int = -1): DataFrame =
    searchChainAt(spark, ensureChain(spark, sfDir), sfDir, version,
      nQueries, k, nProbe)

  /** [[searchAsOf]] against an EXPLICIT chain root — the shared
    * resolution convention, so the retention-chain gate below reads
    * through exactly the path a user's as-of read takes. The `require`
    * is the retention contract's refusal: a vacuumed version's manifest
    * is gone, and an as-of read of it must FAIL LOUDLY, never fall back
    * to whatever segments the refcounting vacuum left behind for the
    * survivors (a partial dir served silently would be a wrong answer
    * with no error).
    */
  private def searchChainAt(spark: SparkSession, root: String,
                            sfDir: String, version: Int,
                            nQueries: Int, k: Int,
                            nProbe: Int = -1): DataFrame = {
    val vDir = s"$root/v$version"
    require(IndexStore.committed(s"$vDir/manifest"),
      s"version $version is not committed under $root - as-of reads " +
        "resolve committed manifests only")
    val queries = AnnSearch.fixtureQueries(spark, sfDir, nQueries)
    val nc = AnnSearch.clusterCountAt(spark, vDir)
    val p = if (nProbe == -1) nc else nProbe
    AnnSearch.searchIndexAt(spark, vDir, queries, k, p,
      expectedQ = nQueries.toLong)
  }

  /** Build (once) the 3-version RETENTION chain — one more version than
    * the as-of chain so a `keep = 2` vacuum has something to doom. A
    * separate root: the vacuum is destructive, and the main chain's v0
    * must stay readable for [[asofViolations]]' invariance legs.
    * Replay-safe: each append short-circuits on its committed manifest,
    * so a crash mid-build resumes where it stopped, and after the gate's
    * vacuum has run (v0 gone) the `v2` key keeps re-entries from trying
    * to rebuild a chain whose base version was legitimately pruned.
    */
  private[graft] def ensureRetentionChain(spark: SparkSession,
                                          sfDir: String): String = {
    val root = IndexStore.indexDir(sfDir, "ivf-asof-ret-v1", "embeddings")
    if (!IndexStore.committed(s"$root/v2/manifest")) {
      AnnSearch.appendToIvfIndex(spark, sfDir,
        AnnSearch.injectionBatch(spark, sfDir, 1, Deltas(0)), s"$root/v0")
      AnnSearch.appendToIvfIndexAt(spark, s"$root/v0",
        AnnSearch.injectionBatch(spark, sfDir, 2, Deltas(1)), s"$root/v1")
      AnnSearch.appendToIvfIndexAt(spark, s"$root/v1",
        AnnSearch.injectionBatch(spark, sfDir, 3, 0.06), s"$root/v2")
    }
    root
  }

  /** Fraction of the corpus each graph-chain injection batch carries —
    * small enough that the append takes the O(batch) BEAM-LINK branch
    * ([[GraphAnn.appendRebuilds]]: a batch under half the corpus), the
    * regime a steady-state ingest actually runs, so the as-of read is
    * exercised over a genuine merge-on-read chain (v1 re-references
    * v0's segments) rather than two self-contained rebuilds.
    */
  private def graphBatchRows(n: Long): Long = math.max(32L, n / 10)

  /** Build (once) the 2-version as-of chain for the GRAPH family — the
    * same immutable-manifest convention as the IVF chain ([[ensureChain]]),
    * resolved through [[GraphAnn]]'s read path: time travel is a property
    * of the versioned store, not of one index family.
    */
  private[graft] def ensureGraphChain(spark: SparkSession,
                                      sfDir: String): String = {
    val root = IndexStore.indexDir(sfDir, "graph-asof-v1", "embeddings")
    val rows = graphBatchRows(AnnSearch.embeddingCount(spark, sfDir))
    if (!IndexStore.committed(s"$root/v0/manifest"))
      GraphAnn.appendToGraphIndex(spark, sfDir,
        AnnSearch.injectionBatch(spark, sfDir, 1, Deltas(0), rows),
        s"$root/v0")
    if (!IndexStore.committed(s"$root/v1/manifest"))
      GraphAnn.appendToGraphIndexAt(spark, s"$root/v0",
        AnnSearch.injectionBatch(spark, sfDir, 2, Deltas(1), rows),
        s"$root/v1")
    root
  }

  /** `VERSION AS OF` for the graph family: resolve the version dir on
    * the graph chain and search it through the one existing beam path
    * with the version's own auto-derived knobs. Approximate by nature
    * (beam search), so its correctness surface is the gate's frozen-
    * answer invariance rows, not a SQL oracle — the ANN family
    * convention.
    */
  def searchAsOfGraph(spark: SparkSession, sfDir: String,
                      version: Int = 0, nQueries: Int = 10,
                      k: Int = 10): DataFrame = {
    val root = ensureGraphChain(spark, sfDir)
    val vDir = s"$root/v$version"
    require(IndexStore.committed(s"$vDir/manifest"),
      s"version $version is not committed under $root - as-of reads " +
        "resolve committed manifests only")
    GraphAnn.graphSearchAtAuto(spark, vDir,
      AnnSearch.fixtureQueries(spark, sfDir, nQueries), k)
  }

  /** Build (once) the K per-shard as-of chains — the sharded topology's
    * version history: shard s's chain is `root_s/v0` (base shard +
    * batch-1 slice) → `root_s/v1` (+ batch-2 slice), every version an
    * ordinary manifested IVF version produced by the ONE append path
    * over the SAME hash routing the topology's writes use
    * ([[ShardedSearch.shardOf]] — a row's shard in the history is the
    * shard it lives in today).
    */
  private[graft] def ensureShardedChain(spark: SparkSession,
                                        sfDir: String): Seq[String] = {
    val shards = ShardedSearch.DefaultShards
    val base = ShardedSearch.buildShardedIvf(spark, sfDir, shards)
    val b1 = AnnSearch.injectionBatch(spark, sfDir, 1, Deltas(0))
    val b2 = AnnSearch.injectionBatch(spark, sfDir, 2, Deltas(1))
    (0 until shards).map { s =>
      val root = IndexStore.indexDir(sfDir,
        s"ivf-asof-shard$shards-$s-v1", "embeddings")
      if (!IndexStore.committed(s"$root/v0/manifest"))
        AnnSearch.appendToIvfIndexAt(spark, base(s),
          b1.filter(ShardedSearch.shardOf(col("vec_id"), shards) === s),
          s"$root/v0")
      if (!IndexStore.committed(s"$root/v1/manifest"))
        AnnSearch.appendToIvfIndexAt(spark, s"$root/v0",
          b2.filter(ShardedSearch.shardOf(col("vec_id"), shards) === s),
          s"$root/v1")
      root
    }
  }

  /** `VERSION AS OF v` over the SHARDED topology: a topology version is
    * a PER-SHARD CUT — every shard's chain resolved at its own v, each
    * through the same committed-manifest refusal the single-index as-of
    * read uses, then ONE scatter-gather at that cut. The rescore corpus
    * is the shards' own stored live vectors at the cut (the data of
    * record is the index — an as-of reader has no source table). The
    * fixture operating point saturates every shard's probe, so the
    * sharded as-of answer is bit-identical to the single-index
    * [[searchAsOf]] at the same version (gated: `sharded_asof_identity`)
    * — two topologies, one version semantics.
    */
  def scatterGatherAsOf(spark: SparkSession, sfDir: String,
                        version: Int = 0, nQueries: Int = 10,
                        k: Int = 10): DataFrame =
    scatterGatherChainAt(spark, ensureShardedChain(spark, sfDir), sfDir,
      version, nQueries, k)

  /** [[scatterGatherAsOf]] against EXPLICIT per-shard chain roots — the
    * shared cut-resolution convention (the [[searchChainAt]] seam on
    * the sharded topology), so the sharded retention gate below reads
    * through exactly the path a user's sharded as-of read takes: every
    * shard's chain resolved at its own v behind the committed-manifest
    * refusal (ONE vacuumed shard version refuses the whole cut — a
    * partial cut served silently would mix corpus states), then one
    * scatter-gather at the cut against the shards' own stored live
    * vectors.
    */
  private def scatterGatherChainAt(spark: SparkSession,
                                   roots: Seq[String], sfDir: String,
                                   version: Int, nQueries: Int,
                                   k: Int): DataFrame = {
    val dirs = roots.map { r =>
      val vDir = s"$r/v$version"
      require(IndexStore.committed(s"$vDir/manifest"),
        s"version $version is not committed under $r - as-of reads " +
          "resolve committed manifests only")
      vDir
    }
    val queries = AnnSearch.fixtureQueries(spark, sfDir, nQueries)
    val corpus = dirs.map(d => AnnSearch.ivfLiveVectors(spark, d)
      .select(col("vec_id"), col("v"))).reduce(_ unionAll _)
    ShardedSearch.scatterGatherAt(spark, dirs, queries, corpus, k,
      nProbe = -1, expectedQ = nQueries.toLong)
  }

  /** Build (once) the K per-shard 3-version RETENTION chains — the
    * sharded twin of [[ensureRetentionChain]], one more version than
    * the as-of chains so a `keep = 2` vacuum has something to doom,
    * at a SEPARATE root per shard: the vacuum is destructive and the
    * main sharded chains must stay readable for [[asofViolations]]'
    * invariance legs. Replay-safe on v2's manifest per shard (the
    * single-index chain's discipline: after the gate's vacuum has run,
    * the v2 key keeps re-entries from rebuilding a chain whose base
    * version was legitimately pruned).
    */
  private[graft] def ensureShardedRetentionChain(
      spark: SparkSession, sfDir: String): Seq[String] = {
    val shards = ShardedSearch.DefaultShards
    val base = ShardedSearch.buildShardedIvf(spark, sfDir, shards)
    val batches = Seq(
      AnnSearch.injectionBatch(spark, sfDir, 1, Deltas(0)),
      AnnSearch.injectionBatch(spark, sfDir, 2, Deltas(1)),
      AnnSearch.injectionBatch(spark, sfDir, 3, 0.06))
    (0 until shards).map { s =>
      val root = IndexStore.indexDir(sfDir,
        s"ivf-asof-shard$shards-ret-$s-v1", "embeddings")
      if (!IndexStore.committed(s"$root/v2/manifest"))
        batches.zipWithIndex.foldLeft(base(s)) { case (prev, (b, v)) =>
          AnnSearch.appendToIvfIndexAt(spark, prev,
            b.filter(ShardedSearch.shardOf(col("vec_id"), shards) === s),
            s"$root/v$v")
          s"$root/v$v"
        }
      root
    }
  }

  /** The GRAPH twin of [[ensureShardedChain]]: K per-shard graph
    * chains, each version produced by the one beam-link append path
    * over the same hash routing ([[graphBatchRows]]-sized batches so
    * every shard's append takes the O(batch) incremental branch — the
    * regime a streamed ingest runs).
    */
  private[graft] def ensureShardedGraphChain(spark: SparkSession,
                                             sfDir: String): Seq[String] = {
    val shards = ShardedSearch.DefaultShards
    val base = ShardedSearch.buildShardedGraph(spark, sfDir, shards)
    val rows = graphBatchRows(AnnSearch.embeddingCount(spark, sfDir))
    val b1 = AnnSearch.injectionBatch(spark, sfDir, 1, Deltas(0), rows)
    val b2 = AnnSearch.injectionBatch(spark, sfDir, 2, Deltas(1), rows)
    (0 until shards).map { s =>
      val root = IndexStore.indexDir(sfDir,
        s"graph-asof-shard$shards-$s-v1", "embeddings")
      if (!IndexStore.committed(s"$root/v0/manifest"))
        GraphAnn.appendToGraphIndexAt(spark, base(s),
          b1.filter(ShardedSearch.shardOf(col("vec_id"), shards) === s),
          s"$root/v0")
      if (!IndexStore.committed(s"$root/v1/manifest"))
        GraphAnn.appendToGraphIndexAt(spark, s"$root/v0",
          b2.filter(ShardedSearch.shardOf(col("vec_id"), shards) === s),
          s"$root/v1")
      root
    }
  }

  /** `VERSION AS OF v` over the sharded GRAPH topology — the
    * [[scatterGatherAsOf]] semantics on the beam family: every shard
    * chain resolved at its own v (committed-manifest refusal per
    * shard), beamed with knobs auto-derived from each version's own
    * state, gathered through the shared rescore tail against the
    * shards' stored vectors at the cut. Approximate by nature, so its
    * correctness surface is the gate's frozen-answer invariance rows
    * (the [[searchAsOfGraph]] convention), not a SQL oracle.
    */
  def scatterGatherAsOfGraph(spark: SparkSession, sfDir: String,
                             version: Int = 0, nQueries: Int = 10,
                             k: Int = 10): DataFrame = {
    val roots = ensureShardedGraphChain(spark, sfDir)
    val dirs = roots.map { r =>
      val vDir = s"$r/v$version"
      require(IndexStore.committed(s"$vDir/manifest"),
        s"version $version is not committed under $r - as-of reads " +
          "resolve committed manifests only")
      vDir
    }
    val queries = AnnSearch.fixtureQueries(spark, sfDir, nQueries)
    val corpus = dirs.map(d =>
      IndexStore.loadSegments(spark, d, "vectors")
        .select(col("vec_id"), col("v"))).reduce(_ unionAll _)
    ShardedSearch.scatterGatherGraphAt(spark, dirs, queries, corpus, k)
  }

  /** The zero-row as-of gate (`asof_violations`):
    *
    *  1. `historical_invariance` — the as-of-v0 answer, persisted at
    *     chain-build time (BEFORE v1 existed), must be reproduced
    *     exactly by a live as-of-v0 read now that the chain has grown;
    *  2. `historical_isolation` — no id from batch 2 (ids ≥ 2·ceiling)
    *     may appear in an as-of-v0 result: a version must not see
    *     writes that postdate it;
    *  3. `compaction_transparency` — as-of reads against v1 and against
    *     its compacted twin ([[AnnSearch.compactIvfTo]] — resolved
    *     state as one physical segment) are bit-identical;
    *  4. `latest_advances` — the latest version's answer differs from
    *     v0's (the chain's versions are genuinely distinct states, so
    *     the invariance checks cannot pass vacuously).
    *
    * The as-of × RETENTION legs (round 16, on the separate 3-version
    * [[ensureRetentionChain]] — the vacuum is destructive and must not
    * touch the invariance chain above):
    *
    *  5. `retention_asof_refusal` — after
    *     [[graft.streaming.StreamingIndex.pruneVersions]] (keep = 2)
    *     dooms v0, an as-of-v0 read must REFUSE (the committed-manifest
    *     `require`), never serve whatever segments the refcounting
    *     vacuum left behind for the survivors. This row is also the
    *     vacuum's non-vacuity check: if the prune deleted nothing, the
    *     read succeeds and the row fires;
    *  6. `retention_survivor_invariance` — the surviving versions'
    *     as-of answers, frozen BEFORE the vacuum, are reproduced
    *     exactly after it (the refcounting kept every segment the
    *     survivors' manifests reference, including those physically
    *     inside the doomed version's dir).
    *
    * The GRAPH-family legs (round 16 — same discipline over
    * [[ensureGraphChain]], read through [[searchAsOfGraph]]; time
    * travel is family-symmetric because it is a property of the
    * versioned store, not of the IVF read path):
    *
    *  7. `graph_historical_invariance` / 8. `graph_historical_isolation`
    *     / 9. `graph_latest_advances` — invariants 1/2/4 verbatim on
    *     the graph chain (compaction transparency for the graph family
    *     is separately pinned by its delete/compact gate,
    *     [[GraphAnn.graphDeleteViolations]]).
    *
    * The SHARDED-topology legs (round 17 — the last lifecycle ×
    * topology cell: time travel over the per-shard chains, read through
    * [[scatterGatherAsOf]]):
    *
    *  10. `sharded_asof_identity` — the sharded as-of-v0 read is
    *      bit-identical to the single-index [[searchAsOf]] at v0: a
    *      topology version (per-shard cut) and an index version resolve
    *      the SAME corpus state (both saturated ⇒ both exact over
    *      base ∪ batch-1, sharing `search_asof`'s oracle transitively);
    *  11. `sharded_historical_invariance` — the sharded as-of-v0
    *      answer, frozen at chain-build time, is reproduced exactly by
    *      a live read now that every shard chain has grown past v0;
    *  12. `sharded_historical_isolation` — no batch-2 id in a sharded
    *      as-of-v0 result;
    *  13. `sharded_latest_advances` — the v1 cut's answer differs from
    *      v0's (per-shard cuts are genuinely distinct topology states);
    *  14-16. `sharded_graph_historical_invariance` /
    *      `sharded_graph_historical_isolation` /
    *      `sharded_graph_latest_advances` — the same cut semantics on
    *      the GRAPH topology ([[scatterGatherAsOfGraph]], frozen-answer
    *      discipline — the beam family's correctness surface), closing
    *      the as-of × topology × family matrix.
    *
    * The SHARDED × RETENTION legs (round 17, on the separate K-chain
    * [[ensureShardedRetentionChain]] — the vacuum is destructive and
    * runs per shard root, the shape a deployment's retention job takes):
    *
    *  17. `sharded_retention_refusal` — after every shard's chain is
    *      vacuumed at keep = 2 (dooming each v0), the v0 CUT must
    *      REFUSE: one missing shard manifest refuses the whole
    *      scatter-gather, because a partial cut served silently would
    *      mix corpus states across shards. Non-vacuity built in (a
    *      no-op vacuum lets the read succeed and fires the row);
    *  18. `sharded_retention_survivor_invariance` — the surviving v1/v2
    *      cuts' answers, frozen BEFORE the vacuum, reproduce exactly
    *      after it (per-shard refcounting kept every segment any
    *      survivor's manifest references).
    */
  def asofViolations(spark: SparkSession, sfDir: String,
                     nQueries: Int = 10, k: Int = 10): DataFrame = {
    val root = ensureChain(spark, sfDir)
    val v0Frozen = s"$root/v0_asof_frozen"
    if (!IndexStore.committed(v0Frozen))
      IndexStore.saveDataset(
        searchAsOf(spark, sfDir, 0, nQueries, k).coalesce(1), v0Frozen)
    val compacted = s"$root/v1_compacted"
    if (!IndexStore.committed(s"$compacted/vectors"))
      AnnSearch.compactIvfTo(spark, s"$root/v1", compacted)
    // r17 job structure: every live as-of read referenced by more than
    // one invariant is checkpointed ONCE (it used to re-execute its
    // whole probe/beam plan per symDiff side), every scalar below is a
    // single-row aggregate, and ALL of them fold into one
    // [[Actions.gauges]] action at the end — the gate was ~34
    // sequential count() jobs, several re-running scatter-gathers.
    def symDiffFrame(a: DataFrame, b: DataFrame): DataFrame =
      a.exceptAll(b).select(lit(1L).as("one"))
        .unionAll(b.exceptAll(a).select(lit(1L).as("one")))
        .agg(count(lit(1)))
    val v0Live = searchAsOf(spark, sfDir, 0, nQueries, k)
      .localCheckpoint(true)
    val ceil = AnnSearch.embeddingIdCeiling(spark, sfDir)
    val v1 = searchAsOf(spark, sfDir, 1, nQueries, k)
      .localCheckpoint(true)
    val queries = AnnSearch.fixtureQueries(spark, sfDir, nQueries)
    val nc = AnnSearch.clusterCountAt(spark, compacted)
    val compactRead = AnnSearch.searchIndexAt(spark, compacted, queries,
      k, nc, expectedQ = nQueries.toLong)

    // --- as-of × retention (invariants 5/6, the separate 3-version
    // chain: the vacuum below is destructive) ---
    val retRoot = ensureRetentionChain(spark, sfDir)
    // freeze the SURVIVORS' answers before the vacuum (committed once;
    // later runs re-read the same frozen frames — the vacuum already
    // ran then, which is exactly the invariance being pinned)
    val retFrozen = Seq(1, 2).map { v =>
      val f = s"$retRoot/frozen_v$v"
      if (!IndexStore.committed(f))
        IndexStore.saveDataset(
          searchChainAt(spark, retRoot, sfDir, v, nQueries, k)
            .coalesce(1), f)
      f
    }
    graft.streaming.StreamingIndex.pruneVersions(spark, retRoot, keep = 2)
    // the pruned version must REFUSE — and if the vacuum deleted
    // nothing, this read succeeds and the row fires (non-vacuity)
    val refused =
      try {
        searchChainAt(spark, retRoot, sfDir, 0, nQueries, k).count()
        0.0
      } catch { case _: IllegalArgumentException => 1.0 }

    // --- graph-family as-of (invariants 7/8/9) ---
    val gRoot = ensureGraphChain(spark, sfDir)
    val gFrozen = s"$gRoot/v0_asof_frozen"
    if (!IndexStore.committed(gFrozen))
      IndexStore.saveDataset(
        searchAsOfGraph(spark, sfDir, 0, nQueries, k).coalesce(1), gFrozen)
    val gV0Live = searchAsOfGraph(spark, sfDir, 0, nQueries, k)
      .localCheckpoint(true)

    // --- sharded-topology as-of (invariants 10-13) ---
    val sRoots = ensureShardedChain(spark, sfDir)
    val sFrozen = s"${sRoots.head}/v0_asof_frozen"
    if (!IndexStore.committed(sFrozen))
      IndexStore.saveDataset(
        scatterGatherAsOf(spark, sfDir, 0, nQueries, k).coalesce(1),
        sFrozen)
    val sV0Live = scatterGatherAsOf(spark, sfDir, 0, nQueries, k)
      .localCheckpoint(true)

    // --- sharded GRAPH-topology as-of (invariants 14-16) ---
    val sgRoots = ensureShardedGraphChain(spark, sfDir)
    val sgFrozen = s"${sgRoots.head}/v0_asof_frozen"
    if (!IndexStore.committed(sgFrozen))
      IndexStore.saveDataset(
        scatterGatherAsOfGraph(spark, sfDir, 0, nQueries, k).coalesce(1),
        sgFrozen)
    val sgV0Live = scatterGatherAsOfGraph(spark, sfDir, 0, nQueries, k)
      .localCheckpoint(true)

    // --- sharded topology × retention (invariants 17/18 — the
    // destructive per-shard chains; the vacuum runs per shard root,
    // exactly the operation a 100 TB deployment's retention job
    // schedules against each shard's chain independently) ---
    val sRetRoots = ensureShardedRetentionChain(spark, sfDir)
    val sRetFrozen = Seq(1, 2).map { v =>
      val f = s"${sRetRoots.head}/frozen_cut_v$v"
      if (!IndexStore.committed(f))
        IndexStore.saveDataset(
          scatterGatherChainAt(spark, sRetRoots, sfDir, v, nQueries, k)
            .coalesce(1), f)
      f
    }
    sRetRoots.foreach(r =>
      graft.streaming.StreamingIndex.pruneVersions(spark, r, keep = 2))
    // the pruned cut must REFUSE (one vacuumed shard version is enough
    // — a partial cut is a mixed corpus state); doubles as the vacuum's
    // non-vacuity check
    val sRefused =
      try {
        scatterGatherChainAt(spark, sRetRoots, sfDir, 0, nQueries, k)
          .count()
        0.0
      } catch { case _: IllegalArgumentException => 1.0 }

    // ONE action for all remaining invariant scalars
    def leakFrame(df: DataFrame): DataFrame =
      df.filter(col("id") >= 2L * ceil).agg(count(lit(1)))
    val g = Actions.gauges(
      "drift" -> symDiffFrame(IndexStore.readCached(spark, v0Frozen),
        v0Live),
      "leaked" -> leakFrame(v0Live),
      "compact_drift" -> symDiffFrame(v1, compactRead),
      "advanced" -> symDiffFrame(v1, v0Live),
      "survivor_drift_1" -> symDiffFrame(
        IndexStore.readCached(spark, retFrozen.head),
        searchChainAt(spark, retRoot, sfDir, 1, nQueries, k)),
      "survivor_drift_2" -> symDiffFrame(
        IndexStore.readCached(spark, retFrozen(1)),
        searchChainAt(spark, retRoot, sfDir, 2, nQueries, k)),
      "g_drift" -> symDiffFrame(IndexStore.readCached(spark, gFrozen),
        gV0Live),
      "g_leaked" -> leakFrame(gV0Live),
      "g_advanced" -> symDiffFrame(
        searchAsOfGraph(spark, sfDir, 1, nQueries, k), gV0Live),
      "s_identity" -> symDiffFrame(v0Live, sV0Live),
      "s_drift" -> symDiffFrame(IndexStore.readCached(spark, sFrozen),
        sV0Live),
      "s_leaked" -> leakFrame(sV0Live),
      "s_advanced" -> symDiffFrame(
        scatterGatherAsOf(spark, sfDir, 1, nQueries, k), sV0Live),
      "sg_drift" -> symDiffFrame(IndexStore.readCached(spark, sgFrozen),
        sgV0Live),
      "sg_leaked" -> leakFrame(sgV0Live),
      "sg_advanced" -> symDiffFrame(
        scatterGatherAsOfGraph(spark, sfDir, 1, nQueries, k), sgV0Live),
      "s_survivor_drift_1" -> symDiffFrame(
        IndexStore.readCached(spark, sRetFrozen.head),
        scatterGatherChainAt(spark, sRetRoots, sfDir, 1, nQueries, k)),
      "s_survivor_drift_2" -> symDiffFrame(
        IndexStore.readCached(spark, sRetFrozen(1)),
        scatterGatherChainAt(spark, sRetRoots, sfDir, 2, nQueries, k)))
    Seq(v0Live, v1, gV0Live, sV0Live, sgV0Live)
      .foreach(Checkpoints.release)
    def zero(invariant: String, gauges: String*): Actions.Check =
      Actions.exactly(invariant, 0L, gauges.map(g(_).toLong).sum)
    def advances(invariant: String, gauge: String): Actions.Check =
      Actions.holds(invariant, g(gauge).toLong != 0L)
    Actions.violations(spark,
      zero("historical_invariance", "drift"),
      zero("historical_isolation", "leaked"),
      zero("compaction_transparency", "compact_drift"),
      advances("latest_advances", "advanced"),
      Actions.holds("retention_asof_refusal", refused == 1.0),
      zero("retention_survivor_invariance",
        "survivor_drift_1", "survivor_drift_2"),
      zero("graph_historical_invariance", "g_drift"),
      zero("graph_historical_isolation", "g_leaked"),
      advances("graph_latest_advances", "g_advanced"),
      zero("sharded_asof_identity", "s_identity"),
      zero("sharded_historical_invariance", "s_drift"),
      zero("sharded_historical_isolation", "s_leaked"),
      advances("sharded_latest_advances", "s_advanced"),
      zero("sharded_graph_historical_invariance", "sg_drift"),
      zero("sharded_graph_historical_isolation", "sg_leaked"),
      advances("sharded_graph_latest_advances", "sg_advanced"),
      Actions.holds("sharded_retention_refusal", sRefused == 1.0),
      zero("sharded_retention_survivor_invariance",
        "s_survivor_drift_1", "s_survivor_drift_2"))
  }
}
