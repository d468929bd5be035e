package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.Tables
import graft.functions.VectorOps.{l2Normalize, squaredL2}
import graft.operators.{Actions, AnnSearch, Checkpoints, IndexFamily,
  ShardedSearch, VectorSearch}
import graft.sources.IndexStore

/** The reference's ingest endpoint (`POST /add_drawing`,
  * `main.py:104-135`) as a STREAMING pipeline: add-requests land as files,
  * a checkpointed micro-batch query folds each batch into the persisted
  * index with the reference's exact upsert semantics —
  *
  *  - an existing `str_id` gets its text updated but KEEPS its original
  *    faiss_id and vector (`main.py:119-126`);
  *  - new ids get dense sequential faiss_ids continuing after the current
  *    max (`main.py:129-130`);
  *  - new vectors are appended (`main.py:134`).
  *
  * Durability beats the reference's: each micro-batch writes a NEW index
  * version at `root/v<batchId>` (version-swap, never in-place), and the
  * version name is derived from the checkpointed batch id — a
  * crash-and-replay of a batch rewrites the same version from the same
  * predecessor, so the ingest is idempotent end-to-end. Readers take the
  * highest fully-committed version.
  *
  * A version is a MANIFEST ([[IndexStore.writeManifest]]): a tiny
  * committed dataset naming the version's immutable segments — the
  * predecessor's mapping/vector segments re-referenced by path, plus the
  * batch's OWN delta segments (`v<id>/mapping` = the batch's upserted
  * rows only, `v<id>/vectors` = the batch's new vectors only). Per-batch
  * I/O is therefore O(batch) — at 100 TB a micro-batch ingest writes the
  * batch's files plus one manifest, never a rewrite of the corpus. The
  * mapping is resolved MERGE-ON-READ: last-writer-wins per str_id by
  * segment seq ([[loadMappingAt]] — the log-structured upsert pattern of
  * Hudi/Delta MoR tables, public knowledge); vectors are insert-only so
  * their union needs no resolution. Retention is manifest refcounting
  * ([[pruneVersions]]): a segment lives while any surviving manifest
  * references it.
  */
object StreamingIndex {

  /** Add-request schema: user string id, OCR/text payload, embedding,
    * and an optional `op` ("add" default / "delete") — old landing files
    * without the column read as NULL op = add, so the schema extension
    * is backward compatible with every committed landing dir.
    */
  val BatchSchema: StructType = StructType(Seq(
    StructField("str_id", StringType),
    StructField("text", StringType),
    StructField("v", ArrayType(DoubleType)),
    StructField("op", StringType)))

  /** Mapping-segment schema. `deleted` is the LWW DELETE marker — the
    * flat store's tombstone (the reference's LWW upsert keeps the old
    * vector forever, `main.py:119-126`; takedown/retention needs the
    * missing half): a delete writes one delta row (str_id, its
    * faiss_id, NULL text, deleted=true), last-writer-wins resolution
    * applies it exactly like a text update, and a LATER re-add simply
    * out-writes it (with a FRESH faiss_id — ids are never reused, as in
    * `main.py:129-130`). Segments from before the column read as NULL =
    * not deleted, so old committed stores remain readable.
    */
  val MappingSchema: StructType = StructType(Seq(
    StructField("str_id", StringType),
    StructField("faiss_id", LongType),
    StructField("text", StringType),
    StructField("deleted", BooleanType)))

  val VectorSchema: StructType = StructType(Seq(
    StructField("faiss_id", LongType),
    StructField("v", ArrayType(DoubleType))))

  /** Landing schemas of the streamed vector chains and document folds. */
  private val VectorBatchSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("v", ArrayType(DoubleType))))
  private val DocBatchSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType)))

  /** Highest fully-committed index version under `root` below `limit`
    * (exclusive). A version is committed iff its MANIFEST is — the
    * manifest is always the last artifact written, for every store
    * flavor (flat mapping+vectors and IVF alike), so one marker gates
    * them all. The limit is what makes a checkpoint REPLAY safe: a
    * re-run of batch n must fold into n's true predecessor, not into
    * n's own (possibly half-committed) output from the crashed attempt.
    */
  def latestVersion(root: String,
                    limit: Long = Long.MaxValue): Option[Long] =
    committedVersions(root).filter(_ < limit).lastOption

  /** All committed (manifested) version ids under `root`, ascending. */
  private def committedVersions(root: String): Seq[Long] = {
    val p = new Path(root)
    val fs = p.getFileSystem(IndexStore.hadoopConf)
    if (!fs.exists(p)) return Seq.empty
    fs.listStatus(p).toSeq
      .map(_.getPath.getName)
      .collect { case s if s.matches("v\\d+") => s.drop(1).toLong }
      .filter(v => IndexStore.committed(s"$root/v$v/manifest"))
      .sorted
  }

  /** Fold one add-batch against the current resolved mapping into the
    * batch's DELTA segments — (upserted mapping rows, new vectors) — the
    * reference's per-request upsert (`main.py:119-135`) batched. Only the
    * batch's own rows come back; the store's history stays in its
    * immutable segments. `batch` must carry
    * unique str_ids (a landing batch is one file of distinct requests;
    * pre-aggregate with LWW if a producer can repeat ids in one batch).
    * Incoming vectors are L2-normalized before storage — the index
    * invariant the reference establishes at `main.py:87` (unit vectors,
    * so L2 ranking ≡ cosine ranking); degenerate zero-norm vectors are
    * the producer's bug, as in the reference.
    */
  def mergeBatch(mapping: DataFrame, rawBatch: DataFrame)
      : (DataFrame, DataFrame) =
    mergeBatchOps(mapping.withColumn("deleted", lit(false)),
      rawBatch.withColumn("op", lit("add")))

  /** [[mergeBatch]] with DELETE support over the RAW (tombstone-
    * carrying) resolved mapping: `rawMapping` must be the LWW-resolved
    * rows INCLUDING deleted ones ([[loadMappingRawAt]]) — the live view
    * drives upsert/exists decisions, but the dense-id continuation MUST
    * count every id ever assigned (a max over the live view would
    * re-issue a deleted id whose vector still sits in the insert-only
    * segments). Batch rows with op = "delete" emit one tombstone delta
    * row each (original faiss_id, NULL text, deleted = true) for ids
    * that currently exist — a delete for an absent/already-deleted id
    * is a no-op, and a delete and re-add across batches allocates a
    * FRESH id (the reference never reuses ids, `main.py:129-130`).
    */
  def mergeBatchOps(rawMapping: DataFrame, rawBatch: DataFrame)
      : (DataFrame, DataFrame) = {
    val spark = rawBatch.sparkSession
    val live = rawMapping.filter(!coalesce(col("deleted"), lit(false)))
      .select(col("str_id"), col("faiss_id"), col("text"))
    val isDelete = coalesce(col("op"), lit("add")) === "delete"
    val adds = rawBatch.filter(!isDelete)
      .withColumn("v", l2Normalize(col("v")))
    val dels = rawBatch.filter(isDelete).select(col("str_id"))
      .join(live, Seq("str_id"), "inner")
      .select(col("str_id"), col("faiss_id"),
        lit(null).cast(StringType).as("text"),
        lit(true).as("deleted"))
    // a RE-ADD of a deleted str_id would out-write its LWW tombstone and
    // orphan the old vector back into the ranking — so the revival also
    // emits the tombstone under a synthetic key in the reserved
    // "~tomb-<id>" namespace, which no producer key ever out-writes
    // (producer str_ids must not start with "~tomb-"; the reference's
    // ids are filenames, which cannot). The synthetic rows stay out of
    // the live view (deleted = true) and keep the dead-id set complete
    // for search exclusion; compaction reclaims their VECTORS' space
    // (the tiny rows themselves stay, as all tombstones do, for
    // all-time-max id monotonicity).
    val revived = rawMapping
      .filter(coalesce(col("deleted"), lit(false)))
      .join(adds.select(col("str_id")), Seq("str_id"), "inner")
      .select(concat(lit("~tomb-"), col("faiss_id")).as("str_id"),
        col("faiss_id"), lit(null).cast(StringType).as("text"),
        lit(true).as("deleted"))
    // existing ids: text from the batch wins, faiss_id + vector kept —
    // emitted as DELTA rows (only the upserted ids, never the whole
    // mapping); merge-on-read picks the highest-seq row per str_id
    val updated = live
      .join(adds.select(col("str_id"), col("text").as("new_text")),
        Seq("str_id"), "inner")
      .select(col("str_id"), col("faiss_id"),
        col("new_text").as("text"), lit(false).as("deleted"))
    val news = adds.join(live.select("str_id"), Seq("str_id"),
      "left_anti")
    val maxId = rawMapping.agg(coalesce(max(col("faiss_id")), lit(0L))
      .as("max_id"))
    // dense id continuation without a single-partition window: range
    // partition on the order key, rank per partition, prefix-sum offsets
    // (zipWithIndex), then add the store's current max
    val base = news.select(col("str_id"), col("text"), col("v"))
      .repartitionByRange(col("str_id"))
      .sortWithinPartitions(col("str_id"))
    val withIdx = base.rdd.zipWithIndex().map { case (r, i) =>
      Row.fromSeq(r.toSeq :+ (i + 1L))
    }
    val newMapped = spark.createDataFrame(withIdx,
        base.schema.add("rn", LongType))
      .crossJoin(broadcast(maxId))
      .select(col("str_id"), (col("max_id") + col("rn")).as("faiss_id"),
        col("text"), col("v"))
    (updated
      .unionByName(newMapped.select(col("str_id"), col("faiss_id"),
        col("text"), lit(false).as("deleted")))
      .unionByName(dels)
      .unionByName(revived),
      newMapped.select(col("faiss_id"), col("v")))
  }

  /** The version's resolved mapping — merge-on-read over the manifest's
    * mapping segments: union each delta segment tagged with its seq, keep
    * the LAST writer per str_id (an upsert's delta row carries the
    * ORIGINAL faiss_id and the new text, so LWW resolution reproduces the
    * reference's `main.py:119-126` semantics exactly). The per-key window
    * shuffles only the mapping — small next to the vectors — and at scale
    * periodic compaction (rewrite the resolved mapping as one segment)
    * bounds the segment count without changing this reader.
    */
  private[graft] def loadMappingAt(spark: SparkSession,
                                   versionDir: String): DataFrame =
    loadMappingRawAt(spark, versionDir)
      .filter(!coalesce(col("deleted"), lit(false)))
      .select(col("str_id"), col("faiss_id"), col("text"))

  /** The RAW LWW resolution — one row per str_id INCLUDING tombstoned
    * ones (`deleted` carried through; pre-column segments read as NULL
    * = live). Writers need this view: the dense-id continuation counts
    * every id ever assigned, and the search path derives its
    * deleted-faiss_id exclusion set from it.
    */
  private[graft] def loadMappingRawAt(spark: SparkSession,
                                      versionDir: String): DataFrame = {
    val segs = IndexStore.manifestSegments(
      IndexStore.readManifest(spark, versionDir), "mapping")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("str_id").orderBy(col("_seq").desc)
    segs.zipWithIndex
      .map { case (p, i) =>
        spark.read.schema(MappingSchema).parquet(p)
          .withColumn("_seq", lit(i.toLong))
      }
      .reduce(_ unionByName _)
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .select(col("str_id"), col("faiss_id"), col("text"), col("deleted"))
  }

  /** The version's full vector table: union of its immutable segments —
    * vectors are INSERT-ONLY (a re-add keeps the original vector,
    * `main.py:119-126`), so no resolution step exists.
    */
  private[graft] def loadVectorsAt(spark: SparkSession,
                                   versionDir: String): DataFrame =
    IndexStore.readUnion(spark,
      IndexStore.manifestSegments(
        IndexStore.readManifest(spark, versionDir), "vectors"),
      Some(VectorSchema))

  /** Process every add-file currently in `srcDir` (Trigger.AvailableNow)
    * into versioned index snapshots under `root`, checkpointing source
    * progress in `ckptDir`. Re-invocations resume from the checkpoint:
    * already-folded files are never re-read, a replayed batch rewrites
    * its own version deterministically.
    *
    * Segment growth is bounded IN the chain: when appending a delta
    * would push the mapping past `maxSegments` segments
    * ([[IndexStore.DefaultMaxSegments]]), the batch's version is written
    * COMPACTED — the resolved mapping and full vector set as the
    * version's own single segments, manifest referencing nothing older —
    * so merge-on-read never unions more than `maxSegments` scans no
    * matter how long the ingest runs. The decision reads only the
    * predecessor's manifest: a crash-replay of the batch re-decides
    * identically.
    */
  def ingestAvailable(spark: SparkSession, srcDir: String, root: String,
                      ckptDir: String,
                      maxSegments: Int =
                        IndexStore.DefaultMaxSegments): Unit = {
    runChain(spark, srcDir, BatchSchema, ckptDir, filesPerTrigger = 0) {
      (batch, batchId) =>
        val prevVer = predecessor(root, batchId)
        val prev = prevVer
          .map(v => IndexStore.readManifest(spark, s"$root/v$v"))
          .getOrElse(Seq.empty)
        val prevRaw = prevVer
          .map(v => loadMappingRawAt(spark, s"$root/v$v"))
          .getOrElse(spark.createDataFrame(
            spark.sparkContext.emptyRDD[Row], MappingSchema))
        val (delta, newVecs) = mergeBatchOps(prevRaw, batch)
        val mSeg = s"$root/v$batchId/mapping"
        val vSeg = s"$root/v$batchId/vectors"
        if (prev.count(_._1 == "mapping") + 1 > maxSegments) {
          // compaction trigger (see scaladoc): resolved state as the
          // version's own single segments — delta ∪ untouched survivors
          // is exactly what merge-on-read LWW would resolve, computed
          // here once instead of on every future read. TOMBSTONE rows
          // stay in the compacted mapping (tiny, and dropping them
          // would regress the all-time max id → id reuse against the
          // insert-only vector segments); their VECTORS are dropped
          // physically — the delete's storage reclaim
          val resolved = delta.unionByName(
            prevRaw.join(delta.select("str_id"), Seq("str_id"),
              "left_anti")).localCheckpoint(true)
          IndexStore.saveDataset(resolved, mSeg)
          val deadIds = resolved
            .filter(coalesce(col("deleted"), lit(false)))
            .select(col("faiss_id"))
          IndexStore.saveDataset(prevVer
            .map(v => loadVectorsAt(spark, s"$root/v$v"))
            .getOrElse(spark.createDataFrame(
              spark.sparkContext.emptyRDD[Row], VectorSchema))
            .unionByName(newVecs)
            .join(broadcast(deadIds), Seq("faiss_id"), "left_anti"), vSeg)
          IndexStore.writeManifest(spark, s"$root/v$batchId",
            Seq(("mapping", mSeg, batchId), ("vectors", vSeg, batchId)))
          // committed — the fold's working checkpoint is dead; release
          // now rather than one generation per trigger until a GC
          // ([[graft.operators.Checkpoints]])
          Checkpoints.release(resolved)
        } else {
          // the batch's OWN segments only — O(batch) files per version
          IndexStore.saveDataset(delta, mSeg)
          IndexStore.saveDataset(newVecs, vSeg)
          // LAST: the manifest (predecessor's segments re-referenced +
          // the two new ones) commits the version
          IndexStore.writeManifest(spark, s"$root/v$batchId",
            prev ++ Seq(("mapping", mSeg, batchId),
              ("vectors", vSeg, batchId)))
        }
    }
  }

  /** The one checkpointed micro-batch runner of every streamed chain:
    * read the parquet files landing in `landing` (`filesPerTrigger` per
    * micro-batch; 0 = everything available in one), fold each batch
    * with its checkpointed batch id, and stop once the landing dir is
    * drained (Trigger.AvailableNow). A failure goes through
    * [[wipeIfMisordered]] with the checkpoint's parent as the chain root
    * — every chain lays out root/{landing,ckpt,…}, and only the
    * order-disciplined folds throw the refusal that wipes it.
    */
  private def runChain(spark: SparkSession, landing: String,
                       schema: StructType, ckpt: String,
                       filesPerTrigger: Int = 1)
                      (fold: (DataFrame, Long) => Unit): Unit = {
    val src = spark.readStream.schema(schema)
    val q = (if (filesPerTrigger > 0)
               src.option("maxFilesPerTrigger", filesPerTrigger.toLong)
             else src)
      .parquet(landing)
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.Dataset[Row],
                       batchId: Long) => fold(b, batchId) }
      .start()
    try q.awaitTermination() catch {
      case e: Throwable =>
        wipeIfMisordered(new Path(ckpt).getParent.toString, e)
    }
  }

  /** The predecessor version a replayable fold of batch `batchId` reads:
    * the newest committed under `root` below the batch id. Batch ids
    * only ever grow under one checkpoint, so a committed version
    * STRICTLY ABOVE this batch id means the checkpoint was lost/cleared
    * (ids restarted) or points at a different root — folding from an
    * empty/stale base would silently rewrite history under readers, so
    * the fold fails loudly instead. (== batchId is a legitimate
    * crash-replay of this very batch and rewrites deterministically.)
    */
  private def predecessor(root: String, batchId: Long): Option[Long] = {
    latestVersion(root).filter(_ > batchId).foreach { v =>
      throw new IllegalStateException(
        s"index root $root has committed version v$v > batch $batchId" +
          ": checkpoint/root mismatch (lost checkpoint or wrong dir)" +
          " — refusing to rewrite history")
    }
    latestVersion(root, limit = batchId)
  }

  /** [[predecessor]]'s version dir, or `base` for a chain's first batch. */
  private def predecessorDir(root: String, batchId: Long,
                             base: String): String =
    predecessor(root, batchId).map(v => s"$root/v$v").getOrElse(base)

  /** The read side of the streamed lifecycle — the reference's
    * `POST /search_drawing` (`main.py:138-165`) against the latest
    * committed snapshot: rank the version's vectors by squared L2 to the
    * query, keep top-k, remap to user-facing ids via the same version's
    * mapping (inner join = drop-on-miss, `main.py:158-163`). An empty or
    * absent index returns an empty frame, not an error (the reference's
    * empty-index guard, `main.py:152-153`).
    */
  def searchLatest(spark: SparkSession, root: String, query: Seq[Double],
                   k: Int = 10): DataFrame = {
    // the store holds COMMITTED snapshots only; an absent/uncommitted
    // version degrades to the empty schema'd frames
    def empty(schema: StructType) = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], schema)
    val base = latestVersion(root).map(v => s"$root/v$v")
    val raw = base.map(loadMappingRawAt(spark, _))
      .getOrElse(empty(MappingSchema))
    val mapping = raw.filter(!coalesce(col("deleted"), lit(false)))
      .select(col("str_id"), col("faiss_id"), col("text"))
    // tombstoned ids must leave the RANKING, not just the remap join —
    // an inner-join-only exclusion would let deleted vectors burn top-k
    // slots and shrink results below k. The deleted set is O(deletes
    // since compaction) (compaction drops the vectors physically), so
    // the anti-join side broadcasts, as with the IVF tombstones.
    val deadIds = raw.filter(coalesce(col("deleted"), lit(false)))
      .select(col("faiss_id"))
    val vectors = base.map(loadVectorsAt(spark, _))
      .getOrElse(empty(VectorSchema))
      .join(broadcast(deadIds), Seq("faiss_id"), "left_anti")
    // normalize the query exactly as the stored side was (main.py:87
    // normalizes BOTH sides; same left-fold sum + divide → bit-identical
    // to the codegen normalizer, so a self-query lands at distance 0)
    val norm = math.sqrt(query.map(x => x * x).sum)
    val q = array((if (norm > 0) query.map(_ / norm) else query)
      .map(lit): _*)
    // orderBy+limit plans TakeOrdered over the scan; the k-row result is
    // the broadcast side of the remap join (the mapping is the big table
    // at scale, never broadcast)
    val topk = vectors
      .select(col("faiss_id"), squaredL2(q, col("v")).as("distance"))
      .orderBy(col("distance"), col("faiss_id"))
      .limit(k)
    mapping.join(broadcast(topk), "faiss_id")
      .select(col("str_id").as("id"), round(col("distance"), 6)
        .as("distance"))
      .orderBy("distance", "id")
  }

  /** Retention for the versioned snapshot store: delete committed
    * versions older than the newest `keep` (default 2 — serving version
    * plus one rollback target). The operational complement of
    * version-swap durability: without it a long-running ingest
    * accumulates every snapshot ever written. Safety rails —
    *
    *  - the LATEST committed version is never deletable (keep >= 1);
    *  - UNCOMMITTED directories are left alone: an uncommitted v_max may
    *    be a replay in progress, and deleting a crashed attempt's
    *    leftovers is the replaying writer's job, not the vacuum's.
    *
    * Returns the deleted version ids (sorted). keep >= 2 is a REPLAY
    * safety requirement, not just reader courtesy: a crash after v(n)
    * commits but before the streaming checkpoint records batch n means
    * batch n replays on restart and folds from v(n-1) — if retention had
    * deleted v(n-1), the replay would silently rebuild v(n) from an
    * EMPTY base. Keeping two committed versions guarantees the newest
    * version's predecessor survives any single vacuum cycle (and gives
    * mid-scan readers object-store-delete lag).
    */
  def pruneVersions(spark: SparkSession, root: String,
                    keep: Int = 2): Seq[Long] = {
    require(keep >= 2,
      s"keep $keep: a checkpointed replay of the newest batch folds from" +
        " its predecessor - retention must keep at least 2 versions")
    val p = new Path(root)
    val fs = p.getFileSystem(IndexStore.hadoopConf)
    if (!fs.exists(p)) return Seq.empty
    val committed = committedVersions(root)
    val doomed = committed.dropRight(keep)
    if (doomed.isEmpty) return doomed
    // manifest REFCOUNTING: everything any SURVIVING manifest references
    // is live — including segments that physically sit inside a doomed
    // version's dir (the append chain re-references its whole history).
    // Paths are FileSystem-qualified on both sides so a manifest's raw
    // string and listStatus's URI form can never miscompare.
    def qualify(s: String): String =
      fs.makeQualified(new Path(s)).toString
    val live = committed.takeRight(keep)
      .flatMap(v => IndexStore.readManifest(spark, s"$root/v$v"))
      .map(e => qualify(e._2)).toSet
    // the doomed version's manifest dies (it is what makes the version
    // resolvable); its segments die only if no survivor references
    // them. The sweep RECURSES into directories that are prefixes of a
    // live path (the graph chain nests its segments under `seg/app/…`;
    // deleting the unreferenced parent wholesale would take referenced
    // children with it — the vacuum must be layout-agnostic, not
    // flat-layout-shaped).
    def sweep(p: Path): Unit = {
      val q = qualify(p.toString)
      if (live.contains(q)) return
      val st = fs.getFileStatus(p)
      if (st.isDirectory && live.exists(_.startsWith(q + "/"))) {
        fs.listStatus(p).foreach(c => sweep(c.getPath))
        if (fs.listStatus(p).isEmpty) fs.delete(p, false)
      } else fs.delete(p, true)
    }
    doomed.foreach { v =>
      val vDir = new Path(s"$root/v$v")
      fs.listStatus(vDir).foreach(c => sweep(c.getPath))
      if (fs.listStatus(vDir).isEmpty) fs.delete(vDir, false)
    }
    doomed
  }

  /** Compact the newest committed version into a standalone one-segment
    * store at `out` — the read-amplification bound of every
    * log-structured table format: merge-on-read until the segment list
    * grows long, then one compaction job rewrites the RESOLVED state as
    * a single segment per artifact and a fresh manifest referencing only
    * those. `out` is a separate root (version v0 of a new chain), so the
    * live chain is never touched — crash-safe by construction (a crashed
    * compaction leaves an uncommitted `out` and the old root serving),
    * and the caller swaps roots when `latestVersion(out)` is defined.
    * Cost: one full read + write of the store — amortized across the
    * many O(batch) appends it re-arms.
    */
  def compactTo(spark: SparkSession, root: String, out: String): Unit = {
    val v = latestVersion(root).getOrElse(
      throw new IllegalStateException(s"$root has no committed version"))
    val src = s"$root/v$v"
    val mSeg = s"$out/v0/mapping"
    val vSeg = s"$out/v0/vectors"
    // tombstone rows stay (id monotonicity — see the in-chain fold);
    // their vectors are dropped physically
    val raw = loadMappingRawAt(spark, src).localCheckpoint(true)
    IndexStore.saveDataset(raw, mSeg)
    IndexStore.saveDataset(loadVectorsAt(spark, src)
      .join(broadcast(raw.filter(coalesce(col("deleted"), lit(false)))
        .select(col("faiss_id"))), Seq("faiss_id"), "left_anti"), vSeg)
    // LAST: the manifest commits the compacted version
    IndexStore.writeManifest(spark, s"$out/v0",
      Seq(("mapping", mSeg, 0L), ("vectors", vSeg, 0L)))
    // committed — the compaction's working checkpoint is dead
    Checkpoints.release(raw)
  }

  /** Stage `df` as flat `<prefix>-<i>.parquet` files inside the landing
    * dir (what a producer dropping add-request files would do). Idempotent:
    * if the prefix's first file already landed, the batch is already there
    * — and the checkpoint tracks processed paths anyway.
    */
  private[graft] def stageInto(df: DataFrame, landing: String,
                               prefix: String): Unit = {
    val landingPath = new Path(landing)
    val fs = landingPath.getFileSystem(IndexStore.hadoopConf)
    if (fs.exists(new Path(landing, s"$prefix-0.parquet"))) return
    val tmp = s"$landing-stage-$prefix"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    fs.mkdirs(landingPath)
    fs.listStatus(new Path(tmp)).toSeq
      .filter(_.getPath.getName.startsWith("part-"))
      .zipWithIndex.foreach { case (st, i) =>
        fs.rename(st.getPath, new Path(landing, s"$prefix-$i.parquet"))
      }
    fs.delete(new Path(tmp), true)
  }

  /** Deterministic micro-batch delivery order for a staged landing dir:
    * the file source orders batches by modification time (no path
    * tie-break), and filesystem mtime resolution is not guaranteed to
    * separate two stageInto calls — so every order-sensitive (and, for
    * robustness, order-insensitive) consumer staggers the staged files'
    * mtimes explicitly, 10 s apart in `prefixes` order.
    */
  private def staggerBatches(landing: String,
                             prefixes: Seq[String]): Unit = {
    val now = System.currentTimeMillis()
    val files = new java.io.File(landing).listFiles()
    if (files != null) files.foreach { f =>
      prefixes.zipWithIndex.foreach { case (p, i) =>
        if (f.getName.startsWith(p))
          f.setLastModified(now - 10000L * (prefixes.size - 1 - i))
      }
    }
  }

  /** The order-disciplined folds' refusal: a batch whose low-water mark
    * sits at or below the predecessor's placed high-water mark cannot be
    * committed without rewriting already-served results. A DEDICATED
    * type (not a message substring) so [[wipeIfMisordered]]'s cause-walk
    * match survives any rewording of the diagnostic text.
    */
  private[graft] final class MisorderedBatchException(msg: String)
    extends IllegalStateException(msg)

  /** Terminal handler for the order-disciplined folds (sequence pack,
    * event anomalies): wipe the run's derived state ONLY for the
    * out-of-order refusal — that is a poison state a bare checkpoint
    * retry would replay forever, so landing/checkpoint/versions must be
    * rebuilt from the fixture. Any OTHER failure (disk, OOM, an
    * interrupted query) keeps the checkpoint intact so the stream can
    * resume exactly where it left off — that recoverability is the
    * whole point of the replay discipline. The misorder surfaces here
    * wrapped in a StreamingQueryException, so we walk the cause chain
    * matching on the dedicated exception TYPE.
    */
  private[graft] def wipeIfMisordered(root: String,
                                      e: Throwable): Nothing = {
    val misordered = Iterator.iterate(e)(_.getCause)
      .takeWhile(_ != null).take(16)
      .exists(_.isInstanceOf[MisorderedBatchException])
    if (misordered)
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(root))
    throw e
  }

  /** 7-digit pad: Spark and DuckDB `lpad` both TRUNCATE strings longer
    * than the pad length, so a 5-digit pad would cut doc_id+10000 ≥ 100000
    * to 5 chars and silently collide new adds into updates. 7 digits keeps
    * every doc_id < 10^7 - 10000 collision-free; the fixture's dense-id
    * ordering additionally assumes base doc_ids < 10000 (the 10000 shift
    * makes every new id sort after every base id).
    */
  private def strId(c: org.apache.spark.sql.Column) =
    concat(lit("doc-"), lpad(c.cast("string"), 7, "0"))

  /** End-to-end fixture run of the streaming ingest: batch 0 adds every
    * document (text + embedding), batch 1 re-adds every 3rd id with
    * uppercased text and a DIFFERENT embedding (which must be ignored —
    * the reference keeps the original vector on re-add) plus 10000-shifted
    * brand-new ids. The two batches go through two checkpointed
    * AvailableNow invocations — the restart path, not one big batch.
    * Returns the final mapping (str_id, faiss_id, text): dense ids in
    * str_id order, batch-1 text for updated ids, continuation ids for new
    * ones. Deterministic, so the DuckDB oracle checks the whole streaming
    * upsert end-to-end; vector-kept semantics are spec-asserted.
    */
  def streamingIndexIngest(spark: SparkSession, sfDir: String): DataFrame = {
    val root = IndexStore.indexDir(sfDir, "stream-index-v4", "documents")
    val landing = s"$root/landing"
    val ckpt = s"$root/ckpt"
    if (!latestVersion(root).exists(_ >= 1L)) {
      val docs = Tables.load(spark, sfDir, "documents")
      val emb = Tables.load(spark, sfDir, "embeddings")
      val joined = docs.join(emb, docs("doc_id") === emb("vec_id"))
        .select(col("doc_id"), col("text"),
          transform(col("embedding"), x => x.cast("double")).as("v"))
      val b0 = joined.select(strId(col("doc_id")).as("str_id"),
        col("text"), col("v"))
      stageInto(b0, landing, "batch0")
      ingestAvailable(spark, landing, root, ckpt)
      val upd = joined.filter(col("doc_id") % 3 === 0)
        .select(strId(col("doc_id")).as("str_id"),
          upper(col("text")).as("text"),
          transform(col("v"), x => x + 0.5).as("v"))
      val nw = joined.select(strId(col("doc_id") + 10000).as("str_id"),
        col("text"), transform(col("v"), x => x + 0.01).as("v"))
      stageInto(upd.unionByName(nw), landing, "batch1")
      ingestAvailable(spark, landing, root, ckpt)
    }
    val v = latestVersion(root).get
    loadMappingAt(spark, s"$root/v$v").orderBy("str_id")
  }

  /** The reference's full add-then-search lifecycle (`POST /add_drawing`
    * then `POST /search_drawing`, `main.py:104` → `main.py:138`) under
    * streaming: run [[streamingIndexIngest]] (idempotent — both fixture
    * batches fold through the checkpointed stream if not already
    * committed), then [[searchLatest]] against the LATEST committed
    * snapshot with the first document's embedding as the query.
    *
    * Deterministic end-to-end, so the DuckDB oracle reconstructs the
    * snapshot's vector set directly from the source tables (base vectors
    * for every base id — a re-add keeps the ORIGINAL vector — plus the
    * +0.01-shifted batch-1 vectors under their 10000-shifted ids) and
    * re-ranks: the gate checks that streamed ingest + snapshot search
    * equals batch k-NN over the same corpus, closing the loop the
    * mapping-only `streaming_index_ingest` entry leaves open. The one-row
    * collect for the query vector is the search API's contract (a caller
    * holds the query embedding), not a data-shaped collect.
    */
  def streamingSearch(spark: SparkSession, sfDir: String,
                      k: Int = 10): DataFrame = {
    streamingIndexIngest(spark, sfDir)
    val root = IndexStore.indexDir(sfDir, "stream-index-v4", "documents")
    val query = Tables.load(spark, sfDir, "embeddings")
      .filter(col("vec_id") === 0)
      .select(transform(col("embedding"), x => x.cast("double")).as("v"))
      .head().getSeq[Double](0)
    searchLatest(spark, root, query, k)
  }

  /** Streaming near-dup dedup against the PERSISTED corpus signature
    * index — the continuous-ingestion shape of
    * [[graft.operators.Dedup.incrementalDedup]]: new documents land as
    * files, a checkpointed micro-batch query shingles ONLY the batch and
    * folds it against the corpus's stored bands/shingles
    * ([[graft.operators.Dedup.dedupBatchAgainstIndex]] — the same core
    * as the batch entry, so the paths cannot drift), writing each batch's
    * verdicts to a per-batch-id output dir (overwrite ⇒ a crash-replay of
    * a batch rewrites the same dir — idempotent end-to-end).
    *
    * The fixture streams the injected near-dup batch as TWO files with
    * maxFilesPerTrigger=1 (two micro-batches through one checkpoint —
    * the restart path, not one big batch); per-doc verdicts are
    * independent of the batch split, so the union over batch dirs equals
    * the batch operator's result exactly and shares its oracle.
    *
    * Scale shape: per micro-batch cost is O(batch) — batch shingling, a
    * band equi-join against the (read-only) corpus bands, Jaccard
    * verification on candidates. The corpus is never re-shingled; at
    * 100 TB the corpus side is the build-once nightly index and this is
    * the arrival-time path.
    */
  def streamingCorpusDedup(spark: SparkSession, sfDir: String,
                           threshold: Double = 0.5): DataFrame = {
    import graft.operators.Dedup
    val corpusDir = Dedup.ensureCorpusIndex(spark, sfDir)
    val root = IndexStore.indexDir(sfDir, "stream-dedup-v1", "documents")
    val landing = s"$root/landing"
    val results = s"$root/results"
    if (!IndexStore.committed(s"$results/b0") ||
        !IndexStore.committed(s"$results/b1")) {
      val batch = Tables.load(spark, sfDir, "documents")
        .select((col("doc_id") + 10000).as("doc_id"),
          expr("substring(text, instr(text, ' ') + 1)").as("text"))
      stageInto(batch.filter(col("doc_id") % 2 === 0), landing, "batch0")
      stageInto(batch.filter(col("doc_id") % 2 =!= 0), landing, "batch1")
      val corpusBands = spark.read.parquet(s"$corpusDir/bands")
      val corpusSh = spark.read.parquet(s"$corpusDir/shingles")
      runChain(spark, landing, DocBatchSchema, s"$root/ckpt") { (b, batchId) =>
        Dedup.dedupBatchAgainstIndex(corpusBands, corpusSh,
            Dedup.shingleTable(Dedup.shingles(b)), threshold)
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .parquet(s"$results/b$batchId")
      }
    }
    spark.read.parquet(s"$results/b*").orderBy("new_doc", "dup_of")
  }

  /** The streamed vector growth fixture: id-ceiling-windowed injection
    * waves ([[graft.operators.AnnSearch.injectionBatch]] — collision-
    * free on sparse blowup id spaces, unlike fixed offsets) of `bSize`
    * rows each, one per shift in `deltas`.
    */
  private final case class Growth(nBase: Long, bSize: Long,
                                  waves: Seq[DataFrame]) {
    def grownN: Long = nBase + waves.size * bSize
  }

  /** `batchRows` > 0 pins the wave size (the deep×wide tier's
    * steady-state micro-batch shape); otherwise a wave is the corpus
    * over `batchDiv` — the whole corpus for IVF, a fifth for the graph
    * (the INCREMENTAL beam-link side of its append regime switch, which
    * is what a streamed ingest is; corpus-sized batches take the
    * rebuild side, gated by `graph_append_violations`).
    */
  private def growth(spark: SparkSession, sfDir: String, batchDiv: Long,
                     batchRows: Long,
                     deltas: Seq[Double] = Seq(0.01, 0.02)): Growth = {
    val nBase = AnnSearch.embeddingCount(spark, sfDir)
    val bSize =
      if (batchRows > 0L) math.min(batchRows, nBase)
      else math.max(1L, nBase / batchDiv)
    // a corpus-sized wave is the whole corpus re-based, never sliced
    val rows = if (bSize >= nBase) 0L else bSize
    Growth(nBase, bSize, deltas.zipWithIndex.map { case (d, i) =>
      AnnSearch.injectionBatch(spark, sfDir, i + 1, d, rows = rows)
    })
  }

  /** The fixture corpus plus `waves`, normalized exactly as the index
    * stores them — the exact truth's corpus.
    */
  private def grownCorpus(spark: SparkSession, sfDir: String,
                          waves: Seq[DataFrame]): DataFrame =
    waves.foldLeft(AnnSearch.normalizedCorpus(spark, sfDir)) { (u, w) =>
      u.unionAll(w.select(col("vec_id"), l2Normalize(col("v")).as("v")))
    }

  /** A chain root name; a pinned `batchRows` keys a SEPARATE root, so a
    * fixture's default-shape chain never short-circuits a differently
    * shaped run's counts.
    */
  private def chainName(prefix: String, version: String,
                        batchRows: Long): String =
    if (batchRows > 0L) s"$prefix-b$batchRows-$version"
    else s"$prefix-$version"

  /** Fold every file staged under `root/landing` into `f`'s version
    * chain at `root`, one checkpointed O(batch) append per trigger:
    * v(n) = appendAt(v(n-1), batch n), starting from `base`.
    */
  private[graft] def appendChain(spark: SparkSession, f: IndexFamily,
                                 root: String, base: String): Unit =
    runChain(spark, s"$root/landing", VectorBatchSchema, s"$root/ckpt") {
      (b, batchId) =>
        f.appendAt(spark, predecessorDir(root, batchId, base), b,
          s"$root/v$batchId")
    }

  /** Streaming O(batch) index growth, for either family: two
    * micro-batches of NEW vectors chain into versioned snapshots,
    * v(n) = appendAt(v(n-1), batch n), under one checkpoint with the
    * [[ingestAvailable]] replay discipline ([[predecessor]]). Each
    * version costs O(batch) in compute and I/O: IVF assigns only the
    * batch and re-references untouched cluster segments; the graph
    * beam-searches the PREDECESSOR for the batch's forward edges,
    * repairs only touched nodes' reverse edges, and re-references every
    * base segment — the chained form of `main.py:134`'s `add_with_ids`.
    *
    * Per family: the default batch is the whole corpus for IVF
    * (recall floor 0.5) and a fifth of it for the graph (floor 0.9);
    * see [[growth]]. Returns the zero-row violations contract
    * (`ivf_append_violations` / `graph_append_violations` shape): the
    * chain reached v1, the final version holds base + both batches,
    * and searching it holds the recall floor against the exact k-NN
    * over the grown corpus.
    */
  private def streamingAppend(spark: SparkSession, sfDir: String,
                              f: IndexFamily, prefix: String,
                              version: String, batchDiv: Long,
                              nQueries: Int, k: Int, recallFloor: Double,
                              batchRows: Long): DataFrame = {
    val root = IndexStore.indexDir(sfDir,
      chainName(prefix, version, batchRows), "embeddings")
    val grown = growth(spark, sfDir, batchDiv, batchRows)
    if (!latestVersion(root).exists(_ >= 1L)) {
      val base = f.base(spark, sfDir)
      stageInto(grown.waves(0), s"$root/landing", "batch0")
      stageInto(grown.waves(1), s"$root/landing", "batch1")
      appendChain(spark, f, root, base)
    }
    val vLast = latestVersion(root).getOrElse(-1L)
    val finalDir = s"$root/v$vLast"
    // disk-committed streamed-corpus truth (shared with the sharded
    // graph chain — same injection slices) + ONE action for the checks
    val exact = AnnSearch.appendUnionExact(spark, sfDir,
      grownCorpus(spark, sfDir, grown.waves), nQueries, k,
      batchTag = s"-sinj${grown.bSize}")
    val approx = f.searchAt(spark, sfDir, finalDir,
      AnnSearch.fixtureQueries(spark, sfDir, nQueries), k, grown.grownN,
      nQueries.toLong)
    val g = Actions.gauges(
      "n_out" -> f.liveIds(spark, finalDir).agg(count(lit(1))),
      "hits" -> Actions.hits(exact, approx),
      "n_exact" -> exact.agg(count(lit(1))))
    Actions.violations(spark,
      Actions.exactly("version_chain", 1L, vLast),
      Actions.exactly("vector_count", grown.grownN, g("n_out").toLong),
      Actions.atLeast("avg_recall", recallFloor, g("hits") / g("n_exact")))
  }

  /** [[streamingAppend]] on the IVF family (`streaming_ivf_append`). */
  def streamingIvfAppend(spark: SparkSession, sfDir: String,
                         nQueries: Int = 10, k: Int = 10,
                         recallFloor: Double = 0.5,
                         batchRows: Long = 0L): DataFrame =
    streamingAppend(spark, sfDir, IndexFamily.Ivf, "stream-ivf", "v3", 1L,
      nQueries, k, recallFloor, batchRows)

  /** [[streamingAppend]] on the graph family (`streaming_graph_append`). */
  def streamingGraphAppend(spark: SparkSession, sfDir: String,
                           nQueries: Int = 10, k: Int = 10,
                           recallFloor: Double = 0.9,
                           batchRows: Long = 0L): DataFrame =
    streamingAppend(spark, sfDir, IndexFamily.Graph, "stream-graph", "v6",
      5L, nQueries, k, recallFloor, batchRows)

  /** A sharded chain's quality leg: its gauge frames, the check graded
    * from their values, and the checkpoints to release afterwards.
    */
  private final case class Quality(gauges: Seq[(String, DataFrame)],
                                   check: Map[String, Double] => Actions.Check,
                                   release: Seq[DataFrame] = Nil)

  /** Streamed SHARDED ingest, for either family — the streaming twin of
    * the sharded write path ([[graft.operators.ShardedSearch.appendToShards]]):
    * each checkpointed micro-batch hash-routes its rows and every shard
    * folds its slice into its OWN version chain,
    * v_s(n) = appendAt(v_s(n-1), slice_s(n)) — K independent
    * O(batch/K) appends per trigger, each under the single-index replay
    * discipline ([[predecessor]]). At 100 TB this IS the ingest shape:
    * the stream fans out to K writers that share nothing.
    *
    * Returns the zero-row violations contract:
    *
    *  - `version_chain` — every shard's chain reached v1 (two triggers);
    *  - `vector_count` — the K final versions together hold base + both
    *    batches;
    *  - `shard_disjoint` — no vec_id indexed by two shards (routing is a
    *    pure function of the id, so a replay or a trigger split can
    *    never double-place a row);
    *  - the family's own quality leg over the K final versions and the
    *    full streamed corpus: IVF's saturated scatter-gather is
    *    BIT-IDENTICAL to the exact k-NN (`scatter_gather_identity`, the
    *    shard-merge theorem surviving a streamed write history); a beam
    *    has no saturation trick, so the graph's merged beam holds the
    *    recall floor instead (`avg_recall`, the theorem's approximate
    *    half). Batch sizes follow [[growth]]: the graph's fifth-of-corpus
    *    trigger is an n/20 slice against an n/4 shard, squarely in the
    *    incremental beam-link regime.
    */
  private def streamingShardAppend(spark: SparkSession, sfDir: String,
                                   f: IndexFamily, prefix: String,
                                   batchDiv: Long, nQueries: Int, k: Int,
                                   batchRows: Long,
                                   bases: Int => Seq[String])
                                  (quality: (Growth, DataFrame, DataFrame,
                                    Seq[String]) => Quality): DataFrame = {
    val shards = ShardedSearch.DefaultShards
    val root = IndexStore.indexDir(sfDir,
      chainName(s"$prefix$shards", "v1", batchRows), "embeddings")
    val grown = growth(spark, sfDir, batchDiv, batchRows)
    def shardRoot(s: Int) = s"$root/s$s"
    if (!(0 until shards).forall(s =>
        latestVersion(shardRoot(s)).exists(_ >= 1L))) {
      val baseDirs = bases(shards)
      stageInto(grown.waves(0), s"$root/landing", "batch0")
      stageInto(grown.waves(1), s"$root/landing", "batch1")
      runChain(spark, s"$root/landing", VectorBatchSchema, s"$root/ckpt") {
        (b, batchId) =>
          (0 until shards).foreach { s =>
            f.appendAt(spark,
              predecessorDir(shardRoot(s), batchId, baseDirs(s)),
              b.filter(ShardedSearch.shardOf(col("vec_id"), shards) === s),
              s"${shardRoot(s)}/v$batchId")
          }
      }
    }
    val finals = (0 until shards).map { s =>
      val v = latestVersion(shardRoot(s)).getOrElse(-1L)
      (v, s"${shardRoot(s)}/v$v")
    }
    val ids = finals.map(v => f.liveIds(spark, v._2)).reduce(_ unionAll _)
    val union = grownCorpus(spark, sfDir, grown.waves).localCheckpoint(true)
    val leg = quality(grown, union,
      AnnSearch.fixtureQueries(spark, sfDir, nQueries), finals.map(_._2))
    val g = Actions.gauges(Seq(
      "n_out" -> ids.agg(count(lit(1))),
      "dups" -> ids.groupBy("vec_id").agg(count(lit(1)).as("c"))
        .filter(col("c") > 1).agg(count(lit(1)))) ++ leg.gauges: _*)
    (union +: leg.release).foreach(Checkpoints.release)
    Actions.violations(spark,
      Actions.exactly("version_chain", 0L, finals.count(_._1 != 1L)),
      Actions.exactly("vector_count", grown.grownN, g("n_out").toLong),
      Actions.exactly("shard_disjoint", 0L, g("dups").toLong),
      leg.check(g))
  }

  /** [[streamingShardAppend]] on the IVF family
    * (`streaming_shard_append`).
    */
  def streamingShardedAppend(spark: SparkSession, sfDir: String,
                             nQueries: Int = 10,
                             k: Int = 10,
                             batchRows: Long = 0L): DataFrame =
    streamingShardAppend(spark, sfDir, IndexFamily.Ivf, "stream-shard", 1L,
      nQueries, k, batchRows,
      ShardedSearch.buildShardedIvf(spark, sfDir, _)) {
      (_, union, queries, finals) =>
        // the identity compares FULL rows (distance, rank), so the exact
        // frame is a live checkpoint, not the pair-only committed truth
        val exact = VectorSearch.topK(
          union.join(broadcast(queries), col("vec_id") =!= col("query_id"))
            .select(col("query_id"), col("vec_id").as("id"),
              squaredL2(col("qu"), col("v")).as("dist")), k)
          .localCheckpoint(true)
        val got = ShardedSearch.scatterGatherAt(spark, finals, queries,
          union, k, nProbe = -1, expectedQ = nQueries.toLong)
          .localCheckpoint(true)
        Quality(Seq("diff" -> exact.exceptAll(got).select(lit(1L).as("one"))
            .unionAll(got.exceptAll(exact).select(lit(1L).as("one")))
            .agg(count(lit(1)))),
          g => Actions.exactly("scatter_gather_identity", 0L,
            g("diff").toLong),
          Seq(exact, got))
    }

  /** [[streamingShardAppend]] on the graph family
    * (`streaming_graph_shard_append`).
    */
  def streamingGraphShardedAppend(spark: SparkSession, sfDir: String,
                                  nQueries: Int = 10, k: Int = 10,
                                  recallFloor: Double = 0.9,
                                  batchRows: Long = 0L): DataFrame =
    streamingShardAppend(spark, sfDir, IndexFamily.Graph, "stream-gshard",
      5L, nQueries, k, batchRows,
      ShardedSearch.buildShardedGraph(spark, sfDir, _)) {
      (grown, union, queries, finals) =>
        // the [[streamingAppend]] truth — identical corpus and tag
        val exact = AnnSearch.appendUnionExact(spark, sfDir, union,
          nQueries, k, batchTag = s"-sinj${grown.bSize}")
        val approx = ShardedSearch.scatterGatherGraphAt(spark, finals,
          queries, union, k)
        Quality(Seq("hits" -> Actions.hits(exact, approx),
            "n_exact" -> exact.agg(count(lit(1)))),
          g => Actions.atLeast("avg_recall", recallFloor,
            g("hits") / g("n_exact")))
    }

  /** DELETE-AT-INGEST, for either family — the streaming twin of the
    * batch tombstone gates (`index_delete_violations`,
    * `graph_delete_violations`): add/delete requests land as files in
    * ONE stream (schema + `op` column), and each checkpointed
    * micro-batch folds into a new O(batch) version — adds through the
    * family's append, deletes through its delete (ONE tombstone segment
    * + manifest, never a corpus rewrite; graph tombstones stay
    * TRAVERSABLE and are only excluded from ranking). A mixed batch
    * chains add-then-delete through an intermediate `v<id>-stage` dir —
    * invisible to [[latestVersion]]'s `v\d+` match, so a half-committed
    * stage never serves — with the delete commit carrying the version
    * name. Replay discipline is [[ingestAvailable]]'s ([[predecessor]]);
    * tombstone writes are Overwrite + manifest-last, idempotent like
    * segment writes.
    *
    * The fixture streams batch 0 = the first injection wave
    * ([[growth]]), batch 1 = delete every 2nd of it. Per family: IVF's
    * wave is the whole corpus and its batch 1 is deletes only (floor
    * 0.5); the graph's wave is a fifth of the corpus and its batch 1 is
    * genuinely MIXED — a second wave added in the same trigger — so the
    * staged add-then-delete chaining executes in the fixture (floor
    * 0.9). Returns the zero-row violations contract: rows appear if the
    * chain is incomplete, the final live count is not base + waves −
    * deletes, any deleted id surfaces in a search of the final version,
    * or that search misses the recall floor against the exact k-NN
    * over the live corpus.
    */
  private def streamingDelete(spark: SparkSession, sfDir: String,
                              f: IndexFamily, name: String, batchDiv: Long,
                              deltas: Seq[Double], exactTag: String,
                              nQueries: Int, k: Int,
                              recallFloor: Double): DataFrame = {
    val root = IndexStore.indexDir(sfDir, name, "embeddings")
    val landing = s"$root/landing"
    val grown = growth(spark, sfDir, batchDiv, 0L, deltas)
    val delIds = grown.waves.head.select(col("vec_id"))
      .filter(col("vec_id") % 2 === 0)
    if (!latestVersion(root).exists(_ >= 1L)) {
      val base = f.base(spark, sfDir)
      def op(df: DataFrame, o: String) = df.withColumn("op", lit(o))
      stageInto(op(grown.waves.head, "add"), landing, "batch0")
      stageInto((grown.waves.tail.map(op(_, "add")) :+ op(delIds
          .withColumn("v", lit(null).cast(ArrayType(DoubleType))), "delete"))
        .reduce(_ unionByName _), landing, "batch1")
      // order-sensitive: batch1 tombstones ids batch0 ingests, and mtime
      // resolution alone does not guarantee the delivery order
      staggerBatches(landing, Seq("batch0", "batch1"))
      runChain(spark, landing, VectorBatchSchema.add("op", StringType),
          s"$root/ckpt") { (b, batchId) =>
        val baseDir = predecessorDir(root, batchId, base)
        val batchAdds = b.filter(col("op") === "add")
          .select(col("vec_id"), col("v"))
        val batchDels = b.filter(col("op") === "delete")
          .select(col("vec_id"))
        // O(batch) emptiness probes on the micro-batch, not the corpus
        val hasAdds = !batchAdds.isEmpty
        val hasDels = !batchDels.isEmpty
        val out = s"$root/v$batchId"
        if (hasAdds && hasDels) {
          f.appendAt(spark, baseDir, batchAdds, s"$out-stage")
          f.deleteAt(spark, s"$out-stage", batchDels, out)
        } else if (hasAdds) f.appendAt(spark, baseDir, batchAdds, out)
        else if (hasDels) f.deleteAt(spark, baseDir, batchDels, out)
      }
    }
    val vLast = latestVersion(root).getOrElse(-1L)
    val finalDir = s"$root/v$vLast"
    val res = f.searchAt(spark, sfDir, finalDir,
      AnnSearch.fixtureQueries(spark, sfDir, nQueries), k, grown.grownN,
      nQueries.toLong)
    // disk-committed live-corpus truth + ONE action for the checks
    val exact = AnnSearch.appendUnionExact(spark, sfDir,
      grownCorpus(spark, sfDir, grown.waves)
        .join(delIds, Seq("vec_id"), "left_anti"),
      nQueries, k, batchTag = exactTag)
    val g = Actions.gauges(
      "n_del" -> delIds.agg(count(lit(1))),
      "n_live" -> f.liveIds(spark, finalDir).agg(count(lit(1))),
      "deleted_in_results" -> res
        .join(delIds.select(col("vec_id").as("id")), Seq("id"),
          "left_semi").agg(count(lit(1))),
      "hits" -> Actions.hits(exact, res),
      "n_exact" -> exact.agg(count(lit(1))))
    Actions.violations(spark,
      Actions.exactly("version_chain", 1L, vLast),
      Actions.exactly("live_count", grown.grownN - g("n_del").toLong,
        g("n_live").toLong),
      Actions.exactly("deleted_in_results", 0L,
        g("deleted_in_results").toLong),
      Actions.atLeast("avg_recall", recallFloor, g("hits") / g("n_exact")))
  }

  /** [[streamingDelete]] on the IVF family (`streaming_index_delete`). */
  def streamingIvfDelete(spark: SparkSession, sfDir: String,
                         nQueries: Int = 10, k: Int = 10,
                         recallFloor: Double = 0.5): DataFrame =
    streamingDelete(spark, sfDir, IndexFamily.Ivf, "stream-ivf-del-v2", 1L,
      Seq(0.03), "-sivfdel", nQueries, k, recallFloor)

  /** [[streamingDelete]] on the graph family (`streaming_graph_delete`). */
  def streamingGraphDelete(spark: SparkSession, sfDir: String,
                           nQueries: Int = 10, k: Int = 10,
                           recallFloor: Double = 0.9): DataFrame =
    streamingDelete(spark, sfDir, IndexFamily.Graph, "stream-graph-del-v2",
      5L, Seq(0.03, 0.04), "-sgdel", nQueries, k, recallFloor)

  /** DELETE through the FLAT mapping store — the reference's own store
    * shape (`main.py:119-126` LWW upsert keeps the old vector forever;
    * this is the missing takedown half, by str_id exactly as the
    * reference's ids are addressed): batch 0 adds every document,
    * batch 1 is a MIXED batch — a delete request for every 3rd id plus
    * brand-new 10000-shifted adds — folded through the same
    * checkpointed stream ([[mergeBatchOps]]). A delete writes ONE LWW
    * tombstone delta row; the dense-id continuation counts every id
    * ever assigned (a deleted id is never reused); search excludes
    * tombstoned vectors from the RANKING ([[searchLatest]]); compaction
    * drops their vectors physically while keeping the (tiny) tombstone
    * rows for id monotonicity.
    *
    * Returns the final LIVE mapping (str_id, faiss_id, text) ordered by
    * str_id — fully deterministic, so the DuckDB oracle reconstructs
    * the whole add → mixed delete/add lifecycle end-to-end (a stronger
    * check than a zero-row gate: every surviving row, id and text is
    * hash-compared).
    */
  def streamingFlatDelete(spark: SparkSession, sfDir: String): DataFrame = {
    val root = IndexStore.indexDir(sfDir, "stream-flat-del-v1", "documents")
    val landing = s"$root/landing"
    val ckpt = s"$root/ckpt"
    if (!latestVersion(root).exists(_ >= 1L)) {
      val docs = Tables.load(spark, sfDir, "documents")
      val emb = Tables.load(spark, sfDir, "embeddings")
      val joined = docs.join(emb, docs("doc_id") === emb("vec_id"))
        .select(col("doc_id"), col("text"),
          transform(col("embedding"), x => x.cast("double")).as("v"))
      val b0 = joined.select(strId(col("doc_id")).as("str_id"),
        col("text"), col("v"), lit("add").as("op"))
      stageInto(b0, landing, "batch0")
      ingestAvailable(spark, landing, root, ckpt)
      val dels = joined.filter(col("doc_id") % 3 === 0)
        .select(strId(col("doc_id")).as("str_id"),
          lit(null).cast(StringType).as("text"),
          lit(null).cast(ArrayType(DoubleType)).as("v"),
          lit("delete").as("op"))
      val nw = joined.select(strId(col("doc_id") + 10000).as("str_id"),
        col("text"), transform(col("v"), x => x + 0.01).as("v"),
        lit("add").as("op"))
      stageInto(dels.unionByName(nw), landing, "batch1")
      ingestAvailable(spark, landing, root, ckpt)
    }
    val v = latestVersion(root).get
    loadMappingAt(spark, s"$root/v$v").orderBy("str_id")
  }

  /** CDC-AT-INGEST — the streaming twin of
    * [[graft.operators.Ingest.cdcApply]]: the I/U/D changelog arrives in
    * seq-ordered micro-batches (the delivery order a log broker
    * guarantees per key) and each batch folds onto the previous LIVE
    * snapshot version through the ONE shared LWW seam
    * ([[graft.operators.Ingest.cdcLww]]) —
    * `live(n) = cdcLww(live(n-1) ∪ batch n)` — written as a new version
    * keyed by the checkpointed batch id, so a crash-and-replay rewrites
    * the same version from the same predecessor (the
    * [[ingestAvailable]] replay discipline). Live rows KEEP their
    * winning (op, seq), which makes the fold a max-seq semilattice:
    * within this fixture's split even out-of-order batch application
    * reaches the same fixed point (a delete always outranks its own
    * batch's losers; an already-applied higher seq outranks a late
    * lower one). A truly unordered log would additionally need delete
    * TOMBSTONE retention (a removed key's seq must survive to outrank
    * late lower-seq rows) — the `~tomb-` pattern
    * [[streamingFlatDelete]] demonstrates.
    *
    * Per-trigger cost is ONE key shuffle of (live ∪ batch); the
    * changelog side is O(delta), and each trigger MATERIALIZES the next
    * full live snapshot (the textbook CDC-consumer contract — the
    * snapshot is what downstream reads). At 100 TB a production apply
    * makes the snapshot write copy-on-write — only the files holding
    * touched keys rewrite, untouched files re-referenced by manifest
    * (the [[IndexStore]] segment pattern; [[streamingFlatDelete]]
    * demonstrates the delta-row variant) — while the LWW arithmetic
    * stays exactly this seam. The fixture splits [[graft.operators
    * .Ingest.cdcFixtureLog]] at seq 2/3, so the final live set is
    * ROW-IDENTICAL to `cdc_apply` and shares its oracle verbatim.
    */
  def streamingCdcApply(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.Ingest
    // v2: the fixture log's insert-key shift became max-key-derived
    val root = IndexStore.indexDir(sfDir, "stream-cdc-v2", "customer")
    val landing = s"$root/landing"
    val versions = s"$root/versions"
    if (!IndexStore.committed(s"$versions/b1")) {
      val cust = Tables.load(spark, sfDir, "customer")
      IndexStore.saveDataset(Ingest.cdcSnapshot(cust), s"$versions/base")
      val log = Ingest.cdcFixtureLog(cust)
      stageInto(log.filter(col("seq") <= 2L), landing, "batch0")
      stageInto(log.filter(col("seq") >= 3L), landing, "batch1")
      // the fold converges under either delivery order for THIS fixture
      // (max-seq semilattice, see above), but seq-ordered delivery is the
      // documented contract — make it deterministic rather than leaning
      // on filesystem mtime resolution
      staggerBatches(landing, Seq("batch0", "batch1"))
      runChain(spark, landing, log.schema, s"$root/ckpt") { (b, batchId) =>
        val prevDir = if (batchId == 0L) s"$versions/base"
                      else s"$versions/b${batchId - 1}"
        Ingest.cdcLww(spark.read.parquet(prevDir).unionByName(b))
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .parquet(s"$versions/b$batchId")
      }
    }
    Ingest.cdcShape(spark.read.parquet(s"$versions/b1"))
  }

  /** PACKING-AT-INGEST — the streaming twin of
    * [[graft.operators.TextAnalysis.sequencePack]]: documents arrive in
    * doc_id-ordered micro-batches and each batch resolves its global
    * token offsets through the shared placement seam
    * ([[graft.operators.TextAnalysis.packPlace]]) seeded with the
    * offset the PREVIOUS batch ended at — the carried state is ONE long
    * (written as a tiny per-version state file), the smallest state a
    * stateful streaming fold can have: no state store, no watermark,
    * per-trigger cost O(batch). Versions are keyed by the checkpointed
    * batch id with the standard replay discipline (a replayed batch
    * re-reads its predecessor's offset and rewrites its own rows —
    * idempotent). The final manifest aggregates ALL versions' placed
    * rows through the shared aggregation half, so it is ROW-IDENTICAL
    * to the batch entry and shares its oracle verbatim.
    *
    * ORDER MATTERS here, unlike every other stageInto consumer (the
    * dedup verdicts are split-independent, the CDC fold is a max-seq
    * semilattice): offsets are a prefix sum in doc_id order, so the
    * file source must deliver batch0 before batch1. The staging sets
    * explicit mtimes (the file source orders by modification time,
    * with no path tie-break), and the fold additionally carries the
    * placed doc_id high-water mark in its state file and REFUSES an
    * out-of-order batch (min doc_id ≤ predecessor's max). By the time
    * the refusal fires, the misordered PREDECESSOR batch's version and
    * checkpoint entry are already durable — so the failure path wipes
    * the run's staged state entirely (landing + checkpoint + versions)
    * before rethrowing: the query fails loudly, and a RETRY re-stages
    * from the fixture and recovers, instead of replaying the same
    * misorder from the checkpoint forever or committing a wrong-offset
    * manifest.
    */
  def streamingSequencePack(spark: SparkSession, sfDir: String,
      budget: Long = graft.operators.TextAnalysis.DefaultPackBudget)
      : DataFrame = {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val root = IndexStore.indexDir(sfDir, "stream-pack-v1", "documents")
    val landing = s"$root/landing"
    val versions = s"$root/versions"
    if (!IndexStore.committed(s"$versions/b1/state")) {
      val docs = Tables.load(spark, sfDir, "documents")
        .select(col("doc_id"), col("text"))
      val cut = docs.agg(max(col("doc_id"))).head.getLong(0) / 2
      stageInto(docs.filter(col("doc_id") <= cut), landing, "batch0")
      stageInto(docs.filter(col("doc_id") > cut), landing, "batch1")
      // deterministic delivery order: the file source sorts by mtime
      staggerBatches(landing, Seq("batch0", "batch1"))
      runChain(spark, landing, DocBatchSchema, s"$root/ckpt") { (b, batchId) =>
        val (base, prevMaxDoc) =
          if (batchId == 0L) (0L, Long.MinValue)
          else {
            val r = spark.read
              .parquet(s"$versions/b${batchId - 1}/state").head
            (r.getLong(0), r.getLong(1))
          }
        val stats = b.agg(min(col("doc_id")), max(col("doc_id"))).head
        val batchMaxDoc = if (stats.isNullAt(1)) prevMaxDoc
          else stats.getLong(1)
        if (!stats.isNullAt(0) && stats.getLong(0) <= prevMaxDoc)
          throw new MisorderedBatchException(
            s"packing batch $batchId out of order: min doc_id " +
              s"${stats.getLong(0)} <= placed high-water $prevMaxDoc — " +
              "refusing to commit a wrong-offset manifest")
        val (placed, next) = TextAnalysis.packPlace(spark, b, base)
        placed.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .parquet(s"$versions/b$batchId/rows")
        Seq((next, batchMaxDoc)).toDF("next_offset", "max_doc")
          .coalesce(1).write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .parquet(s"$versions/b$batchId/state")
      }
    }
    TextAnalysis.packAggregate(
      spark.read.parquet(s"$versions/b*/rows"), budget)
  }

  /** CHUNK-INDEXING-AT-INGEST — the streaming twin of
    * [[graft.operators.VectorSearch.chunkEmbedSearch]]'s index side:
    * each document micro-batch is chunked and embedded through the SAME
    * chunk-geometry + textEmbed seams as the batch entry, and the
    * chunk-embedding rows append as one O(batch) version per trigger —
    * the "index the corpus for RAG as it lands" flow. Chunks never span
    * documents, so any doc-partitioned batching yields exactly the
    * batch operator's chunk set; the final search over the accumulated
    * versions is row-identical to `chunk_embed_search` (shared oracle).
    * Per-trigger state on disk only (no state store, no carried fold —
    * embedding is per-doc deterministic); replay overwrites its own
    * version dir idempotently.
    */
  def streamingChunkEmbed(spark: SparkSession, sfDir: String,
                          nQueries: Int = 10, k: Int = 10,
                          dim: Int = 16): DataFrame = {
    import graft.operators.TextAnalysis
    val root = IndexStore.indexDir(sfDir, "stream-chunkemb-v1", "documents")
    val landing = s"$root/landing"
    val versions = s"$root/versions"
    if (!IndexStore.committed(s"$versions/b1/rows")) {
      val docs = Tables.load(spark, sfDir, "documents")
        .select(col("doc_id"), col("text"))
      val cut = docs.agg(max(col("doc_id"))).head.getLong(0) / 2
      stageInto(docs.filter(col("doc_id") <= cut), landing, "batch0")
      stageInto(docs.filter(col("doc_id") > cut), landing, "batch1")
      staggerBatches(landing, Seq("batch0", "batch1"))
      runChain(spark, landing, DocBatchSchema, s"$root/ckpt") { (b, batchId) =>
        VectorSearch.textEmbed(
            TextAnalysis.chunkTokens(b,
                TextAnalysis.DefaultChunkSize,
                TextAnalysis.DefaultChunkStride)
              .select((col("doc_id") * VectorSearch.ChunkKeyBase +
                  col("chunk_ix"))
                .as("doc_id"), col("chunk_text").as("text")), dim)
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .parquet(s"$versions/b$batchId/rows")
      }
    }
    val cEmb = spark.read.parquet(s"$versions/b*/rows")
    val qEmb = VectorSearch.textEmbed(
      Tables.load(spark, sfDir, "documents")
        .select(col("doc_id"), col("text"))
        .filter(col("doc_id") < nQueries), dim)
      .select(col("doc_id").as("query_id"), col("v").as("qv"))
    VectorSearch.chunkTopK(cEmb, qEmb, k)
  }

  /** SAMPLING-AT-INGEST — the streaming twin of
    * [[graft.operators.TextAnalysis.weightedSample]]: the A-ES
    * without-replacement draw is a global top-k by the integer
    * max-of-w-hashes key, and top-k is an ASSOCIATIVE, COMMUTATIVE
    * fold — so each document micro-batch's keyed rows merge with the
    * persisted k-row reservoir through the ONE shared key/ranking seam
    * (`weightedKeys`/`weightedTopK`) and the final reservoir is
    * row-identical to the batch draw under ANY batch split or order
    * (shared oracle). Carried state is exactly k rows; per-trigger work
    * is O(batch + k): the streaming face of weighted reservoir
    * sampling.
    */
  def streamingWeightedSample(spark: SparkSession, sfDir: String,
      k: Int = graft.operators.TextAnalysis.DefaultSampleK)
      : DataFrame = {
    import graft.operators.TextAnalysis.{weightedKeys, weightedTopK}
    val root = IndexStore.indexDir(sfDir, "stream-wsample-v1", "documents")
    val landing = s"$root/landing"
    val versions = s"$root/versions"
    if (!IndexStore.committed(s"$versions/b1/state")) {
      val docs = Tables.load(spark, sfDir, "documents")
        .select(col("doc_id"), col("lang"), col("source"), col("text"))
      val cut = docs.agg(max(col("doc_id"))).head.getLong(0) / 2
      stageInto(docs.filter(col("doc_id") <= cut), landing, "batch0")
      stageInto(docs.filter(col("doc_id") > cut), landing, "batch1")
      staggerBatches(landing, Seq("batch0", "batch1"))
      runChain(spark, landing, StructType(Seq(
          StructField("doc_id", LongType),
          StructField("lang", StringType),
          StructField("source", StringType),
          StructField("text", StringType))), s"$root/ckpt") { (b, batchId) =>
        val batchKeys = weightedKeys(b)
        val pool =
          if (batchId == 0L) batchKeys
          else batchKeys.unionByName(
            spark.read.parquet(s"$versions/b${batchId - 1}/state"))
        weightedTopK(pool, k)
          .coalesce(1).write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .parquet(s"$versions/b$batchId/state")
      }
    }
    spark.read.parquet(s"$versions/b1/state").orderBy("doc_id")
  }

  /** ANOMALIES-AT-INGEST — the streaming twin of
    * [[graft.operators.Events.eventAnomalies]]: each time-ordered event
    * micro-batch is scored through the ONE shared window-gate seam
    * ([[graft.operators.Events.anomaliesOver]]) against the union of
    * the batch and the persisted per-user TAIL state (the last ≤ w
    * events per user — all a trailing ROWS [-w,-1] frame can ever see),
    * then the state advances to the new last-w tail. Carried state is
    * O(users · w) rows, per-trigger work O(batch + users·w), no state
    * store, no watermark; flags are ROW-IDENTICAL to the batch gate
    * (shared oracle) because a row's flag depends only on its ≤ w
    * predecessors, which the tail preserves exactly.
    *
    * Order discipline (the packing twin's): batches must arrive in
    * event-time order — a batch overlapping the committed high-water
    * would score against a wrong tail, so the fold REFUSES it and wipes
    * the run's derived state before rethrowing (a bare retry would
    * replay the same misorder from the checkpoint forever).
    */
  def streamingEventAnomalies(spark: SparkSession, sfDir: String,
      w: Int = graft.operators.Events.DefaultAnomalyWindow): DataFrame = {
    import spark.implicits._
    val root = IndexStore.indexDir(sfDir, "stream-anom-v1", "events")
    val landing = s"$root/landing"
    val versions = s"$root/versions"
    if (!IndexStore.committed(s"$versions/b1/state")) {
      val e = Tables.events(spark, sfDir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("us"), col("value"))
      val cut = e.agg(expr("percentile_approx(us, 0.5)").cast("long"))
        .head.getLong(0)
      stageInto(e.filter(col("us") <= cut), landing, "batch0")
      stageInto(e.filter(col("us") > cut), landing, "batch1")
      staggerBatches(landing, Seq("batch0", "batch1"))
      runChain(spark, landing, StructType(Seq(
          StructField("event_id", LongType),
          StructField("user_id", LongType),
          StructField("event_type", StringType),
          StructField("us", LongType),
          StructField("value", DoubleType))), s"$root/ckpt") { (b, batchId) =>
        val (prevTail, prevHigh) =
          if (batchId == 0L)
            (spark.createDataFrame(
               spark.sparkContext.emptyRDD[Row], b.schema),
             Long.MinValue)
          else {
            val st = spark.read.parquet(s"$versions/b${batchId - 1}/state")
            (st.drop("high_us"),
             st.agg(max(col("high_us"))).head.getLong(0))
          }
        val stats = b.agg(min(col("us")), max(col("us"))).head
        if (!stats.isNullAt(0) && stats.getLong(0) <= prevHigh)
          throw new MisorderedBatchException(
            s"anomaly batch $batchId out of order: min us " +
              s"${stats.getLong(0)} <= scored high-water $prevHigh — " +
              "refusing to score against a wrong tail")
        val high = if (stats.isNullAt(1)) prevHigh else stats.getLong(1)
        val ctx = prevTail.unionByName(b)
        val batchIds = b.select(col("event_id").as("bid"))
        graft.operators.Events.anomaliesOver(ctx, w)
          .join(batchIds, col("event_id") === col("bid"), "left_semi")
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .parquet(s"$versions/b$batchId/flags")
        val tw = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id"))
          .orderBy(col("us").desc, col("event_id").desc)
        ctx.withColumn("rn", row_number().over(tw))
          .filter(col("rn") <= w).drop("rn")
          .withColumn("high_us", lit(high))
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .parquet(s"$versions/b$batchId/state")
      }
    }
    spark.read.parquet(s"$versions/b*/flags").orderBy("event_id")
  }

  /** HEAVY-HITTERS-AT-INGEST — the streaming twin of
    * [[graft.operators.Sketches.heavyHitters]]: each document
    * micro-batch folds its capacity-m Misra–Gries summary into the
    * persisted sketch state through the SAME mergeable-summaries merge
    * the batch aggregator uses (one shared seam,
    * `MisraGriesAgg.merge`), so the carried state is ≤ m counters plus
    * the stream length — kilobytes per trigger, no state store, no
    * watermark, O(batch + m) per trigger. The MG guarantee survives ANY
    * merge order (the fold is commutative/associative), so after the
    * last trigger the exact recount of the surviving candidates
    * filtered at freq·m > n is STILL precisely the share > 1/m set —
    * the streamed result is row-identical to `heavy_hitters` and shares
    * its oracle verbatim.
    *
    * Replay discipline: per-batch state versions are overwrite-
    * idempotent; a mid-run failure resumes from the checkpoint and
    * rebuilds b(i)/state from b(i-1)/state + the replayed batch. No
    * order refusal is needed — unlike the packing fold, the merged
    * sketch's DOWNSTREAM result is delivery-order-independent.
    */
  def streamingHeavyHitters(spark: SparkSession, sfDir: String,
      m: Int = graft.operators.Sketches.DefaultCapacity)
      : DataFrame = {
    import spark.implicits._
    import graft.functions.SketchAggregators.{MgBuf, MisraGriesAgg}
    val root = IndexStore.indexDir(sfDir, "stream-hh-v1", "documents")
    val landing = s"$root/landing"
    val versions = s"$root/versions"
    if (!IndexStore.committed(s"$versions/b1/state")) {
      val docs = Tables.load(spark, sfDir, "documents")
        .select(col("doc_id"), col("text"))
      val cut = docs.agg(max(col("doc_id"))).head.getLong(0) / 2
      stageInto(docs.filter(col("doc_id") <= cut), landing, "batch0")
      stageInto(docs.filter(col("doc_id") > cut), landing, "batch1")
      staggerBatches(landing, Seq("batch0", "batch1"))
      runChain(spark, landing, DocBatchSchema, s"$root/ckpt") { (b, batchId) =>
        val agg = new MisraGriesAgg(m)
        val prev: MgBuf =
          if (batchId == 0L) agg.zero
          else {
            val rows = spark.read
              .parquet(s"$versions/b${batchId - 1}/state").collect()
            (rows.filter(!_.isNullAt(0))
               .map(r => r.getString(0) -> r.getLong(1)).toMap,
             rows.head.getLong(2))
          }
        val batchSketch: MgBuf = b
          .select(explode(split(col("text"), " ")).as("tok"))
          .filter(col("tok") =!= "")
          .select(lower(col("tok")).as("tok"))
          .as[String]
          .select(agg.toColumn).head()
        val (cnt, n) = agg.merge(prev, batchSketch)
        val out =
          if (cnt.isEmpty) Seq((null: String, 0L, n))
          else cnt.toSeq.map { case (t, c) => (t, c, n) }
        out.toDF("tok", "cnt", "n")
          .coalesce(1).write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .parquet(s"$versions/b$batchId/state")
      }
    }
    val st = spark.read.parquet(s"$versions/b1/state")
    val cands = st.filter(col("tok").isNotNull).select(col("tok"))
    val n = st.agg(max(col("n"))).head.getLong(0)
    spark.read.parquet(landing)
      .select(explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .select(lower(col("tok")).as("tok"))
      .join(broadcast(cands), "tok")
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("freq"))
      .filter(col("freq") * m > lit(n))
      .select(col("tok"), col("freq"),
        round(col("freq").cast("double") / n, 6).as("share"))
      .orderBy(col("freq").desc, col("tok"))
  }

  /** DRIFT-AT-INGEST — the streaming twin of
    * [[graft.operators.VectorSearch.embeddingDrift]]: the reference
    * bin grid is committed ONCE per data fingerprint (dim·nBins rows —
    * the deployment artifact a monitoring job ships alongside the
    * index), and each micro-batch of arriving vectors computes its
    * per-dimension PSI against that grid through the ONE shared
    * comparison seam ([[graft.operators.VectorSearch.psiVsReference]])
    * — per-batch work is O(batch·dim) explode + a broadcast of the tiny
    * grid, no state store, no watermark, nothing corpus-sized. The
    * fixture stages the batch gauge's exact "current" slice as one
    * landing file, so the streamed result is ROW-IDENTICAL to
    * `embedding_drift` and shares its oracle verbatim (the same
    * discipline as `streaming_media_decode`).
    */
  def streamingDrift(spark: SparkSession, sfDir: String, nBins: Int = 10,
                     eps: Double = 0.5): DataFrame = {
    // parameters ride IN the fixture key (repo convention, e.g.
    // "ivfdoc$nc-$dim-v1"): a non-default (nBins, eps) call must never
    // be served a committed default-parameter result
    val root = IndexStore.indexDir(sfDir,
      s"stream-drift-$nBins-$eps-v1", "embeddings")
    val refPath = s"$root/ref"
    val outPath = s"$root/out"
    if (!IndexStore.committed(outPath)) {
      val raw = Tables.load(spark, sfDir, "embeddings")
        .select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("v"))
      if (!IndexStore.committed(refPath))
        IndexStore.saveDataset(VectorSearch.driftReference(
          VectorSearch.driftCells(raw).filter(col("side") === 0), nBins)
          .coalesce(1), refPath)
      val landing = s"$root/landing"
      stageInto(raw.filter(col("vec_id") % 2 === 1), landing, "batch0")
      // a crashed prior attempt may have checkpointed the batch as
      // consumed WITHOUT committing the result (the crash window between
      // foreachBatch and the _SUCCESS marker) — AvailableNow would then
      // complete without re-invoking the batch and strand the fixture.
      // The result is a deterministic Overwrite of the same rows, so
      // clearing the checkpoint and replaying is always safe here.
      val ckptPath = new Path(s"$root/ckpt")
      val fs = ckptPath.getFileSystem(IndexStore.hadoopConf)
      if (fs.exists(ckptPath)) fs.delete(ckptPath, true)
      runChain(spark, landing, VectorBatchSchema, s"$root/ckpt") { (b, _) =>
        IndexStore.saveDataset(
          VectorSearch.psiVsReference(spark.read.parquet(refPath),
            VectorSearch.driftCells(b), nBins, eps)
            .coalesce(1), outPath)
      }
    }
    spark.read.parquet(outPath).orderBy("dim")
  }

  /** RETENTION as a gated query, for either family — the last
    * lifecycle event (build → append → delete → compact → refit →
    * RETENTION) surfaced in the graded contract. [[pruneVersions]] is
    * the production surface (a long-running ingest otherwise
    * accumulates every snapshot ever written); this gate proves its
    * layout-agnostic refcounting end-to-end on a real chain: three
    * O(batch) appends over the family's fixture base (v0 → v1 → v2,
    * each manifest re-referencing its predecessor's segments IN PLACE —
    * so v0's segment files are live data of v1 and v2), then one
    * `keep = 2` vacuum. The prune must (a) remove exactly v0 and nothing
    * else, (b) leave v0 unresolvable as a VERSION while every segment a
    * surviving manifest references stays on disk — including the base
    * index's segments outside the root (refcounting, not directory
    * deletion), (c) leave the latest version's search identical (top-k
    * ties break on (dist, id), so equality is exact, not floor-gated),
    * and (d) be idempotent — a second vacuum finds nothing. Outcomes
    * are persisted once per data fingerprint (the prune is a
    * destructive one-shot; a re-run in a fresh JVM must grade the SAME
    * event), and the serving check is recomputed live on every
    * invocation. `name` carries (nQueries, k): the persisted outcomes
    * were graded at THOSE parameters, and mixing them with a live
    * serving check at different ones would blend two contracts.
    */
  private def retentionViolations(spark: SparkSession, sfDir: String,
                                  f: IndexFamily, name: String,
                                  nQueries: Int, k: Int): DataFrame = {
    val root = IndexStore.indexDir(sfDir, name, "embeddings")
    val outcome = s"$root/outcome"
    val queries = AnnSearch.fixtureQueries(spark, sfDir, nQueries)
    val grownN = 4 * AnnSearch.embeddingCount(spark, sfDir)
    def searchAt(v: Long) = f.searchAt(spark, sfDir, s"$root/v$v", queries,
      k, grownN, nQueries.toLong).select(col("query_id"), col("id"))
    if (!IndexStore.committed(outcome)) {
      Seq(0.04, 0.05, 0.06).zipWithIndex
        .foldLeft(f.base(spark, sfDir)) { case (prev, (d, v)) =>
          f.appendAt(spark, prev,
            AnnSearch.injectionBatch(spark, sfDir, v + 1, d), s"$root/v$v")
          s"$root/v$v"
        }
      val pre = searchAt(2L).localCheckpoint(true)
      val fs = new Path(root).getFileSystem(IndexStore.hadoopConf)
      def qualify(s: String): String =
        fs.makeQualified(new Path(s)).toString
      // what the SURVIVORS reference — captured before the prune so the
      // liveness check is against the prune's own input
      val live = Seq(1L, 2L)
        .flatMap(v => IndexStore.readManifest(spark, s"$root/v$v"))
        .map(e => qualify(e._2)).distinct
      val doomed = pruneVersions(spark, root, keep = 2)
      val post = searchAt(2L)
      val drift = post.exceptAll(pre).count() + pre.exceptAll(post).count()
      IndexStore.saveDataset(Actions.checkRows(spark, Seq(
        Actions.holds("pruned_exactly_v0", doomed == Seq(0L)),
        Actions.exactly("doomed_still_resolvable", 0L,
          if (IndexStore.committed(s"$root/v0/manifest")) 1L else 0L),
        Actions.exactly("live_segment_missing", 0L,
          live.count(p => !fs.exists(new Path(p)))),
        Actions.exactly("post_prune_drift", 0L, drift),
        Actions.exactly("prune_idempotent", 0L,
          pruneVersions(spark, root, keep = 2).size))).coalesce(1), outcome)
    }
    // persisted one-shot outcomes + the recomputed serving check: the
    // surviving chain must still answer the fixture queries in full
    val vLast = latestVersion(root).getOrElse(-1L)
    val nRes = if (vLast < 0L) -1L else searchAt(vLast).count()
    spark.read.parquet(outcome)
      .filter(col("expected") =!= col("actual"))
      .unionByName(Actions.violations(spark,
        Actions.exactly("latest_version", 2L, vLast),
        Actions.exactly("serving_rows", nQueries.toLong * k, nRes)))
      .orderBy("invariant")
  }

  /** [[retentionViolations]] on the IVF chain
    * (`index_retention_violations`).
    */
  def ivfRetentionViolations(spark: SparkSession, sfDir: String,
                             nQueries: Int = 10, k: Int = 10): DataFrame =
    retentionViolations(spark, sfDir, IndexFamily.Ivf,
      s"ivf-ret-$nQueries-$k-v2", nQueries, k)

  /** [[retentionViolations]] on the graph chain
    * (`graph_retention_violations`).
    */
  def graphRetentionViolations(spark: SparkSession, sfDir: String,
                               nQueries: Int = 10,
                               k: Int = 10): DataFrame =
    retentionViolations(spark, sfDir, IndexFamily.Graph,
      s"graph-ret-$nQueries-$k-v4", nQueries, k)
}
