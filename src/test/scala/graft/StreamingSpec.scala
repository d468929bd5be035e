package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

import graft.operators.Events
import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.{Ev, OpenSess, SessOut}

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("two-micro-batch sessionize: open sessions continue across batches") {
    // split events at the median timestamp into two files -> two batches
    val ev = Tables.normalizeTs(Tables.eventsRaw(spark, sf))
      .select(col("user_id"), col("event_id"), col("ts_us").as("us"))
    val cut = ev.stat.approxQuantile("us", Array(0.5), 0.0).head.toLong
    val dir = Files.createTempDirectory("graft_2batch")
    ev.filter(col("us") <= cut).coalesce(1).write
      .parquet(s"$dir/b1/data.parquet")
    ev.filter(col("us") > cut).coalesce(1).write
      .parquet(s"$dir/b2/data.parquet")
    // stage: one file per micro-batch via maxFilesPerTrigger
    val stage = Files.createTempDirectory("graft_2batch_in")
    def copyPart(sub: String, n: Int): Unit = {
      val part = new java.io.File(s"$dir/$sub/data.parquet").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = stage.resolve(f"batch$n%02d.parquet")
      java.nio.file.Files.copy(part.toPath, dst)
      // the file source orders batches by modification time — make it
      // unambiguous (same-millisecond copies raced in practice)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - (10000L - n * 1000L)))
    }
    copyPart("b1", 1); copyPart("b2", 2)

    val gapUs = 30 * 60L * 1000000L
    def fn(user: Long, it: Iterator[Ev],
           state: org.apache.spark.sql.streaming.GroupState[OpenSess])
        : Iterator[SessOut] = StreamingOps.sessionFold(user, it, state, gapUs)

    val sessions = spark.readStream
      .schema(ev.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(stage.toString)
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(fn)
    val q = sessions.writeStream.outputMode("append").format("memory")
      .queryName("graft_2batch_out").start()
    try q.processAllAvailable() finally q.stop()

    // last emitted row per (user, session) wins (update semantics)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id", "session_id")
      .orderBy(col("n_events").desc)
    val got = spark.table("graft_2batch_out")
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("user_id"), col("session_id"), col("n_events"),
        round((col("end_us") - col("start_us")).cast("double") / 1000000.0, 3)
          .as("duration_s"))
      .collect().map(_.toSeq).toSet
    val want = Events.sessionize(spark, sf).collect().map(_.toSeq).toSet
    assert(got == want)
  }

  test("streaming dedup equals the batch distinct key set") {
    def ckpts = Option(new java.io.File(StreamingOps.ephemeralCkptBase)
        .list()).toSeq.flatten
      .filter(_.startsWith("graft_ckpt_graft_stream_dedup")).toSet
    val before = ckpts
    val got = StreamingOps.streamingDedup(spark, sf)
      .collect().map(_.toSeq).toSet
    val want = Tables.events(spark, sf)
      .select(col("user_id"), col("event_type")).distinct()
      .collect().map(_.toSeq).toSet
    assert(got == want)
    // the run's ephemeral checkpoint dir is gone once it returns
    assert((ckpts -- before).isEmpty)
  }

  test("streaming CDC fold reaches the batch apply's exact live set") {
    // two seq-ordered micro-batches through the shared LWW seam must
    // land on the same fixed point as the one-pass batch apply — the
    // property that lets streaming_cdc_apply share cdc_apply's oracle
    val want = graft.operators.Ingest.cdcApply(spark, sf)
      .collect().map(_.toSeq).toSeq
    val got = graft.streaming.StreamingIndex.streamingCdcApply(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(got.nonEmpty && got == want)
  }

  test("streaming sequence packing threads the carried offset to the " +
    "batch manifest exactly") {
    // two doc_id-ordered micro-batches, one carried long of state: the
    // final manifest must be row-identical to the one-pass batch packing
    val want = graft.operators.TextAnalysis.sequencePack(spark, sf)
      .collect().map(_.toSeq).toSeq
    val got = graft.streaming.StreamingIndex
      .streamingSequencePack(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(got.nonEmpty && got == want)
  }

  test("checkpointed file-sink ingest is exactly-once across restarts") {
    val ev = Tables.eventsRaw(spark, sf)
      .select(col("event_id"), col("user_id"))
    val cut = ev.count() / 2
    val src = Files.createTempDirectory("graft_ingest_src")
    val out = Files.createTempDirectory("graft_ingest_out").toString
    val ckpt = Files.createTempDirectory("graft_ingest_ckpt").toString
    def stage(part: Int, df: org.apache.spark.sql.DataFrame): Unit = {
      val d = Files.createTempDirectory("graft_ingest_stage")
      df.coalesce(1).write.mode("overwrite").parquet(d.toString)
      val f = new java.io.File(d.toString).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.copy(f.toPath, src.resolve(f"part$part%02d.parquet"))
    }
    val b1 = ev.filter(col("event_id") <= cut)
    stage(1, b1)
    StreamingOps.streamingIngestOnce(spark, src.toString, out, ckpt,
      ev.schema)
    val n1 = spark.read.parquet(out).count()
    assert(n1 == b1.count())
    // "restart": second invocation resumes from the checkpoint — batch 1's
    // file is not re-read, batch 2 lands exactly once
    stage(2, ev.filter(col("event_id") > cut))
    StreamingOps.streamingIngestOnce(spark, src.toString, out, ckpt,
      ev.schema)
    val got = spark.read.parquet(out)
    assert(got.count() == ev.count())
    assert(got.select("event_id").distinct().count() == ev.count())
  }

  test("streaming index ingest keeps vectors on re-add and continues ids") {
    import graft.streaming.StreamingIndex
    import graft.sources.IndexStore
    val mapping = StreamingIndex.streamingIndexIngest(spark, sf).collect()
    val root = IndexStore.indexDir(sf, "stream-index-v4", "documents")
    val v = StreamingIndex.latestVersion(root).get
    assert(v == 1L)
    val joined = Tables.load(spark, sf, "documents")
      .join(Tables.load(spark, sf, "embeddings"),
        col("doc_id") === col("vec_id"))
    val nBase = joined.count()
    // batch0 docs + batch1 new docs, ids dense over the union
    assert(mapping.length == 2 * nBase)
    assert(mapping.map(_.getAs[Long]("faiss_id")).sorted.toSeq ==
      (1L to 2 * nBase).toSeq)
    // re-added ids keep their ORIGINAL vector: every v1 vector for a
    // batch0 faiss_id must equal the v0 vector (batch1 sent x+0.5)
    val v0 = StreamingIndex.loadVectorsAt(spark, s"$root/v0")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val v1 = StreamingIndex.loadVectorsAt(spark, s"$root/v1")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(v1.size == 2 * nBase)
    v0.foreach { case (id, vec) => assert(v1(id) == vec) }
    // O(batch) I/O: v1's OWN segments hold only batch 1's delta — the
    // new docs' vectors and the upserted mapping rows — while the corpus
    // history is re-referenced by manifest, never rewritten
    assert(spark.read.parquet(s"$root/v1/vectors").count() == nBase)
    val nUpd = joined.filter(col("doc_id") % 3 === 0).count()
    assert(spark.read.parquet(s"$root/v1/mapping").count() ==
      nBase + nUpd)
    assert(IndexStore.readManifest(spark, s"$root/v1")
      .exists(e => e._1 == "vectors" && e._2 == s"$root/v0/vectors"))
    // idempotent: a re-invocation with nothing new to process neither
    // bumps the version nor changes the mapping
    val again = StreamingIndex.streamingIndexIngest(spark, sf).collect()
    assert(StreamingIndex.latestVersion(root).get == 1L)
    assert(again.map(_.toSeq).toSeq == mapping.map(_.toSeq).toSeq)
  }

  test("streaming corpus dedup equals the batch incremental result") {
    import graft.streaming.StreamingIndex
    import graft.operators.Dedup
    val got = StreamingIndex.streamingCorpusDedup(spark, sf).collect()
      .map(_.toSeq).toSeq
    val want = Dedup.incrementalDedup(spark, sf).collect()
      .map(_.toSeq).toSeq
    assert(got.nonEmpty && got == want)
  }

  test("flat-store delete: tombstones leave the ranking, re-adds get " +
      "fresh ids without resurrecting the old vector, compaction " +
      "reclaims the space") {
    import graft.streaming.StreamingIndex
    import graft.sources.IndexStore
    def tmp(p: String) =
      java.nio.file.Files.createTempDirectory(p).toString
    val root = tmp("graft_flat_del_root")
    val landing = s"$root/landing"
    val ckpt = s"$root/ckpt"
    def stage(prefix: String, rows: Seq[(String, String, Seq[Double],
        String)]): Unit =
      StreamingIndex.stageInto(rows.toDF("str_id", "text", "v", "op"),
        landing, prefix)
    def e(i: Int) = Seq.tabulate(4)(j => if (j == i) 1.0 else 0.0)
    // batch 0: three adds; batch 1: delete x2; batch 2: RE-ADD x2 with a
    // different vector — three checkpointed ingest invocations
    stage("b0", Seq(("x1", "one", e(0), "add"), ("x2", "two", e(1), "add"),
      ("x3", "three", e(2), "add")))
    StreamingIndex.ingestAvailable(spark, landing, root, ckpt)
    stage("b1", Seq(("x2", null, null, "delete")))
    StreamingIndex.ingestAvailable(spark, landing, root, ckpt)
    stage("b2", Seq(("x2", "two again", e(3), "add")))
    StreamingIndex.ingestAvailable(spark, landing, root, ckpt)
    val v = StreamingIndex.latestVersion(root).get
    val live = StreamingIndex.loadMappingAt(spark, s"$root/v$v")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getString(2)))
      .toMap
    // ids dense by str_id order; the re-add allocated a FRESH id (never
    // reuse) and carries the new text
    assert(live == Map("x1" -> (1L, "one"), "x2" -> (4L, "two again"),
      "x3" -> (3L, "three")))
    // query along the DELETED vector's axis: the old x2 vector (id 2)
    // must be excluded from the RANKING — all three live rows come back
    // and none at distance 0
    val res = StreamingIndex.searchLatest(spark, root, e(1), k = 3)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(res.keySet == Set("x1", "x2", "x3"), res.toString)
    assert(res.values.forall(_ > 0.0), res.toString)
    // compaction keeps the (tiny) tombstone rows — all-time max id stays
    // 4 — but physically drops the dead id's vector
    val out = tmp("graft_flat_del_compact")
    StreamingIndex.compactTo(spark, root, out)
    val rawC = StreamingIndex.loadMappingRawAt(spark, s"$out/v0")
    assert(rawC.agg(max(col("faiss_id"))).head.getLong(0) == 4L)
    assert(spark.read.parquet(s"$out/v0/vectors").count() == 3L)
    val resC = StreamingIndex.searchLatest(spark, out, e(1), k = 3)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(resC == res)
  }

  test("streamed delete-at-ingest chains an add and a tombstone version " +
      "with zero violations") {
    import graft.streaming.StreamingIndex
    import graft.sources.IndexStore
    import graft.operators.AnnSearch
    assert(StreamingIndex.streamingIvfDelete(spark, sf).collect().isEmpty)
    val root = IndexStore.indexDir(sf, "stream-ivf-del-v2", "embeddings")
    Seq(0L, 1L).foreach { v =>
      assert(IndexStore.committed(s"$root/v$v/manifest"), s"v$v")
    }
    // v0 is the pure-add version (no tombstones yet); v1 carries the
    // delete batch's tombstone segment
    assert(AnnSearch.ivfTombSegments(spark, s"$root/v0").isEmpty)
    assert(AnnSearch.ivfTombSegments(spark, s"$root/v1").nonEmpty)
  }

  test("streamed GRAPH delete-at-ingest chains an add and a MIXED " +
      "add+delete version with zero violations") {
    import graft.streaming.StreamingIndex
    import graft.sources.IndexStore
    assert(StreamingIndex.streamingGraphDelete(spark, sf)
      .collect().isEmpty)
    val root = IndexStore.indexDir(sf, "stream-graph-del-v2",
      "embeddings")
    Seq(0L, 1L).foreach { v =>
      assert(IndexStore.committed(s"$root/v$v/manifest"), s"v$v")
    }
    // v0 is the pure-add version (beam-linked delta, no tombstones).
    // batch 1 is MIXED, so its adds committed through the stage dir
    // (invisible to version listing) and the v1 commit itself is the
    // delete: tombstones are the ONLY segments under v1's own path —
    // the masked-delete contract — while the wave-2 graph/vector
    // segments live under the stage the manifest references.
    def tombSegs(dir: String) = IndexStore.manifestSegments(
      IndexStore.readManifest(spark, dir), "tombstones")
    assert(tombSegs(s"$root/v0").isEmpty)
    assert(tombSegs(s"$root/v1").nonEmpty)
    assert(IndexStore.committed(s"$root/v1-stage/manifest"),
      "mixed batch must chain through the staged append")
    val v1Own = IndexStore.readManifest(spark, s"$root/v1")
      .filter(e => e._1 != "tombstones" && e._2.startsWith(s"$root/v1/"))
    assert(v1Own.isEmpty,
      s"masked delete must not write graph/vector data: $v1Own")
    val staged = IndexStore.readManifest(spark, s"$root/v1")
      .filter(_._2.startsWith(s"$root/v1-stage/"))
    assert(staged.nonEmpty,
      "v1 must reference the staged wave-2 segments")
  }

  test("stream-failure wipe is scoped to the out-of-order refusal") {
    import graft.streaming.StreamingIndex
    def mkRoot(): java.io.File = {
      val d = java.nio.file.Files
        .createTempDirectory("graft_wipe").toFile
      java.nio.file.Files.writeString(
        new java.io.File(d, "state").toPath, "derived")
      d
    }
    // the poison state: a misorder refusal (wrapped, as the streaming
    // runtime delivers it) wipes the derived state so the next call
    // re-stages instead of replaying the refusal forever
    val r1 = mkRoot()
    val mis = new RuntimeException("query terminated",
      new StreamingIndex.MisorderedBatchException(
        "anomaly batch 1 refused: reworded diagnostic, type still matches"))
    intercept[RuntimeException] {
      StreamingIndex.wipeIfMisordered(r1.getPath, mis)
    }
    assert(!r1.exists, "misorder refusal must wipe the root")
    // ANY OTHER failure (disk, OOM, interrupted query) keeps the
    // checkpointed state so the stream can RESUME — the recoverability
    // the replay discipline exists for (ADVICE r11)
    val r2 = mkRoot()
    val transient = new RuntimeException("query terminated",
      new java.io.IOException("disk full"))
    intercept[RuntimeException] {
      StreamingIndex.wipeIfMisordered(r2.getPath, transient)
    }
    assert(r2.exists && new java.io.File(r2, "state").exists,
      "a transient failure must keep the resumable state")
    // an IllegalStateException that merely CONTAINS the old wording is
    // not the refusal — the match is on the dedicated type, so message
    // look-alikes cannot trigger a destructive wipe
    val r3 = mkRoot()
    val lookalike = new RuntimeException("query terminated",
      new IllegalStateException("files arrived out of order, retrying"))
    intercept[RuntimeException] {
      StreamingIndex.wipeIfMisordered(r3.getPath, lookalike)
    }
    assert(r3.exists && new java.io.File(r3, "state").exists,
      "a message look-alike must not wipe — only the typed refusal does")
  }

  test("graph retention gate: keep-2 prune dooms v0 only, survivors " +
      "serve identically") {
    assert(graft.streaming.StreamingIndex
      .graphRetentionViolations(spark, sf).collect().isEmpty)
  }

  test("streamed GRAPH appends chain versions with zero violations") {
    import graft.streaming.StreamingIndex
    import graft.sources.IndexStore
    assert(StreamingIndex.streamingGraphAppend(spark, sf)
      .collect().isEmpty)
    val root = IndexStore.indexDir(sf, "stream-graph-v6", "embeddings")
    Seq(0L, 1L).foreach { v =>
      assert(IndexStore.committed(s"$root/v$v/manifest"), s"v$v")
    }
    // O(batch) I/O per version: each version's OWN vector segment holds
    // one batch (a fifth of the corpus — the incremental side of the
    // append regime switch); predecessors enter by manifest reference,
    // never copy
    val n = Tables.load(spark, sf, "embeddings").count()
    Seq(0L, 1L).foreach { v =>
      assert(spark.read.parquet(s"$root/v$v/seg/app/vectors")
        .count() == n / 5, s"v$v segment not batch-sized")
    }
  }

  test("streamed SHARDED ingest: K per-shard version chains advance " +
      "per trigger with zero violations") {
    import graft.streaming.StreamingIndex
    import graft.sources.IndexStore
    assert(StreamingIndex.streamingShardedAppend(spark, sf)
      .collect().isEmpty)
    // each shard's chain is two committed manifested versions
    val root = IndexStore.indexDir(sf,
      s"stream-shard${graft.operators.ShardedSearch.DefaultShards}-v1",
      "embeddings")
    for (s <- 0 until graft.operators.ShardedSearch.DefaultShards;
         v <- Seq(0L, 1L))
      assert(IndexStore.committed(s"$root/s$s/v$v/manifest"), s"s$s/v$v")
  }

  test("streamed sharded GRAPH ingest: K per-shard beam-link chains " +
      "advance per trigger with zero violations") {
    import graft.streaming.StreamingIndex
    import graft.sources.IndexStore
    assert(StreamingIndex.streamingGraphShardedAppend(spark, sf)
      .collect().isEmpty)
    // each graph shard's chain is two committed manifested versions
    val root = IndexStore.indexDir(sf,
      s"stream-gshard${graft.operators.ShardedSearch.DefaultShards}-v1",
      "embeddings")
    for (s <- 0 until graft.operators.ShardedSearch.DefaultShards;
         v <- Seq(0L, 1L))
      assert(IndexStore.committed(s"$root/s$s/v$v/manifest"), s"s$s/v$v")
  }

  test("micro-batch-shaped streamed chains (batchRows pinned — the " +
      "deep×wide tier's shape) hold the same zero-row contracts on " +
      "their own chain roots") {
    import graft.streaming.StreamingIndex
    assert(StreamingIndex.streamingIvfAppend(spark, sf, batchRows = 32L)
      .collect().isEmpty)
    assert(StreamingIndex.streamingShardedAppend(spark, sf,
      batchRows = 32L).collect().isEmpty)
    // the sliced chain lives on its OWN root — the default-shape chain
    // above is untouched by this run
    import graft.sources.IndexStore
    assert(IndexStore.committed(s"${IndexStore.indexDir(sf,
      "stream-ivf-b32-v3", "embeddings")}/v1/manifest"))
  }

  test("streamed IVF appends chain versions with zero violations") {
    import graft.streaming.StreamingIndex
    import graft.sources.IndexStore
    assert(StreamingIndex.streamingIvfAppend(spark, sf).collect().isEmpty)
    // the chain is two committed versions, each resolvable via manifest
    import graft.operators.AnnSearch
    val root = IndexStore.indexDir(sf, "stream-ivf-v3", "embeddings")
    Seq(0L, 1L).foreach { v =>
      assert(IndexStore.committed(s"$root/v$v/manifest"), s"v$v")
    }
    val nBase = Tables.load(spark, sf, "embeddings").count()
    assert(AnnSearch.ivfVectors(spark, s"$root/v0").count() == 2 * nBase)
    assert(AnnSearch.ivfVectors(spark, s"$root/v1").count() == 3 * nBase)
    // O(batch) I/O: each version's OWN segment is exactly one batch —
    // the prior corpus (base index + earlier appends) enters v1 by
    // manifest reference, never by copy, so bytes written per trigger
    // stay flat as the index grows
    assert(spark.read.parquet(s"$root/v0/segment").count() == nBase)
    assert(spark.read.parquet(s"$root/v1/segment").count() == nBase)
    val v1Refs = IndexStore.readManifest(spark, s"$root/v1")
      .filter(_._1 == "vectors").map(_._2)
    assert(v1Refs.contains(s"$root/v0/segment"))
    assert(v1Refs.exists(!_.startsWith(root)),
      "v1 must re-reference the base index outside the chain root")
  }

  test("snapshot search finds the query doc at distance zero") {
    import graft.streaming.StreamingIndex
    val rows = StreamingIndex.streamingSearch(spark, sf).collect()
    assert(rows.length == 10)
    // doc 0's own stored vector is the same normalization of the same
    // embedding as the query → exact distance 0, ranked first
    assert(rows.head.getString(0) == "doc-0000000")
    assert(rows.head.getDouble(1) == 0.0)
    // its batch-1 near-copy (+0.01 shift under id+10000) is in the top-k
    assert(rows.exists(_.getString(0) == "doc-0010000"))
  }

  test("idle open-session state is evicted on event-time timeout") {
    import org.apache.spark.sql.streaming.TestGroupState
    import org.apache.spark.api.java.Optional
    val gapUs = 30 * 60L * 1000000L
    // timed-out invocation: state dropped, nothing re-emitted (the final
    // session row was already emitted by the batch that built it)
    val st = TestGroupState.create[OpenSess](
      Optional.of(OpenSess(3L, 0L, 1000L, 2L)),
      GroupStateTimeout.EventTimeTimeout,
      batchProcessingTimeMs = 100L,
      eventTimeWatermarkMs = Optional.of(10000L),
      hasTimedOut = true)
    val out = StreamingOps.sessionFoldEvict(1L, Iterator.empty, st, gapUs)
    assert(out.isEmpty)
    assert(st.isRemoved)
    // normal invocation schedules eviction at last-event-time + gap
    val st2 = TestGroupState.create[OpenSess](
      Optional.empty[OpenSess](),
      GroupStateTimeout.EventTimeTimeout,
      batchProcessingTimeMs = 0L,
      eventTimeWatermarkMs = Optional.of(0L),
      hasTimedOut = false)
    val lastUs = 100L * 1000000L
    StreamingOps.sessionFoldEvict(7L,
      Iterator(Ev(7L, 1L, lastUs)), st2, gapUs).toList
    assert(st2.exists)
    assert(st2.getTimeoutTimestampMs.isPresent)
    assert(st2.getTimeoutTimestampMs.get() ==
      lastUs / 1000L + gapUs / 1000L)
  }

  test("native session_window equals the custom-state sessionizer") {
    // two implementations of the same gap-session semantics — the
    // declarative mergeable-session-state operator and the
    // flatMapGroupsWithState fold — must agree row for row
    val native = StreamingOps.streamingSessionWindows(spark, sf)
      .collect().map(_.toSeq).toSeq
    val custom = StreamingOps.streamingSessionize(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(native.nonEmpty)
    assert(native == custom)
  }

  test("windowed-agg state stays bounded: watermark eviction fires") {
    // the 100 TB streaming risk is unbounded state, not wrong sums: an
    // append-mode windowed aggregation over ≥3 time-ordered micro-batches
    // must EVICT finalized windows as the watermark advances, so the
    // state store never holds every window ever seen
    val ev = Tables.normalizeTs(Tables.eventsRaw(spark, sf))
      .select(col("event_id"), col("event_type"), col("value"),
        col("ts_us").as("us"))
    val qs = ev.stat.approxQuantile("us", Array(0.25, 0.5, 0.75), 0.0)
      .map(_.toLong)
    val stage = Files.createTempDirectory("graft_state_evict")
    val parts = Seq(
      ev.filter(col("us") <= qs(0)),
      ev.filter(col("us") > qs(0) && col("us") <= qs(1)),
      ev.filter(col("us") > qs(1) && col("us") <= qs(2)),
      ev.filter(col("us") > qs(2)))
    parts.zipWithIndex.foreach { case (p, i) =>
      val tmp = Files.createTempDirectory(s"graft_evict_w$i")
      p.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = stage.resolve(f"batch$i%02d.parquet")
      Files.copy(part.toPath, dst)
      // file source orders batches by mtime — make the order explicit
      Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - (10000L - i * 1000L)))
    }
    val schema = parts.head.schema
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    try {
      val agg = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(stage.toString)
        .withColumn("ts", timestamp_micros(col("us")))
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "5 minutes"))
        .agg(count(lit(1)).as("n"))
      val q = agg.writeStream.outputMode("append").format("memory")
        .queryName("graft_evict_probe").start()
      try q.processAllAvailable() finally q.stop()
      val batches = q.recentProgress.filter(_.numInputRows > 0)
      assert(batches.length >= 3, s"only ${batches.length} micro-batches")
      val stateRows = batches.map(_.stateOperators.head.numRowsTotal)
      val removed = batches.map(_.stateOperators.head.numRowsRemoved).sum
      val totalWindows = ev
        .select((col("us") - (col("us") % (300L * 1000000L))).as("w"))
        .distinct().count()
      // eviction actually fired, and the final state holds only the
      // un-finalized tail near the watermark — not every window ever seen
      assert(removed > 0, s"no state rows removed across $batches")
      assert(stateRows.last < totalWindows,
        s"final state ${stateRows.last} >= all-windows $totalWindows")
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("flat-store ingest auto-compacts past the segment bound") {
    import graft.sources.IndexStore
    import graft.streaming.StreamingIndex
    import spark.implicits._
    // batch i updates one existing id and adds one new id, so the LWW
    // resolution genuinely matters when the compaction folds it
    def b(i: Int) = Seq(
      ("k-upd", s"text-v$i", Seq(0.1 * (i + 1), 0.2)),
      (s"k-new-$i", s"text-new-$i", Seq(0.3, 0.1 * (i + 1))))
      .toDF("str_id", "text", "v")
    def chain(maxSegments: Int): String = {
      val root = Files.createTempDirectory("graft_flat_auto").toString
      (0 to 2).foreach { i =>
        StreamingIndex.stageInto(b(i), s"$root/landing", s"batch$i")
        StreamingIndex.ingestAvailable(spark, s"$root/landing", root,
          s"$root/ckpt", maxSegments)
      }
      root
    }
    val auto = chain(maxSegments = 2)
    val ctl = chain(maxSegments = IndexStore.DefaultMaxSegments)
    // v0, v1 are delta appends under both policies; v2 would be the 3rd
    // mapping segment → the auto chain writes it compacted
    val m = IndexStore.readManifest(spark, s"$auto/v2")
    assert(m.count(_._1 == "mapping") == 1)
    assert(m.count(_._1 == "vectors") == 1)
    assert(IndexStore.readManifest(spark, s"$ctl/v2")
      .count(_._1 == "mapping") == 3)
    // resolved reads are byte-identical to the never-compacted control
    def mapping(root: String) =
      StreamingIndex.loadMappingAt(spark, s"$root/v2")
        .orderBy("str_id").collect().map(_.toSeq).toSeq
    def vectors(root: String) =
      StreamingIndex.loadVectorsAt(spark, s"$root/v2")
        .orderBy("faiss_id").collect().map(_.toSeq).toSeq
    assert(mapping(auto).nonEmpty && mapping(auto) == mapping(ctl))
    assert(vectors(auto) == vectors(ctl))
    // and the compacted version resolves without reading v0/v1 segments:
    // its manifest references only its own two
    assert(m.forall(_._2.contains("/v2/")))
  }

  test("compaction collapses the chain to one segment per artifact") {
    import graft.sources.IndexStore
    import graft.streaming.StreamingIndex
    // the ingest fixture's two-version chain is the compaction input
    StreamingIndex.streamingIndexIngest(spark, sf).count()
    val root = IndexStore.indexDir(sf, "stream-index-v4", "documents")
    val srcV = s"$root/v${StreamingIndex.latestVersion(root).get}"
    // the chain really is multi-segment before compaction (what the
    // compaction bounds)
    assert(IndexStore.readManifest(spark, srcV)
      .count(_._1 == "mapping") == 2)
    val out = Files.createTempDirectory("graft_compact").toString
    StreamingIndex.compactTo(spark, root, out)
    assert(StreamingIndex.latestVersion(out).contains(0L))
    val m = IndexStore.readManifest(spark, s"$out/v0")
    assert(m.count(_._1 == "mapping") == 1)
    assert(m.count(_._1 == "vectors") == 1)
    // the RESOLVED state is preserved exactly — mapping rows and vector
    // counts — so readers can swap roots blindly
    val want = StreamingIndex.loadMappingAt(spark, srcV)
      .orderBy("str_id").collect().map(_.toSeq).toSeq
    val got = StreamingIndex.loadMappingAt(spark, s"$out/v0")
      .orderBy("str_id").collect().map(_.toSeq).toSeq
    assert(got == want)
    assert(StreamingIndex.loadVectorsAt(spark, s"$out/v0").count() ==
      StreamingIndex.loadVectorsAt(spark, srcV).count())
  }

  test("pruneVersions refcounts segments: survivors' references live on") {
    import graft.sources.IndexStore
    import graft.streaming.StreamingIndex
    val root = Files.createTempDirectory("graft_prune").toString
    def seg(path: String): Unit =
      IndexStore.saveDataset(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StreamingIndex.MappingSchema), path)
    // an append chain: version v's manifest references every prior
    // version's segment plus its own (exactly what ingestAvailable writes)
    (0L to 4L).foreach { v =>
      seg(s"$root/v$v/mapping")
      IndexStore.writeManifest(spark, s"$root/v$v",
        (0L to v).map(i => ("mapping", s"$root/v$i/mapping", i)))
    }
    // an unreferenced leftover inside a doomed version (crashed attempt's
    // scratch) must die with the version
    seg(s"$root/v0/scratch")
    // an UNCOMMITTED v5 (no manifest): possibly a replay in progress —
    // the vacuum must not touch it, and it must not count as "newest"
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$root/v5/mapping"))
    val deleted = StreamingIndex.pruneVersions(spark, root, keep = 2)
    assert(deleted == Seq(0L, 1L, 2L))
    assert(StreamingIndex.latestVersion(root).contains(4L))
    // doomed manifests died (the versions are no longer resolvable)...
    Seq(0L, 1L, 2L).foreach { v =>
      assert(!IndexStore.committed(s"$root/v$v/manifest"), s"v$v")
    }
    // ...but their SEGMENTS survive: the keepers' manifests refcount them
    Seq(0L, 1L, 2L).foreach { v =>
      assert(IndexStore.committed(s"$root/v$v/mapping"), s"v$v")
    }
    // the unreferenced scratch is gone; the untouched v5 is intact
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$root/v0/scratch")))
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$root/v5/mapping")))
    // the newest version still resolves completely after the vacuum
    assert(StreamingIndex.loadMappingAt(spark, s"$root/v4").count() == 0)
    // idempotent: a second vacuum has nothing left to delete
    assert(StreamingIndex.pruneVersions(spark, root, keep = 2).isEmpty)
    // keep >= 2 is enforced (replay of the newest batch needs its
    // predecessor alive)
    intercept[IllegalArgumentException] {
      StreamingIndex.pruneVersions(spark, root, keep = 1)
    }
    // a root with NO manifested versions (foreign/old layout) reads as
    // all-uncommitted: the vacuum deletes NOTHING — a wrong vacuum
    // pointed at a root can't eat live data
    val root2 = Files.createTempDirectory("graft_prune2").toString
    (0L to 2L).foreach(v => seg(s"$root2/v$v/mapping"))
    assert(StreamingIndex.pruneVersions(spark, root2, keep = 2).isEmpty)
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$root2/v0/mapping")))
  }

  test("drift-at-ingest is row-identical to the batch PSI gauge and " +
      "re-runnable from its committed outputs") {
    import graft.operators.VectorSearch
    import graft.streaming.StreamingIndex
    val want = VectorSearch.embeddingDrift(spark, sf)
      .collect().map(_.toSeq).toSeq
    val got = StreamingIndex.streamingDrift(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(got.nonEmpty && got == want)
    // second invocation reads the committed result — still identical
    assert(StreamingIndex.streamingDrift(spark, sf)
      .collect().map(_.toSeq).toSeq == want)
  }

  test("heavy-hitters-at-ingest is row-identical to the batch two-pass " +
      "result and carries bounded per-trigger state") {
    import graft.operators.Sketches
    import graft.streaming.StreamingIndex
    val m = 29
    val want = Sketches.heavyHitters(spark, sf, m)
      .collect().map(_.toSeq).toSeq
    val got = StreamingIndex.streamingHeavyHitters(spark, sf, m)
      .collect().map(_.toSeq).toSeq
    assert(got.nonEmpty && got == want)
    // the carried state is the sketch: <= m counters per version
    val root = graft.sources.IndexStore.indexDir(sf, "stream-hh-v1",
      "documents")
    Seq(0, 1).foreach { b =>
      val st = spark.read.parquet(s"$root/versions/b$b/state")
      assert(st.count() <= m, s"b$b state ${st.count()} > m")
    }
    // replay-idempotent: second invocation reads the committed fold
    assert(StreamingIndex.streamingHeavyHitters(spark, sf, m)
      .collect().map(_.toSeq).toSeq == want)
  }

  test("chunk-indexing-at-ingest searches row-identical to the batch " +
      "chunk retrieval from O(batch) appended versions") {
    import graft.operators.VectorSearch
    import graft.streaming.StreamingIndex
    val want = VectorSearch.chunkEmbedSearch(spark, sf)
      .collect().map(_.toSeq).toSeq
    val got = StreamingIndex.streamingChunkEmbed(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(got.nonEmpty && got == want)
    // each version holds only its batch's chunks (no rewrite of the
    // accumulated index), and together they cover the full chunk set
    val root = graft.sources.IndexStore.indexDir(sf, "stream-chunkemb-v1",
      "documents")
    val n0 = spark.read.parquet(s"$root/versions/b0/rows").count()
    val n1 = spark.read.parquet(s"$root/versions/b1/rows").count()
    val total = graft.operators.TextAnalysis.chunkDocs(spark, sf).count()
    assert(n0 > 0 && n1 > 0 && n0 + n1 === total)
    assert(StreamingIndex.streamingChunkEmbed(spark, sf)
      .collect().map(_.toSeq).toSeq == want)
  }

  test("sampling-at-ingest reservoir equals the batch A-ES draw with " +
      "k-row carried state") {
    import graft.operators.TextAnalysis
    import graft.streaming.StreamingIndex
    val want = TextAnalysis.weightedSample(spark, sf)
      .collect().map(_.toSeq).toSeq
    val got = StreamingIndex.streamingWeightedSample(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(got.nonEmpty && got == want)
    val root = graft.sources.IndexStore.indexDir(sf, "stream-wsample-v1",
      "documents")
    Seq(0, 1).foreach { b =>
      assert(spark.read.parquet(s"$root/versions/b$b/state").count() <= 100)
    }
    assert(StreamingIndex.streamingWeightedSample(spark, sf)
      .collect().map(_.toSeq).toSeq == want)
  }

  test("anomalies-at-ingest is row-identical to the batch gate and " +
      "carries only the last-w per-user tail") {
    import graft.operators.Events
    import graft.streaming.StreamingIndex
    val want = Events.eventAnomalies(spark, sf)
      .collect().map(_.toSeq).toSeq
    val got = StreamingIndex.streamingEventAnomalies(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(got.nonEmpty && got == want)
    // bounded state: <= w rows per user in every committed version
    val root = graft.sources.IndexStore.indexDir(sf, "stream-anom-v1",
      "events")
    Seq(0, 1).foreach { b =>
      val perUser = spark.read.parquet(s"$root/versions/b$b/state")
        .groupBy("user_id").count().agg(org.apache.spark.sql.functions
          .max("count")).head.getLong(0)
      assert(perUser <= 20, s"b$b tail $perUser > w")
    }
    // replay-idempotent second read
    assert(StreamingIndex.streamingEventAnomalies(spark, sf)
      .collect().map(_.toSeq).toSeq == want)
  }

  test("retention gate: vacuum prunes exactly v0, keeps refcounted " +
      "segments, and the gate is re-runnable") {
    import graft.sources.IndexStore
    import graft.streaming.StreamingIndex
    assert(StreamingIndex.ivfRetentionViolations(spark, sf)
      .collect().isEmpty)
    val root = IndexStore.indexDir(sf, "ivf-ret-10-10-v2", "embeddings")
    // v0 died as a VERSION (manifest gone) but its segment survives:
    // v1/v2's manifests refcount it — the chain serves from live data
    assert(!IndexStore.committed(s"$root/v0/manifest"))
    assert(IndexStore.committed(s"$root/v0/segment"))
    Seq(1L, 2L).foreach { v =>
      assert(IndexStore.committed(s"$root/v$v/manifest"), s"v$v")
    }
    // re-entrant: the persisted outcome grades the one-shot prune, the
    // serving check recomputes — still zero rows on a second invocation
    assert(StreamingIndex.ivfRetentionViolations(spark, sf)
      .collect().isEmpty)
  }

  test("index ingest refuses a fresh checkpoint over an older root") {
    import graft.sources.IndexStore
    import graft.streaming.StreamingIndex
    // a committed v5 this (fresh) checkpoint knows nothing about: the
    // lost-checkpoint scenario — batch ids restart at 0 and would fold
    // from an EMPTY base, rewriting history under readers
    val root = Files.createTempDirectory("graft_ckpt_mismatch").toString
    IndexStore.saveDataset(spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StreamingIndex.MappingSchema), s"$root/v5/mapping")
    IndexStore.saveDataset(spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StreamingIndex.VectorSchema), s"$root/v5/vectors")
    IndexStore.writeManifest(spark, s"$root/v5",
      Seq(("mapping", s"$root/v5/mapping", 5L),
        ("vectors", s"$root/v5/vectors", 5L)))
    assert(StreamingIndex.latestVersion(root).contains(5L))
    val landing = s"$root/landing"
    Seq(("doc-a", "text a", Seq(1.0, 0.0)))
      .toDF("str_id", "text", "v").coalesce(1).write.parquet(landing)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      StreamingIndex.ingestAvailable(spark, landing, root,
        s"$root/ckpt-fresh")
    }
    val msgs = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(t => String.valueOf(t.getMessage))
      .mkString(" | ")
    assert(msgs.contains("checkpoint/root mismatch"))
    // and the refused batch rewrote nothing: v5 is still the latest
    assert(StreamingIndex.latestVersion(root).contains(5L))
  }

  test("the IVF append chain refuses a fresh checkpoint over an older " +
      "root") {
    import graft.operators.IndexFamily
    import graft.sources.IndexStore
    import graft.streaming.StreamingIndex
    // the vector chains share ingestAvailable's runner and guard: a
    // committed v5 under a fresh checkpoint must refuse, not fold
    // batch 0 from the base
    val root = Files.createTempDirectory("graft_ivf_ckpt_mismatch").toString
    IndexStore.saveDataset(Seq((1L, Seq(1.0, 0.0))).toDF("vec_id", "v"),
      s"$root/v5/vectors")
    IndexStore.writeManifest(spark, s"$root/v5",
      Seq(("vectors", s"$root/v5/vectors", 5L)))
    assert(StreamingIndex.latestVersion(root).contains(5L))
    Seq((2L, Seq(0.0, 1.0))).toDF("vec_id", "v").coalesce(1)
      .write.parquet(s"$root/landing")
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      StreamingIndex.appendChain(spark, IndexFamily.Ivf, root,
        base = s"$root/v5")
    }
    val msgs = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(t => String.valueOf(t.getMessage))
      .mkString(" | ")
    assert(msgs.contains("checkpoint/root mismatch"))
    assert(StreamingIndex.latestVersion(root).contains(5L))
    assert(!new java.io.File(s"$root/v0").exists)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }
}
