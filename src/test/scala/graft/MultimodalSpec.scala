package graft

import graft.operators.Multimodal

class MultimodalSpec extends SparkSpec {

  test("media table carries a real PNG payload + typed metadata struct") {
    val df = Multimodal.mediaTable(spark, sf)
    val schema = df.schema
    assert(schema("content").dataType.typeName == "binary")
    assert(schema("meta").dataType.typeName == "struct")
    val row = df.head
    val meta = row.getStruct(row.fieldIndex("meta"))
    assert(meta.getAs[String]("format") == "image/png")
    assert(meta.getAs[Long]("n_bytes") ==
      row.getAs[Array[Byte]]("content").length)
    // the payload is an actual PNG stream (magic bytes), not a stand-in
    val png = row.getAs[Array[Byte]]("content")
    assert((png(0) & 0xff) == 0x89 && png(1) == 'P' && png(2) == 'N' &&
      png(3) == 'G')
  }

  test("the media fixture build runs under generated code only") {
    // CODEGEN_ONLY turns a silent fallback to interpreted projections
    // (e.g. generated code that cannot reach the row class's accessors)
    // into a failure
    val confs = Seq("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.fallback" -> "false")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val rows = Multimodal.buildMediaTable(spark, sf).collect()
      assert(rows.length == Tables.load(spark, sf, "documents").count())
      assert(rows.forall(r => r.getAs[Array[Byte]]("content").nonEmpty))
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("decodeOne round-trips the encoder through a REAL ImageIO parse") {
    // encode → decode must recover the arithmetic geometry exactly; a
    // header-only or hash-derived "decode" cannot produce these checksums
    Seq(0L, 1L, 7L, 123L).foreach { id =>
      val row = Multimodal.MediaRow(id, Multimodal.encodeOne(id),
        Multimodal.frameHeight(id))
      val d = Multimodal.decodeOne(row)
      assert(d.width == Multimodal.imgWidth(id))
      assert(d.height ==
        Multimodal.frameHeight(id).toLong * Multimodal.nFrames(id))
      assert(d.n_frames == Multimodal.nFrames(id))
      // first frame's grid checksum recomputed from the pixel formula
      val w = Multimodal.imgWidth(id)
      val fh = Multimodal.frameHeight(id)
      val want = (for (i <- 0 until 4; j <- 0 until 4) yield
        (Multimodal.pixel(id, i * (w - 1) / 3, j * (fh - 1) / 3)
          & 0xffffff).toLong).sum
      assert(d.frame_checksums.head == want)
    }
    // corrupt payloads fail loudly, never silently skip
    intercept[IllegalArgumentException] {
      Multimodal.decodeOne(
        Multimodal.MediaRow(9L, Array[Byte](1, 2, 3, 4), 16))
    }
  }

  test("decode is deterministic, bounded, and batch-partitioned") {
    val a = Multimodal.decode(spark, sf).collect()
    val b = Multimodal.decode(spark, sf).collect()
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
    a.foreach { r =>
      assert(r.getAs[Long]("width") >= 16 && r.getAs[Long]("width") <= 64)
      assert(r.getAs[Long]("height") >= 16 &&
        r.getAs[Long]("height") <= 64 * 4)
      assert(r.getSeq[Long](r.fieldIndex("frame_checksums")).length ==
        r.getAs[Long]("n_frames"))
    }
  }

  test("media fixture is persisted once and batch sizing reads it back") {
    // second load must hit the committed store, not re-encode: identical
    // rows, and the loader's plan is a bare parquet scan (no serialized
    // lambda from the encode mapPartitions)
    val plan = Multimodal.mediaTable(spark, sf).queryExecution
      .optimizedPlan.toString
    assert(!plan.contains("SerializeFromObject"),
      "mediaTable should read the persisted fixture, not re-encode")
    // the persisted decoded_bytes column is pinned to the Scala geometry
    // helpers — editing one without the other fails here
    import org.apache.spark.sql.functions.col
    val stored = Multimodal.mediaTable(spark, sf)
      .select(col("doc_id"), col("meta.decoded_bytes")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(stored.nonEmpty)
    stored.foreach { case (id, b) =>
      assert(b == Multimodal.decodedBytes(id),
        s"stored decoded_bytes desynced from helpers for doc $id")
    }
    assert(Multimodal.estimatedPayloadBytes(spark, sf) ==
      stored.keysIterator.map(Multimodal.decodedBytes).sum)
  }

  test("audio decode round-trips the PCM encoder and windows exactly") {
    // encode → decode must recover the sample arithmetic through a REAL
    // little-endian int16 parse
    Seq(0L, 1L, 7L, 123L).foreach { id =>
      val ws = Multimodal.decodeAudioOne(
        Multimodal.AudioRow(id, Multimodal.encodeAudioOne(id)))
      val n = Multimodal.audioSamples(id)
      assert(ws.map(_.n_samples).sum == n)
      assert(ws.length == (n + Multimodal.AudioWindowSamples - 1) /
        Multimodal.AudioWindowSamples)
      val w0 = (0 until Multimodal.AudioWindowSamples)
        .map(t => Multimodal.audioSample(id, t).toLong)
      assert(ws.head.min_s == w0.min && ws.head.max_s == w0.max)
      assert(ws.head.sum_abs == w0.map(math.abs).sum)
      assert(ws.head.energy == w0.map(s => s * s).sum)
    }
    // torn payloads fail loudly
    intercept[IllegalArgumentException] {
      Multimodal.decodeAudioOne(Multimodal.AudioRow(9L, Array[Byte](1)))
    }
    // end to end: persisted fixture, batched decode, result independent
    // of the batch target
    val a = Multimodal.audioFeatures(spark, sf).collect().map(_.toSeq).toSeq
    assert(a.nonEmpty)
    assert(Multimodal.audioFeatures(spark, sf, targetBatchBytes = 1024L)
      .collect().map(_.toSeq).toSeq == a)
    val plan = Multimodal.audioTable(spark, sf).queryExecution
      .optimizedPlan.toString
    assert(!plan.contains("SerializeFromObject"),
      "audioTable should read the persisted fixture, not re-encode")
  }

  test("streaming media decode is row-identical to the batch operator") {
    val batch = Multimodal.audioFeatures(spark, sf)
      .collect().map(_.toSeq).toSeq
    val streamed = graft.streaming.StreamingOps
      .streamingMediaDecode(spark, sf).collect().map(_.toSeq).toSeq
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("decode batch sizing follows the target-bytes knob") {
    // ceil-division partition math, clamped at both ends
    assert(Multimodal.batchCount(0L, 1024L) == 1)
    assert(Multimodal.batchCount(1024L, 1024L) == 1)
    assert(Multimodal.batchCount(1025L, 1024L) == 2)
    assert(Multimodal.batchCount(Long.MaxValue / 2, 1L) == (1 << 20))
    // end to end: a small byte target must yield multiple decode batches
    // (the fixture decodes to ~MBs of pixels), the default one batch —
    // and the RESULT must not depend on the batching
    val total = Multimodal.estimatedPayloadBytes(spark, sf)
    val target = 1024L
    val want = Multimodal.batchCount(total, target)
    assert(want > 1)
    val par = spark.sparkContext.defaultParallelism
    assert(Multimodal.mediaBatches(spark, sf, target)
      .rdd.getNumPartitions == math.max(want, par))
    // fixture decodes to ≪ 32 MiB → the byte target asks for one batch,
    // but the parallelism floor still fans the decode across all cores
    assert(Multimodal.mediaBatches(spark, sf, Multimodal.DefaultBatchBytes)
      .rdd.getNumPartitions == par)
    assert(Multimodal.decode(spark, sf, targetBatchBytes = target)
      .collect().map(_.toSeq).toSeq ==
      Multimodal.decode(spark, sf).collect().map(_.toSeq).toSeq)
  }
}
