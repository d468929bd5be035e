package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, TextAnalysis, TextSearch, TfIdf,
  VectorAnalytics}

/** Round-6 LLM-pipeline operators: quality-rule gating, deterministic
  * splits, Bloom-prefiltered decontamination, hybrid rank fusion, and the
  * auditable k-means step.
  */
class PipelineOpsSpec extends SparkSpec {

  test("tokenDrift flags a burst token in the current slice; stable " +
    "vocabulary stays near zero") {
    import spark.implicits._
    // even doc_ids = reference, odd = current; both slices share the
    // vocabulary (so the burst token is vocab, not tail) and the current
    // slice bursts 'spamtok'
    val docs = (0L until 40L).map { i =>
      val base = "alpha beta gamma delta spamtok"
      (i, if (i % 2 == 1) base + " spamtok spamtok spamtok" else base)
    }.toDF("doc_id", "text")
    val drift = TextAnalysis.tokenDriftOver(docs, topN = 50, eps = 0.5)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // burst token: large positive PSI summand, and an order louder than
    // the stable tokens' mix-share dilution
    assert(drift("spamtok") > 0.1, s"spamtok ${drift("spamtok")}")
    Seq("alpha", "beta", "gamma").foreach { t =>
      assert(drift(t) < drift("spamtok") / 5.0, s"$t ${drift(t)}")
    }
    assert(drift.contains("~other~"))
  }

  test("sequencePack conserves the corpus: every doc packed once, " +
    "token total exact, packs ordered by doc ranges") {
    val packs = TextAnalysis.sequencePack(spark, sf).collect()
    val docs = Tables.load(spark, sf, "documents")
    val nDocs = docs.count()
    val totTokens = docs.select(
      expr("cast(size(filter(split(text, ' '), t -> t != '')) as bigint)")
        .as("nt"))
      .agg(sum("nt")).head.getLong(0)
    // conservation: the manifest partitions the corpus exactly
    assert(packs.map(_.getAs[Long]("n_docs")).sum == nDocs)
    assert(packs.map(_.getAs[Long]("n_tokens")).sum == totTokens)
    // the doc_id-ordered stream means pack doc-ranges are disjoint and
    // increasing with pack_id (rows arrive ordered by pack_id)
    packs.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[Long]("pack_id") < b.getAs[Long]("pack_id"))
        assert(a.getAs[Long]("last_doc") < b.getAs[Long]("first_doc"))
      case _ =>
    }
    // fill: every pack but possibly the last holds >= a budget of tokens
    // only when docs are small; the recorded ratio must at least be
    // positive and consistent with its own token sum
    packs.foreach { p =>
      assert(math.abs(p.getAs[Double]("fill_ratio") -
        p.getAs[Long]("n_tokens").toDouble /
          TextAnalysis.DefaultPackBudget.toDouble) < 1e-3)
    }
  }

  test("sequencePack: a budget-spanning doc stays with its starting " +
    "pack; later packs shift, conservation holds") {
    import spark.implicits._
    // docs of 3 tokens each around one 12-token giant, budget 5:
    // offsets 0,3 | 6(giant, spans packs 1-3) | 18,21 — pack ids 0,0,1,3,4
    val docs = Seq(
      (1L, "a b c"), (2L, "d e f"),
      (3L, "g h i j k l m n o p q r"),
      (4L, "s t u"), (5L, "v w x")).toDF("doc_id", "text")
    val packs = TextAnalysis.sequencePackOver(spark, docs, 5L).collect()
      .map(r => r.getAs[Long]("pack_id") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens"))).toMap
    assert(packs.keySet == Set(0L, 1L, 3L, 4L)) // pack 2 is giant-interior
    assert(packs(0L) == (2L, 6L))
    assert(packs(1L) == (1L, 12L)) // the spanning doc: fill ratio > 1
    assert(packs(3L) == (1L, 3L) && packs(4L) == (1L, 3L))
    assert(packs.values.map(_._2).sum == 24L)
  }

  test("gopherRules: flags are 0/1, keep is their conjunction, " +
    "and the stats agree with an independent recount") {
    val rows = TextAnalysis.gopherRules(spark, sf).collect()
    val nDocs = Tables.load(spark, sf, "documents").count()
    assert(rows.length == nDocs)
    rows.foreach { r =>
      val flags = Seq("ok_len", "ok_avg", "ok_rep", "ok_stop")
        .map(r.getAs[Long])
      flags.foreach(f => assert(f == 0L || f == 1L))
      assert(r.getAs[Long]("keep") ==
        (if (flags.forall(_ == 1L)) 1L else 0L))
      // the length rule must agree with the reported token count
      assert((r.getAs[Long]("ok_len") == 1L) ==
        (r.getAs[Long]("n_tokens") >= 30L &&
          r.getAs[Long]("n_tokens") <= 90L))
    }
    // the gate must actually gate: some docs in, not all docs out
    val kept = rows.count(_.getAs[Long]("keep") == 1L)
    assert(kept > 0 && kept < rows.length)
  }

  test("datasetSplit: splits partition the corpus and are " +
    "stable across re-evaluation") {
    val agg = TextAnalysis.datasetSplit(spark, sf)
    val rows = agg.collect()
    val nDocs = Tables.load(spark, sf, "documents").count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == nDocs)
    assert(rows.map(_.getString(0)).toSet.subsetOf(
      Set("train", "val", "test")))
    // content-hash assignment ⇒ a second evaluation is identical
    assert(agg.collect().toSeq == rows.toSeq)
  }

  test("domainCap: at most cap docs per source, the kept set is the " +
    "longest-first prefix of each domain") {
    val cap = 5
    val rows = TextAnalysis.domainCap(spark, sf, cap).collect()
    val bySource = rows.groupBy(_.getAs[String]("source"))
    assert(bySource.nonEmpty)
    bySource.values.foreach(g => assert(g.length <= cap))
    // kept-per-domain minimum n_chars >= every dropped doc's n_chars
    // in that domain (keep-longest, not keep-random)
    val all = Tables.load(spark, sf, "documents")
      .select("doc_id", "source", "n_chars").collect()
      .groupBy(_.getAs[String]("source"))
    bySource.foreach { case (src, kept) =>
      val keptIds = kept.map(_.getAs[Long]("doc_id")).toSet
      val dropped = all(src).filterNot(r =>
        keptIds(r.getAs[Long]("doc_id")))
      if (dropped.nonEmpty && kept.length == cap) {
        val minKept = kept.map(_.getAs[Long]("n_chars")).min
        assert(dropped.forall(_.getAs[Long]("n_chars") <= minKept), src)
      }
    }
    // domain_rank is 1..|kept| within each source
    bySource.values.foreach { g =>
      assert(g.map(_.getAs[Long]("domain_rank")).sorted.toSeq ==
        (1L to g.length).toSeq)
    }
  }

  test("bloomDecontaminate == decontaminate at default and at a " +
    "saturating fpp (superset prefilter, exact confirm)") {
    val exact = Dedup.decontaminate(spark, sf).collect().toSeq
    assert(Dedup.bloomDecontaminate(spark, sf).collect().toSeq == exact)
    // a sloppy 20% filter admits more noise into the confirm join but
    // must never change the result
    assert(Dedup.bloomDecontaminate(spark, sf, fpp = 0.2)
      .collect().toSeq == exact)
  }

  test("hybridSearchRrf: fused scores are non-increasing, every row " +
    "has a contributing leg, ranks stay within the per-leg cut") {
    val rows = TfIdf.hybridSearchRrf(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    val rrfs = rows.map(_.getAs[Double]("rrf"))
    assert(rrfs.zip(rrfs.tail).forall { case (a, b) => a >= b })
    rows.foreach { r =>
      val (b, v) = (r.getAs[Long]("bm25_rank"), r.getAs[Long]("vec_rank"))
      assert(b >= 0L && b <= 50L && v >= 0L && v <= 50L)
      assert(b > 0L || v > 0L)
    }
  }

  test("substringRuns hot-shingle cap derives from the corpus count") {
    // the autoPairedBands pattern: fixed floor at fixture scale (so the
    // pinned-cap gate entry and the auto default coincide there), then
    // n/50 — the cap follows the corpus instead of pruning an ever-larger
    // fraction of it
    assert(Dedup.autoShingleFreq(1000L) == 1000L)
    assert(Dedup.autoShingleFreq(50000L) == 1000L)
    assert(Dedup.autoShingleFreq(1000L * 1000) == 20000L)
    assert(Dedup.autoShingleFreq(Dedup.corpusCount(spark, sf)) == 1000L)
    // at fixture scale the auto default therefore matches the pinned cap
    val auto = Dedup.substringRuns(spark, sf).collect().map(_.toSeq).toSeq
    val pinned = Dedup.substringRuns(spark, sf, maxShingleFreq = 1000L)
      .collect().map(_.toSeq).toSeq
    assert(auto.nonEmpty && auto == pinned)
  }

  test("substringRuns: every injected tail-duplicate surfaces with its " +
    "exact run length; nothing under the floor leaks through") {
    val runs = Dedup.substringRuns(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        r.getAs[Long]("run_tokens")).toMap
    runs.values.foreach(rt => assert(rt >= 20L))
    // the injected near-dup is the doc minus its first token, so the
    // shared verbatim run is exactly the tail: n_tokens − 1
    val docTokens = Tables.load(spark, sf, "documents")
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    docTokens.foreach { case (id, n) =>
      if (n - 1 >= 20L)
        assert(runs.get((id, id + 10000L)).contains(n - 1),
          s"doc $id: expected run ${n - 1}, got ${runs.get((id, id + 10000L))}")
    }
  }

  test("phraseSearch: every hit actually contains the phrase verbatim " +
    "at its reported first position") {
    val docs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // recover the query phrase independently: most frequent trigram,
    // ties to the lexicographically smallest (the operator's ordering)
    val best = docs.values.toSeq
      .flatMap(_.split(" ").sliding(3)
        .filter(w => w.length == 3 && w.forall(_.nonEmpty))
        .map(_.mkString(" ")))
      .groupBy(identity).map { case (g, os) => (g, os.size) }
    val maxN = best.values.max
    val expected = best.filter(_._2 == maxN).keys.min
    val rows = TextSearch.phraseSearch(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val toks = docs(r.getAs[Long]("doc_id")).split(" ")
      val p = r.getAs[Long]("first_pos").toInt
      assert(toks.slice(p, p + 3).mkString(" ") == expected,
        s"doc ${r.getAs[Long]("doc_id")} pos $p")
      assert(r.getAs[Long]("n_occurrences") >= 1L)
    }
  }

  test("phraseSearch on an all-distinct corpus resolves the count-1 tie " +
    "to the lexicographically smallest gram") {
    import spark.implicits._
    // every trigram occurs once, so every gram ties at the max count;
    // doc 4's only window holds an empty token (double space)
    val docs = Seq(
      1L -> "zeta yak xray walrus",
      2L -> "mango apple kiwi lemon",
      3L -> "banana apple cherry",
      4L -> "kiwi  melon")
    val grams = for {
      (id, text) <- docs
      (w, pos) <- text.split(" ", -1).sliding(3).zipWithIndex
      if w.length == 3 && w.forall(_.nonEmpty)
    } yield (w.mkString(" "), id, pos.toLong)
    assert(grams.map(_._1).distinct.size == grams.size)
    val best = grams.map(_._1).min
    val want = grams.filter(_._1 == best)
      .groupBy(_._2).toSeq.sortBy(_._1)
      .map { case (id, os) => Seq(id, os.size.toLong, os.map(_._3).min) }
    val dir = java.nio.file.Files.createTempDirectory("graft_phrase")
      .toString
    try {
      docs.toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
      val got = TextSearch.phraseSearch(spark, dir).collect().map(_.toSeq)
      assert(got.toSeq == want)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(dir))
  }

  test("ngramNovelty: bounded in [0,1], the first doc is all-new, and " +
    "per-doc new counts sum to the corpus's distinct shingle count") {
    val rows = TextAnalysis.ngramNovelty(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val nov = r.getAs[Double]("novelty")
      assert(nov >= 0.0 && nov <= 1.0)
      assert(r.getAs[Long]("n_new") <= r.getAs[Long]("n_shingles"))
    }
    // the smallest doc_id holding any shingle saw all of them first
    assert(rows.head.getAs[Double]("novelty") == 1.0)
    val totalDistinct = operators.Dedup.shingles(
      Tables.load(spark, sf, "documents")
        .select(col("doc_id"), col("text")), 3)
      .select(col("sh")).distinct().count()
    assert(rows.map(_.getAs[Long]("n_new")).sum == totalDistinct)
  }

  test("sqlBm25Search is bit-identical to the DataFrame bm25Search") {
    assert(TfIdf.sqlBm25Search(spark, sf).collect().toSeq ==
      TfIdf.bm25Search(spark, sf).collect().toSeq)
  }

  test("streamingQualityFilter is row-identical to the batch gopherRules " +
    "gate (stateless per-row arithmetic == tokenize-aggregate)") {
    val streamed = graft.streaming.StreamingOps
      .streamingQualityFilter(spark, sf).collect().toSeq
    val batch = TextAnalysis.gopherRules(spark, sf).collect().toSeq
    assert(streamed == batch)
  }

  test("collocations: PMI agrees with an independent recount and the " +
    "count floor holds") {
    val rows = TextAnalysis.collocations(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 30)
    val docs = Tables.load(spark, sf, "documents")
      .select(col("text")).collect().map(_.getString(0))
    val toks = docs.flatMap(_.split(" ").filter(_.nonEmpty))
    val uni = toks.groupBy(identity).map { case (t, o) => t -> o.length }
    val bgs = docs.flatMap(_.split(" ").sliding(2)
      .filter(w => w.length == 2 && w.forall(_.nonEmpty))
      .map(w => (w(0), w(1))))
    val pair = bgs.groupBy(identity).map { case (p, o) => p -> o.length }
    val nTok = toks.length.toDouble
    val nBg = bgs.length.toDouble
    rows.foreach { r =>
      val Array(w1, w2) = r.getAs[String]("bigram").split(" ")
      val c12 = pair((w1, w2)).toDouble
      assert(r.getAs[Long]("cnt") == c12.toLong && c12 >= 5)
      val want = math.log((c12 / nBg) /
        ((uni(w1) / nTok) * (uni(w2) / nTok)))
      assert(math.abs(r.getAs[Double]("pmi") - want) < 1e-5)
    }
  }

  test("lengthTrim keeps exactly the docs inside the corpus's own " +
    "[p10, p90] token-length band") {
    val kept = TextAnalysis.lengthTrim(spark, sf).collect()
      .map(_.getLong(0)).toSet
    val counts = TextAnalysis.tokenizeStats(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("n_tokens"))
    val sorted = counts.map(_._2.toDouble).sorted
    def q(p: Double): Double = { // percentile() linear interpolation
      val h = (sorted.length - 1) * p
      val i = h.toInt
      if (i + 1 < sorted.length) sorted(i) + (h - i) * (sorted(i + 1) - sorted(i))
      else sorted(i)
    }
    val (lo, hi) = (q(0.1), q(0.9))
    val want = counts.filter { case (_, n) => n >= lo && n <= hi }
      .map(_._1).toSet
    assert(kept == want)
    assert(kept.nonEmpty && kept.size < counts.length) // it actually trims
  }

  test("embeddingOutliers: z-scores recompute exactly and flagged rows " +
    "are the >= 2 sigma tail per label") {
    val emb = Tables.load(spark, sf, "embeddings").collect()
      .map(r => (r.getLong(0), r.getInt(2).toLong,
        r.getSeq[Float](1).map(_.toDouble).toArray))
    val byLabel = emb.groupBy(_._2)
    val flagged = VectorAnalytics.embeddingOutliers(spark, sf).collect()
      .map(r => (r.getLong(0), r.getAs[Double]("z"))).toMap
    val want = byLabel.toSeq.flatMap { case (_, vs) =>
      val dim = vs.head._3.length
      val cent = (0 until dim).map(j => vs.map(_._3(j)).sum / vs.length)
      val ds = vs.map { case (id, _, v) =>
        id -> math.sqrt((0 until dim).map(j =>
          (v(j) - cent(j)) * (v(j) - cent(j))).sum) }
      val mu = ds.map(_._2).sum / ds.length
      val sd = math.sqrt(ds.map(d => (d._2 - mu) * (d._2 - mu)).sum / ds.length)
      ds.collect { case (id, d)
        if BigDecimal((d - mu) / sd).setScale(6,
          BigDecimal.RoundingMode.HALF_UP).toDouble >= 2.0 => id }
    }.toSet
    assert(flagged.keySet == want)
    flagged.values.foreach(z => assert(z >= 2.0))
  }

  test("bpeMergeExpr equals the left-to-right non-overlapping fold on " +
    "multi-char symbols, runs and straddle-prone sequences") {
    import spark.implicits._
    // the reference semantics: scan left to right, merge each adjacent
    // (bl, br) occurrence exactly once, never re-using a consumed symbol
    def refMerge(parts: Seq[String], bl: String, br: String): Seq[String] = {
      val out = scala.collection.mutable.Buffer[String]()
      var i = 0
      while (i < parts.length) {
        if (i + 1 < parts.length && parts(i) == bl && parts(i + 1) == br) {
          out += (bl + br); i += 2
        } else { out += parts(i); i += 1 }
      }
      out.toSeq
    }
    val syms = Vector("a", "b", "ab", "th", "e", "aa")
    val rnd = new scala.util.Random(42)
    val cases = (1 to 300).map { _ =>
      Seq.fill(1 + rnd.nextInt(8))(syms(rnd.nextInt(syms.length)))
    } ++ Seq(
      Seq("th", "e"),                  // the straddle that breaks naive replace
      Seq("a", "a", "a"),              // odd run: merge, leftover
      Seq("a", "a", "a", "a"),         // even run: two chained merges
      Seq("b", "a", "a", "a", "c"))
    val df = cases.map(_.mkString(" ")).toDF("sym")
    for ((bl, br) <- Seq(("a", "a"), ("a", "b"), ("th", "e"), ("a", "ab"),
        ("ab", "b"), ("e", "th"), ("aa", "a"))) {
      val got = df.select(TextAnalysis.bpeMergeExpr(col("sym"), lit(bl),
        lit(br)).as("m")).as[String].collect().toSeq
      val want = cases.map(c => refMerge(c, bl, br).mkString(" "))
      assert(got == want, s"pair ($bl,$br)")
    }
  }

  test("bpeFit learns `iters` distinct merges; round 1 is bpeMergeStep's " +
    "argmax") {
    val rows = TextAnalysis.bpeFit(spark, sf, iters = 3).collect()
    assert(rows.length == 3)
    assert(rows.map(_.getAs[Long]("step")).toSeq == Seq(1L, 2L, 3L))
    assert(rows.forall(_.getAs[Long]("freq") > 0L))
    // a merged pair's adjacency is fully consumed, so no round can
    // re-learn an earlier round's pair
    val pairs = rows.map(r =>
      (r.getAs[String]("lsym"), r.getAs[String]("rsym"))).toSeq
    assert(pairs.distinct.length == 3)
  }

  test("kmeansIterate: every seed anchors a non-empty cluster, members " +
    "partition the corpus, shifts are finite and non-negative") {
    val rows = VectorAnalytics.kmeansIterate(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("cluster_id")).toSeq ==
      (0L until 8L).toSeq)
    val n = Tables.load(spark, sf, "embeddings").count()
    assert(rows.map(_.getAs[Long]("n_members")).sum == n)
    rows.foreach { r =>
      // a seed is its own nearest centroid, so no cluster can be empty
      assert(r.getAs[Long]("n_members") >= 1L)
      val s = r.getAs[Double]("shift")
      assert(!s.isNaN && s >= 0.0)
    }
  }
}
