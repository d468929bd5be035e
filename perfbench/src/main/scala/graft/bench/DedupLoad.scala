package graft.bench

import graft.operators.Dedup

/** The `dedup` workload: the LLM-data-pipeline text path. Each request
  * writes a fresh document corpus with planted near-duplicate groups and
  * runs `Dedup.dedupKeepBest` over it (minhash → components → keep-best).
  * It touches no vector layer.
  */
object DedupLoad {
  /** Docs per corpus; ids must stay below the program's 10000 offset for
    * its injected copies.
    */
  val Docs = 1200
  val WarmDocs = 300
  val MinRequests = 2
  val RecallFloor = 0.9
  /** Floor on the share of unplanted docs found together with their
    * injected copy (a copy is its doc minus one token, so MinHash misses
    * only a few).
    */
  val CopyPairFloor = 0.95
  /** The program injects one copy of each doc at this id offset. */
  val CopyOffset = 10000L

  def config: Seq[(String, String)] = Seq(
    "docs_per_request" -> Json.num(Docs),
    "warmup_docs" -> Json.num(WarmDocs))

  def run(r: Run): Main.Summary = {
    var corpusIx = 0
    def corpus(n: Int): (String, Gen.Docs) = {
      val g0 = System.nanoTime()
      val dir = s"${r.opts.root}/data/docs-$corpusIx"
      val d = Gen.docs(r.opts.seed * 1000L + corpusIx, n)
      Gen.writeDocs(r.spark, dir, d)
      corpusIx += 1
      r.gauge("bench.gen_s", (System.nanoTime() - g0) / 1e9)
      (dir, d)
    }
    val recalls = scala.collection.mutable.ArrayBuffer.empty[Double]
    val copyShares = scala.collection.mutable.ArrayBuffer.empty[Double]
    var docs = 0L
    var seconds = 0.0

    def keepBest(warm: Boolean): Unit = {
      val (dir, d) = corpus(if (warm) WarmDocs else Docs)
      val t0 = System.nanoTime()
      def body = r.layer("Dedup.keep_best")(
        Dedup.dedupKeepBest(r.spark, dir).collect())
      val rows = if (warm) r.tracer.untraced(body)
        else r.request("keep_best")(body)
      val dt = (System.nanoTime() - t0) / 1e9
      val (problems, recall, copyShare) = check(rows.map(row =>
        (row.getLong(0), row.getLong(1), row.getLong(3))), d)
      r.outcome(s"keep_best over ${d.ids.length} docs", problems)
      if (!warm) {
        recalls += recall
        copyShares += copyShare
        docs += d.ids.length
        seconds += dt
      }
    }

    val w0 = System.nanoTime()
    keepBest(warm = true)
    r.gauge("bench.warmup_s", (System.nanoTime() - w0) / 1e9)
    var n = 0
    while (n < MinRequests || r.elapsedS < r.opts.seconds) {
      keepBest(warm = false)
      n += 1
    }
    val meanRecall = Stats.mean(recalls.toSeq)
    r.outcome("dedup mean planted-pair recall",
      if (meanRecall >= RecallFloor) Nil
      else Seq(f"$meanRecall%.4f below floor $RecallFloor"))
    val meanCopyShare = Stats.mean(copyShares.toSeq)
    r.outcome("dedup mean copy-pair share",
      if (meanCopyShare >= CopyPairFloor) Nil
      else Seq(f"$meanCopyShare%.4f below floor $CopyPairFloor"))
    val docsPerS = docs / seconds
    Main.Summary(itemsPerS = docsPerS, quality = meanRecall, detail = Seq(
      "dedup_p50_s" -> Json.num(Stats.median(r.samples("keep_best"))),
      "dedup_docs_per_s" -> Json.num(docsPerS),
      "dedup_recall" -> Json.num(meanRecall),
      "dedup_copy_pair_share" -> Json.num(meanCopyShare)),
      overheadKinds = Seq("keep_best"))
  }

  /** Check keep-best rows (component, keep_doc, n_members) against the
    * planted groups; returns problems, the planted-pair recall and the
    * share of unplanted docs whose component is exactly {doc, copy}.
    *
    * A component is labelled by its smallest member, so the rows whose
    * label is a member (or injected copy) of a planted group are the
    * pieces that group ended up in. A group of g docs is 2g nodes with
    * the copies; its planted pairs are the C(2g, 2) node pairs, and a
    * piece of m nodes holds C(m, 2) of them. An unplanted doc may only
    * share a component with its own copy.
    */
  def check(rows: Seq[(Long, Long, Long)],
            d: Gen.Docs): (Seq[String], Double, Double) = {
    val problems = Seq.newBuilder[String]
    val byLabel = rows.map(r => r._1 -> r._3).toMap
    if (byLabel.size != rows.length) problems += "duplicate component rows"
    val ids = d.ids.toSet
    rows.foreach { case (c, keep, _) =>
      val base = if (keep >= CopyOffset) keep - CopyOffset else keep
      if (!ids(base)) problems += s"component $c keeps unknown doc $keep"
    }
    val planted = d.groups.flatten.toSet
    def pairs(m: Long): Double = m * (m - 1) / 2.0
    var found = 0.0
    var all = 0.0
    d.groups.foreach { g =>
      val nodes = g.toSeq ++ g.toSeq.map(_ + CopyOffset)
      val pieces = nodes.flatMap(byLabel.get)
      if (pieces.sum > nodes.length)
        problems += s"group ${g.min} merged with unplanted docs"
      found += pieces.map(pairs).sum
      all += pairs(nodes.length)
    }
    val unplanted = d.ids.filterNot(planted)
    unplanted.foreach { id =>
      if (byLabel.get(id).exists(_ != 2L))
        problems += s"unplanted doc $id in a component of ${byLabel(id)}"
    }
    val withCopy = unplanted.count(id => byLabel.get(id).contains(2L))
    (problems.result(), if (all == 0) 1.0 else found / all,
      if (unplanted.isEmpty) 1.0 else withCopy.toDouble / unplanted.length)
  }
}
