package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Exact text search — the reference README's promised-but-unimplemented
  * `GET /search_by_text` (reference `README.md:37`; OCR text is stored at
  * `main.py:112,131` but never queried). Token-overlap scoring over the
  * `documents` corpus, fully relational:
  *
  *   query terms = the corpus's 3 most frequent tokens (deterministic,
  *   self-contained); score(doc) = number of token occurrences in the doc
  *   that match a query term; return top 20 docs by (score desc, doc_id).
  *
  * Scale shape: tokenize is a narrow map (explode), term selection is a
  * small agg broadcast back, scoring is a broadcast semi-style join —
  * one shuffle for the per-doc count, no large-large join.
  */
object TextSearch {

  /** (doc_id, tok) pairs, empty tokens dropped — THE corpus tokenizer
    * ([[TextAnalysis.tokensPos]]), so search and analysis can never
    * tokenize differently.
    */
  def tokens(spark: SparkSession, sfDir: String): DataFrame =
    TextAnalysis.tokensPos(Tables.load(spark, sfDir, "documents"))
      .select(col("doc_id"), col("tok"))

  def searchExact(spark: SparkSession, sfDir: String, nTerms: Int = 3,
                  topK: Int = 20): DataFrame = {
    val toks = tokens(spark, sfDir)
    val queryTerms = toks.groupBy(col("tok")).count()
      .orderBy(col("count").desc, col("tok"))
      .limit(nTerms)
      .select(col("tok"))
    toks.join(broadcast(queryTerms), "tok")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(topK)
  }

  /** Exact PHRASE search — order-sensitive matching, the query class
    * token-overlap scoring cannot answer ("slow fast" ≠ "fast slow").
    * The query phrase is the corpus's most frequent word trigram
    * (deterministic, self-contained, the [[searchExact]] convention);
    * returns every doc containing it verbatim, with its occurrence count
    * and first position.
    *
    * Scale shape: positional trigram HASHES are a narrow
    * array-expression explode (the [[TextAnalysis]] bigram pattern, no
    * self-join on positions); the phrase resolves to one 8-byte hash on
    * the driver (control plane — two tiny aggregate jobs over the
    * checkpointed slim stream, plus a string-resolution job only when
    * counts tie); matching is a literal filter + per-doc aggregate —
    * one shuffle, keyed by doc, carrying longs.
    */
  def phraseSearch(spark: SparkSession, sfDir: String,
                   n: Int = 3): DataFrame = {
    // r18 (guide §2.3 "shuffle keys, not payloads" — the substring_runs
    // token-hash discipline, [[Dedup.positionalShingleHashes]]): the
    // checkpointed gram stream and every shuffle carry an 8-byte
    // xxhash64 fold instead of the ~25-byte gram STRING; building the
    // concat_ws strings was the operator's hottest expression (measured
    // 3.5× the hash combine in r17's probe). Gram strings are
    // materialized ONLY to break count ties among the top hashes (the
    // oracle's ORDER BY count DESC, gram tie-break), over the tied
    // occurrences alone. Hash equality stands in for string equality
    // w.h.p. — the same ≥48-bit margin argument as substring_runs,
    // oracle-checked at every SF.
    val corpus = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    val l = split(col("text"), " ")
    val slim = corpus
      .select(col("doc_id"), l.as("l"),
        transform(l, x => xxhash64(x)).as("hs"))
      .select(col("doc_id"), posexplode(
        when(size(col("l")) >= n,
          transform(sequence(lit(1), size(col("l")) - (n - 1)), k =>
            struct(
              aggregate(slice(col("hs"), k, lit(n)), lit(0L),
                (acc, x) => xxhash64(acc, x)).as("h"),
              // the raw split holds empty tokens at double/leading/
              // trailing spaces; a phrase containing one is an artifact,
              // not corpus text (≡ the oracle's three LIKE filters on
              // the concatenated gram — tokens cannot contain spaces,
              // so "window has an empty token" ⇔ "gram has a doubled/
              // leading/trailing space")
              exists(slice(col("l"), k, lit(n)),
                x => x === lit("")).as("bad"))))
          .otherwise(array().cast(
            "array<struct<h:bigint,bad:boolean>>"))))
      .toDF("doc_id", "pos", "s")
      .filter(!col("s").getField("bad"))
      .select(col("doc_id"), col("pos"), col("s").getField("h").as("h"))
      // the slim stream feeds the selection counts AND the match scan —
      // cut the lineage once so tokenize + hash run one time
      .localCheckpoint(true)
    val counts = slim.groupBy(col("h")).agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val maxRow = counts.agg(max(col("c"))).head
    val qh: Long =
      if (maxRow.isNullAt(0)) 0L // empty corpus: no gram matches below
      else {
        // resolve ONLY the hashes tied at the max count to gram strings
        // (one occurrence per hash suffices — all occurrences of a hash
        // are the same gram w.h.p.) and take the oracle's lexicographic
        // minimum in Spark's own string ordering. The tied set stays a
        // frame: on an all-distinct corpus every gram ties at count 1
        val tied = counts.filter(col("c") === maxRow.getLong(0))
          .select(col("h"))
        slim.join(tied, Seq("h"), "left_semi")
          .groupBy(col("h"))
          .agg(min(struct(col("doc_id"), col("pos"))).as("o"))
          .select(col("h"), col("o").getField("doc_id").as("doc_id"),
            col("o").getField("pos").as("pos"))
          .join(corpus, "doc_id")
          .select(col("h"), concat_ws(" ",
            slice(split(col("text"), " "), col("pos") + 1, lit(n)))
            .as("gram"))
          .orderBy(col("gram")).limit(1)
          .select(col("h")).head().getLong(0)
      }
    Checkpoints.release(counts)
    slim.filter(col("h") === qh)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_occurrences"),
        min(col("pos")).cast("long").as("first_pos"))
      .orderBy("doc_id")
  }
}
