package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The one index interface the streamed chains and lifecycle gates
  * program against — the reference serves one FAISS `Index`
  * (`IndexIDMap` over `IndexHNSWFlat`, PAPER.md §0) with add, remove
  * and search; this engine's two versioned families are [[Ivf]] and
  * [[Graph]]. Every method is a one-line delegation to the family's own
  * operator, whose signature and body stay as they are.
  */
private[graft] sealed trait IndexFamily {

  /** The fixture's committed base index dir (built once). */
  def base(spark: SparkSession, sfDir: String): String

  /** Fold `batch` (vec_id, v) into a new version at `out` from `dir`. */
  def appendAt(spark: SparkSession, dir: String, batch: DataFrame,
               out: String): Unit

  /** Tombstone `ids` (vec_id) into a new version at `out` from `dir`. */
  def deleteAt(spark: SparkSession, dir: String, ids: DataFrame,
               out: String): Unit

  /** Top-k per query on the version at `dir`, at the family's default
    * operating point for the fixture corpus grown to `grownN` rows.
    */
  def searchAt(spark: SparkSession, sfDir: String, dir: String,
               queries: DataFrame, k: Int, grownN: Long,
               expectedQ: Long): DataFrame

  /** The version's live vec_ids: stored vectors minus tombstones. */
  def liveIds(spark: SparkSession, dir: String): DataFrame
}

private[graft] object IndexFamily {

  case object Ivf extends IndexFamily {
    def base(spark: SparkSession, sfDir: String): String =
      AnnSearch.ensureIvfIndex(spark, sfDir)
    def appendAt(spark: SparkSession, dir: String, batch: DataFrame,
                 out: String): Unit =
      AnnSearch.appendToIvfIndexAt(spark, dir, batch, out)
    def deleteAt(spark: SparkSession, dir: String, ids: DataFrame,
                 out: String): Unit =
      AnnSearch.deleteFromIvfIndexAt(spark, dir, ids, out)
    def searchAt(spark: SparkSession, sfDir: String, dir: String,
                 queries: DataFrame, k: Int, grownN: Long,
                 expectedQ: Long): DataFrame =
      AnnSearch.searchIndexAt(spark, dir, queries, k,
        AnnSearch.defaultProbe(spark, sfDir), expectedQ)
    def liveIds(spark: SparkSession, dir: String): DataFrame =
      AnnSearch.ivfLiveVectors(spark, dir).select(col("vec_id"))
  }

  case object Graph extends IndexFamily {
    def base(spark: SparkSession, sfDir: String): String =
      GraphAnn.buildGraphIndex(spark, sfDir)
    def appendAt(spark: SparkSession, dir: String, batch: DataFrame,
                 out: String): Unit =
      GraphAnn.appendToGraphIndexAt(spark, dir, batch, out)
    def deleteAt(spark: SparkSession, dir: String, ids: DataFrame,
                 out: String): Unit =
      GraphAnn.deleteFromGraphIndex(spark, dir, ids, out)
    def searchAt(spark: SparkSession, sfDir: String, dir: String,
                 queries: DataFrame, k: Int, grownN: Long,
                 expectedQ: Long): DataFrame =
      GraphAnn.graphSearchAt(spark, dir, queries, k, GraphAnn.autoEf(grownN),
        GraphAnn.autoHops(grownN,
          GraphAnn.autoDegree(AnnSearch.embeddingCount(spark, sfDir))),
        expectedQ)
    def liveIds(spark: SparkSession, dir: String): DataFrame =
      GraphAnn.graphLiveVectors(spark, dir).select(col("vec_id")).distinct()
  }
}
