package graft.bench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.functions.VectorOps.l2Normalize

/** Query frames and the output checks every search request runs. */
object Checks {
  final case class Hit(id: Long, dist: Double, rn: Long)

  /** (query_id, qu) — a fresh batch exactly as a client sends it: raw
    * float32 vectors, normalized by the program's own kernel.
    */
  def queryFrame(spark: SparkSession, q: Gen.Vectors): DataFrame =
    Gen.vectorFrame(spark, q).select(col("vec_id").as("query_id"),
      l2Normalize(col("embedding")).as("qu"))

  /** Result rows (query_id, id, distance, rn) grouped per query. */
  def hits(rows: Array[Row]): Map[Long, Seq[Hit]] =
    rows.groupBy(_.getLong(0)).map { case (q, rs) =>
      q -> rs.map(r => Hit(r.getLong(1), r.getDouble(2), r.getLong(3)))
        .sortBy(_.rn).toSeq
    }

  /** Problems with one search's output, and its mean recall@k against
    * `truth`. Every query must have k ranked rows of live, known ids whose
    * reported distance matches the exact distance; with `exact` the ids
    * must also equal the truth id-for-id.
    */
  def search(got: Map[Long, Seq[Hit]], queries: Gen.Vectors, k: Int,
             truth: Array[Array[Long]], vecOf: Long => Option[Array[Double]],
             dead: Long => Boolean, exact: Boolean,
             truthRows: Int = -1): (Seq[String], Double) = {
    val problems = Seq.newBuilder[String]
    var recall = 0.0
    val nTruth = if (truthRows < 0) queries.size else truthRows
    queries.ids.indices.foreach { qi =>
      val qid = queries.ids(qi)
      val hs = got.getOrElse(qid, Seq.empty)
      if (hs.length != k)
        problems += s"query $qid: ${hs.length} rows, expected $k"
      if (hs.map(_.rn) != (1 to hs.length).map(_.toLong))
        problems += s"query $qid: ranks ${hs.map(_.rn).mkString(",")}"
      hs.foreach { h =>
        if (dead(h.id)) problems += s"query $qid: deleted id ${h.id}"
        vecOf(h.id) match {
          case None => problems += s"query $qid: unknown id ${h.id}"
          case Some(v) =>
            val d = Gen.squaredL2(queries.normed(qi), v)
            if (math.abs(d - h.dist) > 2e-6)
              problems += s"query $qid: id ${h.id} distance ${h.dist} != $d"
        }
      }
      if (qi < nTruth) {
        val t = truth(qi)
        if (exact && hs.map(_.id) != t.toSeq)
          problems += s"query $qid: ids ${hs.map(_.id).mkString(",")} != " +
            s"truth ${t.mkString(",")}"
        recall += hs.count(h => t.contains(h.id)).toDouble / t.length
      }
    }
    val extra = got.keySet -- queries.ids.toSet
    if (extra.nonEmpty) problems += s"rows for unknown queries ${extra.take(3)}"
    (problems.result(), recall / nTruth)
  }
}
