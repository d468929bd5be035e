package graft.bench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generation and the benchmark's own exact truth.
  *
  * Everything here is plain Scala over the generated arrays: the truth
  * never goes through the program's search code, so a wrong answer from
  * the program cannot also be the reference it is checked against. The
  * float → double cast, normalization and squared-L2 accumulation follow
  * the same sequential IEEE order as the program's vector kernels, so
  * exact results can be compared id-for-id.
  */
object Gen {

  /** A generated vector table: ids, float32 rows, labels. */
  final case class Vectors(ids: Array[Long], rows: Array[Array[Float]],
                           labels: Array[Int]) {
    def size: Int = ids.length
    lazy val normed: Array[Array[Double]] = rows.map(normalize)
    def take(n: Int): Vectors = Vectors(ids.take(n), rows.take(n),
      labels.take(n))
    def ++(o: Vectors): Vectors = Vectors(ids ++ o.ids, rows ++ o.rows,
      labels ++ o.labels)
  }

  /** Clustered, labelled vectors: 64 Gaussian centres in `dim`
    * dimensions, label = centre mod 8, each row a centre plus isotropic
    * noise wide enough that clusters overlap (so IVF recall is below 1).
    * Centres depend only on (seed, dim), so corpus rows and query batches
    * drawn later share the same clusters.
    */
  final class VectorSource(seed: Long, dim: Int) {
    private val centers = 64
    private val nLabels = 8
    private val noise = 2.0
    private val centerRows: Array[Array[Double]] = {
      val r = new SplittableRandom(seed ^ 0x5eedc0deL)
      Array.fill(centers)(Array.fill(dim)(gaussian(r)))
    }

    def draw(stream: Long, firstId: Long, n: Int): Vectors = {
      val r = new SplittableRandom(seed * 1000003L + stream)
      val rows = new Array[Array[Float]](n)
      val labels = new Array[Int](n)
      var i = 0
      while (i < n) {
        val c = r.nextInt(centers)
        val ctr = centerRows(c)
        rows(i) = Array.tabulate(dim)(j =>
          (ctr(j) + noise * gaussian(r)).toFloat)
        labels(i) = c % nLabels
        i += 1
      }
      Vectors(Array.tabulate(n)(firstId + _), rows, labels)
    }
  }

  private def gaussian(r: SplittableRandom): Double = {
    // Box-Muller; SplittableRandom has no nextGaussian on every JDK
    val u = 1.0 - r.nextDouble()
    val v = r.nextDouble()
    math.sqrt(-2.0 * math.log(u)) * math.cos(2.0 * math.Pi * v)
  }

  def normalize(x: Array[Float]): Array[Double] = {
    var s = 0.0
    var i = 0
    while (i < x.length) { val v = x(i).toDouble; s += v * v; i += 1 }
    val norm = math.sqrt(s)
    Array.tabulate(x.length)(j => x(j).toDouble / norm)
  }

  def squaredL2(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  /** Exact top-k ids per query over corpus parts (a base plus appended
    * batches), ordered by (distance, id) — the program's ranking contract.
    * `live(part, row)` false masks a deleted row.
    */
  def exactTopK(parts: Seq[Vectors], live: (Int, Int) => Boolean,
                    queries: Array[Array[Double]],
                    k: Int): Array[Array[Long]] = {
    val out = new Array[Array[Long]](queries.length)
    java.util.stream.IntStream.range(0, queries.length).parallel()
      .forEach { qi =>
        val q = queries(qi)
        // bounded max-heap of (dist, id) on the ranking order
        val heap = new java.util.PriorityQueue[(Double, Long)](k + 1,
          (a: (Double, Long), b: (Double, Long)) => {
            val c = java.lang.Double.compare(b._1, a._1)
            if (c != 0) c else java.lang.Long.compare(b._2, a._2)
          })
        var p = 0
        while (p < parts.length) {
          val part = parts(p)
          val nr = part.normed
          var i = 0
          while (i < part.size) {
            if (live(p, i)) {
              val d = squaredL2(q, nr(i))
              if (heap.size < k) heap.add((d, part.ids(i)))
              else {
                val top = heap.peek()
                if (d < top._1 || (d == top._1 && part.ids(i) < top._2)) {
                  heap.poll(); heap.add((d, part.ids(i)))
                }
              }
            }
            i += 1
          }
          p += 1
        }
        val ranked = new Array[(Double, Long)](heap.size)
        var j = ranked.length - 1
        while (!heap.isEmpty) { ranked(j) = heap.poll(); j -= 1 }
        out(qi) = ranked.map(_._2)
      }
    out
  }

  private val vectorSchema = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false)),
    StructField("label", IntegerType, nullable = false)))

  /** The vectors as the program's `embeddings` table rows. */
  def vectorFrame(spark: SparkSession, v: Vectors): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(Array.tabulate(v.size)(i =>
        Row(v.ids(i), v.rows(i).toSeq, v.labels(i))): _*),
      vectorSchema)

  /** Parquet files per written table. */
  private val Files = 4

  /** Write `embeddings.parquet` under `dir` (the fixture layout the
    * program's loaders read).
    */
  def writeVectors(spark: SparkSession, dir: String, v: Vectors): Unit =
    vectorFrame(spark, v).repartition(Files)
      .write.parquet(s"$dir/embeddings.parquet")

  /** (vec_id, v) batch rows, raw floats — what an append receives. */
  def batchFrame(spark: SparkSession, v: Vectors): DataFrame =
    vectorFrame(spark, v).select(
      org.apache.spark.sql.functions.col("vec_id"),
      org.apache.spark.sql.functions.col("embedding").as("v"))

  // ---- documents -------------------------------------------------------

  /** A document corpus with planted near-duplicate groups. `groups` lists
    * the doc ids of each planted group; every other doc is unique text.
    */
  final case class Docs(ids: Array[Long], texts: Array[String],
                        groups: Seq[Array[Long]])

  private val stopwords = Array("the", "of", "and", "to", "in", "a", "is",
    "that", "for", "it", "as", "with", "on", "was", "by")

  /** `n` docs (ids 0 until n, below the program's 10000 injected-copy
    * offset). About 30% of them sit in planted groups of 3-5 members;
    * each member is the group's base text with one token replaced, so any
    * two members share most of their 3-shingles.
    */
  def docs(seed: Long, n: Int): Docs = {
    require(n < 10000, "doc ids must stay below the 10000 copy offset")
    val r = new SplittableRandom(seed * 7919L + 17L)
    val vocab = Array.fill(6000) {
      val len = 3 + r.nextInt(7)
      new String(Array.fill(len)(('a' + r.nextInt(26)).toChar))
    }
    def word(): String =
      if (r.nextInt(4) == 0) stopwords(r.nextInt(stopwords.length))
      else vocab(r.nextInt(vocab.length))
    def text(): Array[String] = Array.fill(40 + r.nextInt(60))(word())
    val texts = new Array[String](n)
    val groups = Seq.newBuilder[Array[Long]]
    val grouped = (n * 0.3).toInt
    var i = 0
    while (i < grouped) {
      val size = math.min(3 + r.nextInt(3), grouped - i)
      val base = text()
      val members = Array.tabulate(size) { m =>
        val t = base.clone()
        t(r.nextInt(t.length)) = vocab(r.nextInt(vocab.length))
        texts(i + m) = t.mkString(" ")
        (i + m).toLong
      }
      if (size >= 2) groups += members
      i += size
    }
    while (i < n) { texts(i) = text().mkString(" "); i += 1 }
    // shuffle ids so planted groups are not id-contiguous
    val perm = Array.tabulate(n)(identity)
    var j = n - 1
    while (j > 0) {
      val s = r.nextInt(j + 1); val t = perm(j); perm(j) = perm(s)
      perm(s) = t; j -= 1
    }
    val shuffled = new Array[String](n)
    (0 until n).foreach(k => shuffled(perm(k)) = texts(k))
    Docs(Array.tabulate(n)(_.toLong), shuffled,
      groups.result().map(_.map(id => perm(id.toInt).toLong)))
  }

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  private val langs = Array("en", "de", "es", "fr")

  /** Write `documents.parquet` under `dir`. */
  def writeDocs(spark: SparkSession, dir: String, d: Docs): Unit =
    spark.createDataFrame(
      java.util.Arrays.asList(d.ids.indices.map(i =>
        Row(d.ids(i), d.texts(i), langs(i % langs.length),
          s"src${i % 5}", d.texts(i).length.toLong)): _*),
      docSchema).repartition(Files)
      .write.parquet(s"$dir/documents.parquet")
}
