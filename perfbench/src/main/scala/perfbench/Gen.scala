package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. Every value derives from the run seed, so
  * one seed always yields the same inputs; the engine only ever sees
  * the parquet files written here, read back like any user dataset. */
object Gen {

  val Dims = 64
  private val LatentDims = 12
  private val Clusters = 10

  /** Vectors from a 10-cluster Gaussian mixture in a 12-d latent
    * space, mapped linearly to 64-d plus small isotropic noise: the
    * neighborhoods have low intrinsic dimension, like real embeddings,
    * so a K-NN graph over them is navigable. The clusters overlap
    * (centers spread about as widely as the points around them), so
    * the graph is connected for every seed and search recall does not
    * hinge on which cluster an entry point lands in. Point `i`'s draws come
    * from its own stream, so the data does not depend on how it is
    * generated or partitioned. `first` offsets the stream index, which
    * is how held-out queries come from the same distribution without
    * being corpus members. */
  final class Vectors(seed: Long) {
    private val rng = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 1)
    private val centers = Array.fill(Clusters, LatentDims)(rng.nextGaussian())
    private val map = Array.fill(LatentDims, Dims)(
      (rng.nextGaussian() / math.sqrt(LatentDims)).toFloat)

    def point(i: Long): Array[Float] = {
      val r = new SplittableRandom(seed ^ (i * 0xD1B54A32D192ED03L))
      val c = centers(r.nextInt(Clusters))
      val z = Array.tabulate(LatentDims)(d => c(d) + r.nextGaussian())
      Array.tabulate(Dims) { j =>
        var s = 0.0
        var d = 0
        while (d < LatentDims) { s += z(d) * map(d)(j); d += 1 }
        (s + r.nextGaussian() * 0.1).toFloat
      }
    }

    def rows(first: Long, n: Int): Array[(Long, Array[Float])] =
      Array.tabulate(n)(k => (first + k, point(first + k)))
  }

  def writeVectors(spark: SparkSession, rows: Seq[(Long, Array[Float])],
      path: String, files: Int): Unit = {
    import spark.implicits._
    rows.toDF("id", "features").repartition(files)
      .write.mode("overwrite").parquet(path)
  }

  private val vocabWords = Seq(
    "batch", "part", "spark", "line", "column", "order", "small", "sort",
    "fast", "value", "scan", "hash", "slow", "group", "agg", "filter",
    "query", "big", "key", "window", "row", "table", "stream", "merge",
    "data", "join", "scale", "shard", "block", "cache")

  /** Documents with a planted duplicate structure, as in the engine's
    * scale-rehearsal generator: in every block of 70 consecutive ids,
    * the 7 ids ≡ 7 (mod 10) are exact copies of the block head's text
    * (id ≡ 0 mod 70) and the 7 ids ≡ 8 (mod 10) are the head's text
    * plus one appended word of their own (Jaccard ≈ 0.97), so no two of
    * them are exact copies of each other. All other documents are 40–60
    * independent word draws. The seed salts every hash. */
  def documents(spark: SparkSession, n: Long, seed: Long, parts: Int): DataFrame = {
    val vocab = array(vocabWords.map(lit): _*)
    val id = col("doc_id")
    val isDup = pmod(id, lit(10L)) === 7L || pmod(id, lit(10L)) === 8L
    val head = when(isDup, id - pmod(id, lit(70L))).otherwise(id)
    def pick(c: org.apache.spark.sql.Column) =
      element_at(vocab, (pmod(c, lit(vocabWords.size.toLong)) + 1).cast("int"))
    val nWords = (lit(40L) + pmod(xxhash64(head, lit(seed), lit(7)), lit(21L))).cast("int")
    val text0 = array_join(transform(sequence(lit(1), nWords), i =>
      pick(xxhash64(head, i, lit(seed), lit(5)))), " ")
    val text = when(pmod(id, lit(10L)) === 8L,
      concat(text0, lit(" v"), id.cast("string")))
      .otherwise(text0)
    spark.range(0L, n, 1L, parts).select(col("id").as("doc_id"))
      .select(id, text.as("text"))
  }
}
