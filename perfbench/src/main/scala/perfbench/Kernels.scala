package perfbench

import graft.functions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Throughput of the engine's codegen kernels, each driven over the
  * workload's own text / embedding inputs (replicated to a fixed row count
  * and cached) into the `noop` sink. Reported as rows/s, median of 3. */
object Kernels {
  val names: Seq[String] = Seq("WordNgramHashesExpr", "HashedWordCountsExpr",
    "BpeTokenCountExpr", "CosineSimilarityExpr", "LshBucketsExpr", "PqEncodeExpr")

  private val targetRows = 20000

  private def replicated(df: DataFrame): DataFrame = {
    val n = math.max(1L, df.count())
    val copies = math.max(1L, (targetRows + n - 1) / n)
    df.crossJoin(df.sparkSession.range(copies).select(lit(0).as("_rep")))
      .drop("_rep").limit(targetRows).repartition(4).cache()
  }

  def run(texts: DataFrame, vecs: DataFrame, seed: Long): Map[String, Double] = {
    val t = replicated(texts.select(col("text")).filter(col("text").isNotNull))
    val v = replicated(vecs.select(col("embedding")).filter(col("embedding").isNotNull))
    try {
      val nT = t.count(); val nV = v.count()
      val dim = v.select(size(col("embedding"))).head.getInt(0)
      val rnd = new java.util.Random(seed)
      val query = Array.fill(dim)(rnd.nextGaussian().toFloat)
      val planes = graft.operators.Similarity.hyperplanes(dim, 8, seed)
      val sub = math.max(1, dim / 8)
      val books = Array.fill(8)(Array.fill(16)(Array.fill(sub)(rnd.nextGaussian())))
      val rules = Seq("w" -> "1", "w1" -> "0", "w" -> "2", "e" -> "r", "t" -> "h",
        "a" -> "n", "i" -> "n", "o" -> "n")
      val emb = col("embedding")
      val kernels: Seq[(String, DataFrame, Long, Column)] = Seq(
        ("WordNgramHashesExpr", t, nT, WordNgramHashes(col("text"), 3)),
        ("HashedWordCountsExpr", t, nT, HashedWordCounts(col("text"), 64)),
        ("BpeTokenCountExpr", t, nT, BpeTokenCount(col("text"), rules)),
        ("CosineSimilarityExpr", v, nV, CosineSimilarity(emb, array(query.map(lit): _*))),
        ("LshBucketsExpr", v, nV, LshBuckets(emb, Seq(planes))),
        ("PqEncodeExpr", v, nV, PqEncode(emb, graft.operators.Pq.vecNorm(emb, dim), books)))
      kernels.map { case (name, df, n, expr) =>
        val secs = (1 to 3).map { _ =>
          val t0 = System.nanoTime()
          df.select(expr.as("k")).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        s"functions.$name.rows_per_s" -> n / Trace.median(secs)
      }.toMap
    } finally { t.unpersist(); v.unpersist() }
  }
}
