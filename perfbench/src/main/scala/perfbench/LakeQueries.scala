package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** `lake_queries`: the 27 headline queries (SparkEntry.benchQueries) over a
  * seeded lake, each fully executed into the `noop` sink. Unit op = one
  * query; the seed sets the lake contents and the query order. The warm-up
  * pass writes every result to parquet, which the runner compares against
  * the query's DuckDB oracle. */
final class LakeQueries(spark: SparkSession, seed: Long) extends Workload {
  private val scale = 0.5 // ~30k lineitems
  private val queries = graft.SparkEntry.benchQueries
  private var dataDir = ""
  private var tableRows = Map.empty[String, Long]
  private var outDir = ""
  private val warmupErrors = scala.collection.mutable.ArrayBuffer.empty[String]

  override def setup(dir: String): Unit = {
    tableRows = Inputs.lake(spark, dir, seed, scale)
    dataDir = dir
  }

  override def warmup(dir: String): Unit = {
    outDir = dir
    queries.foreach { q =>
      try q.run(spark, dataDir).write.mode("overwrite").parquet(s"$dir/${q.name}")
      catch { case t: Throwable => warmupErrors += s"${q.name}: ${t.getMessage}" }
    }
  }

  override def pass(p: Int, dir: String, ops: Ops): Unit =
    Workload.seededShuffle(queries, seed).foreach { q =>
      ops(q.name) {
        Trace.span(s"operators.query.${q.name}") {
          q.run(spark, dataDir).write.format("noop").mode("overwrite").save()
        }
      }
    }

  override def check(firstPassDir: String): Seq[String] = warmupErrors.toSeq

  /** The oracle comparison the runner performs after the JVM exits: each
    * query's warm-up result against its DuckDB oracle over the same lake. */
  def oracleManifest: String = {
    def esc(s: String) = s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case '\r' => "\\r"; case '\t' => "\\t"; case c => c.toString
    }
    val oracles = graft.SparkEntry.oracleSql
    queries.filter(q => oracles.contains(q.name)).map { q =>
      s"""{"name":"${q.name}","out":"${esc(s"$outDir/${q.name}")}","sql":"${esc(oracles(q.name))}"}"""
    }.mkString(s"""{"data_dir":"${esc(dataDir)}","queries":[""", ",", "]}")
  }

  override def sizes: Map[String, Long] =
    tableRows.map { case (k, v) => s"rows.$k" -> v } + ("queries" -> queries.size.toLong)

  override def kernelInputs(firstPassDir: String): (DataFrame, DataFrame) =
    (graft.Tables.documents(spark, dataDir).select(col("text")),
      graft.Tables.embeddings(spark, dataDir).select(col("embedding")))
}
