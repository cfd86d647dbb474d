package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Latency log of the unit ops, one entry per op. The benchmark is a
  * closed loop with one client: an op starts only after the previous one
  * returned. Ops may be issued from the stream execution thread (ingest
  * micro-batches), hence the lock. */
final class Ops {
  final case class Rec(pass: Int, name: String, ms: Double, ok: Boolean)
  private val recs = mutable.ArrayBuffer.empty[Rec]
  @volatile var pass = 0

  def apply[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try {
      val r = Trace.op(name)(body)
      synchronized { recs += Rec(pass, name, (System.nanoTime() - t0) / 1e6, ok = true) }
      r
    } catch {
      case t: Throwable =>
        synchronized { recs += Rec(pass, name, (System.nanoTime() - t0) / 1e6, ok = false) }
        throw t
    }
  }

  def all: Seq[Rec] = synchronized(recs.toSeq)
}

/** One benchmark workload. `setup` builds every input under a fresh dir
  * (it may run several times so set-up time is a median; the last build
  * is the one used), `warmup` primes whatever pass 0 (the untimed first
  * pass) does not, and `pass` does a fixed amount of work through `ops`. */
trait Workload {
  def setupReps: Int = 3
  def setup(dir: String): Unit
  def warmup(dir: String): Unit
  def pass(p: Int, dir: String, ops: Ops): Unit
  /** Output checks; one message per failure. Run after the timed window
    * against the untimed pass 0's outputs (kept under `firstPassDir`). */
  def check(firstPassDir: String): Seq[String]
  /** Workload-specific results for the summary line. */
  def summary: Map[String, Double] = Map.empty
  /** Input sizes for the summary line. */
  def sizes: Map[String, Long]
  /** The (text) and (embedding) frames the function kernels run over. */
  def kernelInputs(firstPassDir: String): (DataFrame, DataFrame)
}

object Workload {
  def apply(name: String, spark: SparkSession, seed: Long): Workload = name match {
    case "lake_queries" => new LakeQueries(spark, seed)
    case "index_ingest" => new IndexIngest(spark, seed)
    case "index_serve" => new IndexServe(spark, seed)
    case "daily_pipeline" => new DailyPipeline(spark, seed)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** Multiset equality of two small frames over all columns (collected
    * and compared on the driver). */
  def sameRows(a: DataFrame, b: DataFrame): Boolean = {
    val cols = a.columns.sorted
    def rows(df: DataFrame) = df.select(cols.map(org.apache.spark.sql.functions.col): _*)
      .collect().map(_.toString).sorted.toSeq
    b.columns.sorted.sameElements(cols) && rows(a) == rows(b)
  }

  /** Total bytes of regular files under `p` (0 if absent). */
  def treeBytes(p: java.io.File): Long =
    if (p.isDirectory) Option(p.listFiles).map(_.map(treeBytes).sum).getOrElse(0L)
    else if (p.isFile) p.length else 0L

  /** (parquet data files, leaf partition dirs) under an index table dir. */
  def filesAndPartitions(p: java.io.File): (Long, Long) = {
    val kids = Option(p.listFiles).getOrElse(Array.empty[java.io.File])
    val files = kids.count(f => f.isFile && f.getName.endsWith(".parquet")).toLong
    val dirs = kids.filter(f => f.isDirectory && f.getName.contains("="))
    if (dirs.isEmpty) (files, if (files > 0) 1L else 0L)
    else dirs.map(filesAndPartitions).foldLeft((files, 0L)) {
      case ((f, d), (f2, d2)) => (f + f2, d + d2)
    }
  }

  def seededShuffle[T](xs: Seq[T], seed: Long): Seq[T] =
    new scala.util.Random(seed).shuffle(xs)
}
