package perfbench

import graft.operators.{DedupIndex, Fts, IvfPq, Pq, Similarity}
import graft.streaming.IngestHarness
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._

/** `index_ingest`: the write path of three persisted index families, each
  * maintained by an `IngestHarness.drain` over many small micro-batches —
  * dedup (`DedupIndex.ingestBatch`, pairs appended to a sink), IVF-PQ
  * (`IvfPq.upsertIvfPqIndex`) and FTS (`Fts.upsertPostingsIndex`). The
  * IVF-PQ and FTS feeds end with a re-crawl slice that re-delivers one
  * seventh of the ids with changed content. Unit op = one micro-batch fold. */
final class IndexIngest(spark: SparkSession, seed: Long) extends Workload {
  override def setupReps: Int = 1
  private val nDocs = 400
  private val nSlices = 2
  private var docsPath = ""
  private var vecsPath = ""
  private var cents: Array[Array[Double]] = _
  private var books: Array[Array[Array[Double]]] = _
  private var rowsPerPass = 0L

  override def setup(dir: String): Unit = {
    val rnd = new java.util.Random(seed)
    docsPath = s"$dir/docs.parquet"
    vecsPath = s"$dir/vecs.parquet"
    Inputs.docsFrame(spark, Inputs.zipfCorpus(rnd, nDocs, 2000, Nil))
      .write.mode("overwrite").parquet(docsPath)
    val vs = Inputs.clusteredVectors(rnd, nDocs, 32, 12)
    Inputs.vecsFrame(spark, vs.indices.map(i => (i.toLong, vs(i)._2)))
      .write.mode("overwrite").parquet(vecsPath)
    cents = Similarity.ivfCentroids(vecs, "embedding", "vec_id", 8, 2)
    books = Pq.trainCodebooks(vecs, "embedding", "vec_id", m = 8, k = 16)
    rowsPerPass = (dedupSlices ++ ivfSlices ++ ftsSlices).map(_.count()).sum
  }

  private def docs = spark.read.parquet(docsPath)
  private def vecs = spark.read.parquet(vecsPath)
  private val recrawled = col("doc_id") % 7 === 1
  private val recrawledVec = col("vec_id") % 7 === 1

  private def dedupSlices: Seq[DataFrame] =
    (0 until nSlices).map(k => docs.filter(col("doc_id") % nSlices === k))

  /** Final truth after the FTS feed: re-crawled docs carry revised text. */
  private def ftsFinal: DataFrame =
    docs.withColumn("text",
      when(recrawled, concat(col("text"), lit(" rev2 w7"))).otherwise(col("text")))

  private def ftsSlices: Seq[DataFrame] =
    (0 until nSlices - 1).map(k => docs.filter(col("doc_id") % (nSlices - 1) === k)) :+
      ftsFinal.filter(recrawled)

  private def ivfSlices: Seq[DataFrame] =
    (0 until nSlices - 1).map(k => vecs.filter(col("vec_id") % (nSlices - 1) === k)
      .withColumn("embedding",
        when(recrawledVec, reverse(col("embedding"))).otherwise(col("embedding")))) :+
      vecs.filter(recrawledVec)

  private def drain(base: java.nio.file.Path, slices: Seq[DataFrame], ops: Ops,
      foldName: String)(fold: Dataset[Row] => Unit): Unit = {
    val opName = foldName.split('.')(1) + "_batch"
    val t0 = System.nanoTime()
    var first = true
    Trace.span("streaming.IngestHarness.drain") {
      IngestHarness.drain(spark, base, slices, batch => ops(opName) {
        if (first) { Trace.add("streaming.stage_ms", (System.nanoTime() - t0) / 1e6); first = false }
        Trace.span(foldName)(fold(batch))
      })
    }
    Trace.add("streaming.drain_ms", (System.nanoTime() - t0) / 1e6)
    Trace.add("index.input_bytes", Workload.treeBytes(base.resolve("in").toFile).toDouble)
  }

  private def indexShape(tables: Seq[String]): Unit = tables.foreach { t =>
    val (f, p) = Workload.filesAndPartitions(new java.io.File(t))
    Trace.add("index.files", f.toDouble); Trace.add("index.partitions", p.toDouble)
  }

  override def warmup(dir: String): Unit = ()

  override def pass(p: Int, dir: String, ops: Ops): Unit = {
    val base = java.nio.file.Paths.get(dir)
    val dedupIdx = base.resolve("dedup_idx").toString
    val ivfIdx = base.resolve("ivf_idx").toString
    val ftsIdx = base.resolve("fts_idx").toString
    drain(base.resolve("dedup"), dedupSlices, ops, "operators.DedupIndex.ingestBatch") { b =>
      DedupIndex.ingestBatch(spark, dedupIdx, b)
        .write.mode("append").parquet(base.resolve("pairs").toString)
    }
    drain(base.resolve("ivf"), ivfSlices, ops, "operators.IvfPq.upsertIvfPqIndex") { b =>
      IvfPq.upsertIvfPqIndex(b, "embedding", "vec_id", cents, books, ivfIdx)
    }
    drain(base.resolve("fts"), ftsSlices, ops, "operators.Fts.upsertPostingsIndex") { b =>
      Fts.upsertPostingsIndex(b, ftsIdx, "doc_id", "text")
    }
    if (Trace.active) {
      indexShape(Seq(s"$dedupIdx/bands", s"$dedupIdx/shingles", ivfIdx, ivfIdx + "_refine",
        ftsIdx, ftsIdx + "_docs"))
      Trace.add("streaming.rows", rowsPerPass.toDouble)
    }
  }

  override def check(firstPassDir: String): Seq[String] = {
    val base = java.nio.file.Paths.get(firstPassDir)
    val bulk = base.resolve("bulk")
    val errs = Seq.newBuilder[String]
    def same(what: String, a: String, b: String): Unit =
      if (!Workload.sameRows(spark.read.parquet(a), spark.read.parquet(b)))
        errs += s"$what: streamed index differs from a bulk build of the surviving rows"
    // dedup: index tables vs a bulk build, pairs vs slice-ordered brute force
    val dd = base.resolve("dedup_idx").toString
    DedupIndex.writeSignatureIndex(docs, bulk.resolve("dedup").toString)
    same("dedup bands", s"$dd/bands", s"${bulk.resolve("dedup")}/bands")
    same("dedup shingles", s"$dd/shingles", s"${bulk.resolve("dedup")}/shingles")
    val pairs = spark.read.parquet(base.resolve("pairs").toString)
      .select(col("da"), col("db"), col("jr")).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val brute = Inputs.nearPairs(docs.collect().map(r => r.getLong(0) -> r.getString(1)).toSeq)
      .filter { case ((a, b), _) => a % nSlices < b % nSlices }
    if (pairs.keySet != brute.keySet ||
        brute.exists { case (k, j) => math.abs(pairs(k) - j) > 5.1e-5 })
      errs += s"dedup pairs: ${pairs.size} drained vs ${brute.size} brute-force (slice-ordered)"
    if (brute.isEmpty) errs += "dedup pairs: corpus has no planted near-duplicates"
    // IVF-PQ: codes + refine tables vs a bulk build over the true vectors
    val ivf = base.resolve("ivf_idx").toString
    val ivfBulk = bulk.resolve("ivf").toString
    IvfPq.writeIvfPqIndex(vecs, "embedding", "vec_id", cents, books, ivfBulk)
    same("ivf-pq codes", ivf, ivfBulk)
    same("ivf-pq refine", ivf + "_refine", ivfBulk + "_refine")
    // FTS: postings + doc side table vs a bulk build over the final text
    val fts = base.resolve("fts_idx").toString
    val ftsBulk = bulk.resolve("fts").toString
    graft.api.Graft.index.buildFts(ftsFinal, "doc_id", "text", ftsBulk)
    same("fts postings", fts, ftsBulk)
    same("fts docs", fts + "_docs", ftsBulk + "_docs")
    errs.result()
  }

  /** Input rows folded per pass: every row of every slice of the three feeds. */
  def rowsFolded: Long = rowsPerPass

  override def sizes: Map[String, Long] =
    Map("docs" -> nDocs.toLong, "vectors" -> nDocs.toLong, "slices_per_feed" -> nSlices.toLong,
      "micro_batches_per_pass" -> 3L * nSlices)

  override def kernelInputs(firstPassDir: String): (DataFrame, DataFrame) =
    (docs.select(col("text")), vecs.select(col("embedding")))
}
