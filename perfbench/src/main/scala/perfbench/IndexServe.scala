package perfbench

import graft.api.Graft
import graft.operators.{DedupIndex, Fts, IvfPq, LshIndex, Pq, Similarity}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `index_serve`: the read path of the persisted index families. Set-up
  * builds FTS postings (+ doc lengths for BM25), a sign-bit LSH index, an
  * IVF-PQ index and a dedup signature index over a seeded Zipf-vocabulary
  * corpus with planted phrases. One client then issues a stream of probes
  * (phrase, BM25, LSH kNN, IVF-PQ kNN, near-dup; each kind equally often,
  * Zipf-skewed over a fixed pool within the kind). Unit op = one probe, planned, executed and collected. */
final class IndexServe(spark: SparkSession, seed: Long) extends Workload {
  override def setupReps: Int = 1
  private val nDocs = 600
  private val dim = 32
  private val poolPerKind = 5
  private val streamLen = 25
  private val kinds = Seq("phrase", "bm25", "lsh", "ivfpq", "dup")
  private val phrases = Seq(Seq("w40", "w80", "w120"), Seq("w55", "w21", "w300"),
    Seq("w90", "w91"), Seq("w33", "w250", "w17", "w5"))

  private var dir = ""
  private var corpus: IndexedSeq[(Long, String)] = IndexedSeq.empty
  private var vectors: IndexedSeq[Array[Float]] = IndexedSeq.empty
  private var planes: Array[Array[Double]] = _
  private var cents: Array[Array[Double]] = _
  private var books: Array[Array[Array[Double]]] = _
  private var pool: Map[(String, Int), Probe] = Map.empty
  private var stream: Seq[(String, Int)] = Nil
  private val firstResult = scala.collection.mutable.Map.empty[(String, Int), Seq[String]]
  private val mismatches = scala.collection.mutable.ArrayBuffer.empty[String]

  /** One pooled probe: its words (phrase/BM25/dup) or vector (kNN). */
  private final case class Probe(words: Seq[String], vec: Array[Float], text: String)

  private def docsPath = s"$dir/docs.parquet"
  private def vecsPath = s"$dir/vecs.parquet"
  private def idx(name: String) = s"$dir/idx/$name"

  override def setup(d: String): Unit = {
    dir = d
    val rnd = new java.util.Random(seed)
    corpus = Inputs.zipfCorpus(rnd, nDocs, 3000, phrases)
    vectors = Inputs.clusteredVectors(rnd, nDocs, dim, 16).map(_._2)
    val docs = Inputs.docsFrame(spark, corpus)
    docs.write.mode("overwrite").parquet(docsPath)
    Inputs.vecsFrame(spark, vectors.indices.map(i => (i.toLong, vectors(i))))
      .write.mode("overwrite").parquet(vecsPath)
    Graft.index.buildFts(spark.read.parquet(docsPath), "doc_id", "text", idx("fts"))
    Fts.docLengths(spark.read.parquet(docsPath), "doc_id", "text")
      .write.mode("overwrite").parquet(idx("doclens"))
    planes = Similarity.hyperplanes(dim, 6, seed)
    LshIndex.writeLshIndex(vecs, "embedding", "vec_id", planes, idx("lsh"))
    cents = Similarity.ivfCentroids(vecs, "embedding", "vec_id", 16, 2)
    books = Pq.trainCodebooks(vecs, "embedding", "vec_id", m = 8, k = 16)
    IvfPq.writeIvfPqIndex(vecs, "embedding", "vec_id", cents, books, idx("ivfpq"))
    DedupIndex.writeSignatureIndex(spark.read.parquet(docsPath), idx("dedup"))
    // the probe pool and the skewed stream over it
    val z = new Inputs.Zipf(poolPerKind, 1.1, rnd)
    pool = kinds.flatMap { k =>
      (0 until poolPerKind).map { i =>
        val doc = corpus(rnd.nextInt(nDocs))._2.split(" ")
        val probe = k match {
          case "phrase" =>
            if (i < phrases.size) Probe(phrases(i), null, null)
            else { val at = rnd.nextInt(doc.length - 1); Probe(doc.slice(at, at + 2).toSeq, null, null) }
          case "bm25" => Probe(Seq.fill(3)(s"w${10 + rnd.nextInt(300)}").distinct, null, null)
          case "lsh" | "ivfpq" =>
            val base = vectors(rnd.nextInt(nDocs))
            Probe(Nil, base.map(x => x + 0.05f * rnd.nextGaussian().toFloat), null)
          case "dup" =>
            doc(rnd.nextInt(doc.length)) = s"w${rnd.nextInt(3000)}"
            Probe(Nil, null, doc.mkString(" "))
        }
        (k, i) -> probe
      }
    }.toMap
    // every kind equally often (the kinds' costs differ several-fold, so a
    // seeded kind mix would move the pass wall), Zipf-skewed within a kind
    stream = new scala.util.Random(seed).shuffle(
      Seq.tabulate(streamLen)(j => (kinds(j % kinds.size), z.next())))
  }

  private def vecs = spark.read.parquet(vecsPath)

  /** Runs one probe and returns its result rows rendered as strings. */
  private def probe(kind: String, i: Int): Seq[String] = {
    val p = pool((kind, i))
    val rows = kind match {
      case "phrase" => Trace.span("operators.Fts.phraseQuery") {
        Fts.phraseQuery(Fts.loadPostings(spark, idx("fts"), p.words), p.words)
          .select(col("doc_id")).collect()
      }
      case "bm25" => Trace.span("operators.Fts.bm25Scores") {
        Fts.bm25Scores(Fts.loadPostings(spark, idx("fts"), p.words),
          spark.read.parquet(idx("doclens")), p.words)
          .orderBy(col("bm25").desc, col("doc_id")).limit(10).collect()
      }
      case "lsh" => Trace.span("operators.LshIndex.probeLshIndex") {
        LshIndex.probeLshIndex(spark, idx("lsh"), "embedding", "vec_id", p.vec, 10, planes)
          .select(col("vec_id")).collect()
      }
      case "ivfpq" => Trace.span("operators.IvfPq.probeIvfPqIndex") {
        IvfPq.probeIvfPqIndex(spark, idx("ivfpq"), "embedding", "vec_id", p.vec, 10,
          Similarity.probeLists(p.vec, cents, 4), books, rerank = 64)
          .select(col("vec_id")).collect()
      }
      case "dup" => Trace.span("operators.DedupIndex.probeIndex") {
        val batch = Inputs.docsFrame(spark, Seq((1000000L + i, p.text)))
        val h = DedupIndex.probeIndexManaged(spark, idx("dedup"), batch)
        try h.result.select(col("da"), col("jr")).collect() finally h.close()
      }
    }
    Trace.add("index.result_rows", rows.length)
    rows.map(_.toString).toSeq.sorted
  }

  /** The probe paths keep speeding up over the first passes (JIT), so
    * serving gets one extra untimed run of the stream before pass 0. */
  override def warmup(d: String): Unit = pass(-1, d, new Ops)

  override def pass(p: Int, d: String, ops: Ops): Unit =
    stream.foreach { case (k, i) =>
      val got = ops(k)(probe(k, i))
      if (firstResult.getOrElseUpdate((k, i), got) != got && mismatches.size < 10)
        mismatches += s"$k probe $i: result changed between repeats"
    }

  private var recall = Map.empty[String, Double]

  override def check(firstPassDir: String): Seq[String] = {
    val errs = Seq.newBuilder[String] ++= mismatches
    // pooled probes the stream never drew are checked too
    for (k <- kinds; i <- 0 until poolPerKind if !firstResult.contains((k, i)))
      firstResult((k, i)) = probe(k, i)
    // phrase hits vs a brute scan of the raw text
    (0 until poolPerKind).foreach { i =>
      val ws = pool(("phrase", i)).words
      val want = corpus.filter { case (_, t) => t.split(" ").sliding(ws.size).exists(_.toSeq == ws) }
        .map(d => s"[${d._1}]").sorted
      if (firstResult(("phrase", i)) != want)
        errs += s"phrase ${ws.mkString(" ")}: ${firstResult(("phrase", i)).size} served vs ${want.size} brute"
      if (i < phrases.size && want.isEmpty) errs += s"planted phrase ${ws.mkString(" ")} never planted"
    }
    // BM25 top-10 vs a ranking over postings built in memory from the text
    val docs = spark.read.parquet(docsPath)
    val post = Fts.positionalPostings(docs, "doc_id", "text")
    val lens = Fts.docLengths(docs, "doc_id", "text")
    (0 until poolPerKind).foreach { i =>
      val ws = pool(("bm25", i)).words
      val want = Fts.bm25Scores(post, lens, ws).orderBy(col("bm25").desc, col("doc_id"))
        .limit(10).collect().map(_.toString).toSeq.sorted
      if (firstResult(("bm25", i)) != want) errs += s"bm25 ${ws.mkString(" ")}: served top-10 differs"
    }
    // ANN recall@10 against the exact cosine ranking
    recall = Seq("lsh", "ivfpq").map { k =>
      k -> (0 until poolPerKind).map { i =>
        val exact = Graft.retrieve.knnExact(vecs, "embedding", "vec_id", pool((k, i)).vec, 10)
          .select(col("vec_id")).collect().map(_.toString).toSet
        firstResult((k, i)).count(exact.contains) / 10.0
      }.sum / poolPerKind
    }.toMap
    if (recall("ivfpq") < 0.7) errs += f"ivf-pq recall@10 ${recall("ivfpq")}%.3f < 0.7"
    // near-dup probe pairs vs brute-force Jaccard over the corpus. MinHash
    // banding is a candidate filter, so the served pairs must be a subset of
    // the brute pairs with exact Jaccard, and a probe with a brute match
    // (every probe is a one-word edit of a corpus doc) must find one
    val corpusShingles = corpus.map { case (id, t) => id -> Inputs.shingles(t) }
    (0 until poolPerKind).foreach { i =>
      val sp = Inputs.shingles(pool(("dup", i)).text)
      val want = corpusShingles.map { case (id, s) => id -> Inputs.jaccard(s, sp) }
        .filter(_._2 >= 0.5).toMap
      val got = firstResult(("dup", i)).map { r =>
        val Array(a, j) = r.stripPrefix("[").stripSuffix("]").split(",")
        a.toLong -> j.toDouble
      }
      if (got.isEmpty || got.exists { case (a, j) => want.get(a).forall(w => math.abs(w - j) > 5.1e-5) })
        errs += s"dup probe $i: ${got.size} served pairs vs ${want.size} brute (served must be a non-empty subset)"
    }
    errs.result()
  }

  def recallAt10: Double = if (recall.isEmpty) 0.0 else recall.values.sum / recall.size

  override def summary: Map[String, Double] =
    Map("recall_at_10" -> recallAt10) ++ recall.map { case (k, v) => s"recall_at_10.$k" -> v }

  override def sizes: Map[String, Long] =
    Map("docs" -> nDocs.toLong, "vectors" -> nDocs.toLong, "dim" -> dim.toLong,
      "probe_pool" -> pool.size.toLong, "probes_per_pass" -> streamLen.toLong)

  override def kernelInputs(firstPassDir: String): (DataFrame, DataFrame) =
    (spark.read.parquet(docsPath).select(col("text")), vecs.select(col("embedding")))
}
