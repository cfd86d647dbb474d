package graft.operators

import graft.functions.VectorFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate nearest-neighbor search (north-star scale path for L2):
  * random-hyperplane LSH — bucket = sign bits of the vector against
  * `numPlanes` seeded hyperplanes; a query probes its own bucket plus all
  * hamming-1 neighbors and brute-forces cosine within the candidates.
  *
  * At 100 TB the index is bucketed/partitioned by `bucket`, so a query reads
  * ~(numPlanes+1)/2^numPlanes of the data instead of all of it; recall is
  * tunable via numPlanes and the probe radius. Exact brute force
  * (SimilarityQueries.q40) remains the oracle baseline.
  */
object Similarity {

  /** Deterministic hyperplanes: seeded Gaussian components. */
  def hyperplanes(dim: Int, numPlanes: Int, seed: Long = 42L): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(numPlanes)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** Sign-bit bucket id of an `array<float>` vector — served by the native
    * [[graft.functions.LshBuckets]] expression (one plane set, element 1 of
    * the per-table array). The flat element_at form ([[bucketExprComposed]],
    * kept as the bit-parity reference) expands to numPlanes × dim Catalyst
    * nodes — at the q84/q136 geometry (16 planes × 64 dims = 1024 nodes,
    * and the dot sums re-inlined per sign test) the generated projection
    * overflows janino and the whole bucketing stage silently drops to
    * interpreted eval. Buckets are bit-identical between the two forms
    * (PropertySpec), so indexes and oracle hashes are unchanged. */
  def bucketExpr(emb: Column, planes: Array[Array[Double]]): Column =
    element_at(graft.functions.LshBuckets(emb, Seq(planes)), 1)

  /** The pre-native composed bucket expression — the bit-parity reference
    * for [[graft.functions.LshBuckets]] (PropertySpec), never the hot
    * path. Unlike the native form it accepts any numeric element type. */
  private[graft] def bucketExprComposed(emb: Column,
      planes: Array[Array[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      val dot = p.indices.map { d =>
        element_at(emb, d + 1).cast("double") * lit(p(d))
      }.reduce(_ + _)
      when(dot >= 0, lit(1L << i)).otherwise(0L)
    }.reduce((a, b) => a.bitwiseOR(b))

  /** Index side: embeddings table + bucket column. */
  def bucketize(emb: DataFrame, embCol: String, planes: Array[Array[Double]]): DataFrame =
    emb.withColumn("bucket", bucketExpr(col(embCol), planes))

  private def bucketOf(v: Array[Float], planes: Array[Array[Double]]): Long =
    planes.zipWithIndex.map { case (p, i) =>
      val dot = v.zip(p).map { case (x, h) => x.toDouble * h }.sum
      if (dot >= 0) 1L << i else 0L
    }.reduce(_ | _)

  /** ANN top-k: probe the query bucket and its hamming-1 neighbors, exact
    * cosine within candidates. */
  def annTopK(index: DataFrame, embCol: String, idCol: String,
      query: Array[Float], k: Int, numPlanes: Int = 6, seed: Long = 42L): DataFrame = {
    val planes = hyperplanes(query.length, numPlanes, seed)
    val qb = bucketOf(query, planes)
    val probes = qb +: (0 until numPlanes).map(i => qb ^ (1L << i))
    val qv = array(query.map(lit): _*)
    bucketize(index, embCol, planes)
      .filter(col("bucket").isInCollection(probes))
      .select(col(idCol),
        VectorFunctions.cosineSim(col(embCol), qv).as("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
  }

  // ---- IVF (inverted-file) ANN: coarse k-means quantizer + probed lists ----
  //
  // The second scale path for L2: vectors are assigned to their
  // max-cosine centroid ("list"); a query scores the centroids on the driver
  // (nLists × dim doubles — trivially small) and scans only the nProbe best
  // lists. At 100 TB the assigned table is written partitioned by list_id, so
  // a probe is partition pruning, not a filter scan; nProbe == nLists
  // degenerates to exact brute force, which is the oracle configuration.

  /** Dot product of a vector column against a literal double vector
    * (centroids are unit-normalized, so argmax dot == argmax cosine).
    * Flat element_at sum — bit-identical to the old aggregate/zip_with
    * fold (IEEE: 0.0 + a == a). Parity-reference use only. */
  private def dotLit(emb: Column, c: Array[Double]): Column =
    c.indices.map { d =>
      element_at(emb, d + 1).cast("double") * lit(c(d))
    }.reduce(_ + _)

  /** Nearest-centroid id by max (dot, cid) — deterministic tiebreak to the
    * highest id. Served by the native [[graft.functions.NearestCentroid]]
    * expression: the composed greatest-of-structs form
    * ([[nearestListExprComposed]], kept for the bit-parity property test)
    * inlines nLists × dim element_at terms and overflowed janino at the
    * 8-list × 64-dim IVF default, silently dropping the assignment scan —
    * q62's probe and every ivfAssign index build — to interpreted eval.
    * Assignments are bit-identical between the two forms. */
  def nearestListExpr(emb: Column, cents: Array[Array[Double]]): Column =
    graft.functions.NearestCentroid(emb, cents)

  /** The pre-native composed assignment — the bit-parity reference for
    * [[graft.functions.NearestCentroid]] (PropertySpec), never the hot
    * path. greatest() unifies the struct types and renames fields
    * col1/col2. */
  private[graft] def nearestListExprComposed(emb: Column,
      cents: Array[Array[Double]]): Column =
    greatest(cents.zipWithIndex.map { case (c, i) =>
      struct(dotLit(emb, c), lit(i))
    }: _*).getField("col2")

  private def normalized(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    if (n == 0.0) v else v.map(_ / n)
  }

  /** Per-list mean vectors as ONE map-side-combinable aggregation returning
    * one row per non-empty list (≤ nLists rows — each carrying a dim-wide
    * vector, never nLists×dim scalar rows): ml's Summarizer keeps a running
    * (sum, count) vector per group and merges partials linearly. */
  def listMeans(index: DataFrame, embCol: String,
      cents: Array[Array[Double]]): DataFrame =
    index
      .select(nearestListExpr(col(embCol), cents).as("list_id"),
        org.apache.spark.ml.functions.array_to_vector(col(embCol)).as("v"))
      .groupBy(col("list_id"))
      .agg(org.apache.spark.ml.stat.Summarizer.mean(col("v")).as("m"))

  /** Spherical k-means coarse quantizer. Deterministic init: the nLists
    * vectors with the lowest ids. Centroids live on the driver (nLists×dim
    * doubles) like any broadcast dimension — the train loop is nIters
    * assign+average jobs over the index, never a collect of the data, and
    * each iteration collects exactly one mean-vector row per list. */
  def ivfCentroids(index: DataFrame, embCol: String, idCol: String,
      nLists: Int, nIters: Int = 2): Array[Array[Double]] = {
    // both collects below are bounded at nLists rows (the centroid matrix,
    // held driver-side by design like any broadcast dim) — cap nLists so a
    // caller can't turn them into a data-sized collect
    require(nLists > 0 && nLists <= 65536,
      s"nLists=$nLists out of range (driver holds nLists x dim doubles)")
    var cents: Array[Array[Double]] = index
      .orderBy(col(idCol)).limit(nLists)
      .select(col(embCol)).collect()
      .map(r => normalized(r.getSeq[Float](0).map(_.toDouble).toArray))
    for (_ <- 1 to nIters) {
      val means = listMeans(index, embCol, cents).collect()
      val next = Array.tabulate(cents.length)(i => cents(i).clone())
      means.foreach { r =>
        next(r.getInt(0)) = normalized(
          r.getAs[org.apache.spark.ml.linalg.Vector](1).toArray)
      }
      cents = next
    }
    cents
  }

  /** Index side: embeddings + assigned list id. In production this is a
    * build job whose output is partitioned by list_id (partition pruning at
    * probe time); here it composes inline for oracle-checkable queries. */
  def ivfAssign(index: DataFrame, embCol: String,
      cents: Array[Array[Double]]): DataFrame =
    index.withColumn("list_id", nearestListExpr(col(embCol), cents))

  /** Deployed-index form: persist the assigned table partitioned by
    * list_id, so probing reads only the probed lists' directories
    * (PartitionFilters at the scan — verified in IvfSpec). A doc-bucketed
    * side table (`<path>_docs`: id → assigned list, partitioned by
    * dbk = id mod nDocBuckets) is what lets [[upsertIvfIndex]] find a
    * re-crawled doc's OLD list without scanning the index — a changed
    * embedding's previous list is not recomputable from the new vector
    * (the [[Fts]] `_docs` pattern; reference analogue: Chroma's upsert is
    * delete-then-add by id, scripts/scrape_store_embed.py:79-86). At
    * 100 TB this is the difference between scanning nProbe/nLists of the
    * corpus and scanning all of it.
    *
    * Crash ordering: [[PartitionedIndexOps.bulkBuild]]'s pin-last
    * contract (a rebuild with retrained centroids that crashes mid-write
    * must NOT leave the old pin beside half-new data). */
  def writeIvfIndex(index: DataFrame, embCol: String, idCol: String,
      cents: Array[Array[Double]], path: String,
      nDocBuckets: Int = 16): Unit =
    PartitionedIndexOps.bulkBuild(ivfLayout(index.sparkSession, path),
      ivfBatch(index, embCol, idCol, cents, nDocBuckets),
      ivfConfig(cents, nDocBuckets))

  /** Incremental maintenance — fold a (re-)crawled batch into the index
    * ([[PartitionedIndexOps.upsertOrBuild]]). A re-crawled doc whose text
    * (hence embedding) changed may have moved lists, and its stale vector
    * must LEAVE the old list — append-only would return it as a phantom
    * neighbor forever; the side table names its old list. Per-batch cost
    * scales with the batch's list/doc spread, never the index size. An
    * empty index routes to the bulk build; data without a pin is a
    * crashed build and fails fast. */
  def upsertIvfIndex(newVecs: DataFrame, embCol: String, idCol: String,
      cents: Array[Array[Double]], path: String,
      nDocBuckets: Int = 16): Unit = {
    val cfg = ivfConfig(cents, nDocBuckets)
    PartitionedIndexOps.upsertOrBuild(ivfLayout(newVecs.sparkSession, path),
      ivfBatch(newVecs, embCol, idCol, cents, nDocBuckets), cfg)(_ == cfg,
      s"IVF index at $path was built with different centroids or doc-bucket " +
        "geometry — an upsert under retrained centroids would mis-assign " +
        "lists, and a different nDocBuckets would prune the wrong side buckets")
  }

  /** The assigned rows plus their side-table doc bucket. */
  private def ivfBatch(vecs: DataFrame, embCol: String, idCol: String,
      cents: Array[Array[Double]], nDocBuckets: Int): PartitionedIndexOps.Batch = {
    val a = ivfAssign(vecs, embCol, cents)
      .withColumn("dbk", pmod(col(idCol), lit(nDocBuckets.toLong)))
    PartitionedIndexOps.Batch(idCol, a, a.drop("dbk"),
      a.select(col(idCol), col("list_id"), col("dbk")))
  }

  private def centroidsFingerprint(cents: Array[Array[Double]]): String =
    PartitionedIndexOps.matrixFingerprint(cents)

  /** Everything that changes list assignment or side-bucket routing is
    * pinned: the exact centroid bits plus the doc-bucket modulus (the
    * shared typed-pin format, [[PartitionedIndexOps.writeConfigPin]]). */
  private def ivfConfig(cents: Array[Array[Double]],
      nDocBuckets: Int): Map[String, String] =
    Map("nDocBuckets" -> nDocBuckets.toString,
      "centroids" -> centroidsFingerprint(cents))

  private def ivfLayout(spark: org.apache.spark.sql.SparkSession,
      path: String) =
    PartitionedIndexOps.IndexLayout(spark, "IVF index", path,
      "writeIvfIndex", path, Seq("list_id"), path + "_docs", "dbk",
      path + "_meta", "centroids", "ivf")

  /** Probe a persisted IVF index: the list_id filter prunes partitions at
    * the file index, before any data is read. An index without its pin
    * (never built, or a crashed build) fails loudly. */
  def probeIvfIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      embCol: String, idCol: String, query: Array[Float], k: Int,
      probes: Seq[Int]): DataFrame = {
    ivfLayout(spark, path).requirePin(probing = true)(_ => true, "")
    val qv = array(query.map(lit): _*)
    spark.read.parquet(path)
      .filter(col("list_id").isInCollection(probes))
      .select(col(idCol),
        round(graft.functions.CosineSimilarity(col(embCol), qv), 4).as("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
  }

  /** Rank centroids by dot with the query; take the best nProbe list ids. */
  def probeLists(query: Array[Float], cents: Array[Array[Double]],
      nProbe: Int): Seq[Int] = {
    val qd = query.map(_.toDouble)
    cents.zipWithIndex
      .map { case (c, i) => (c.zip(qd).map { case (a, b) => a * b }.sum, i) }
      .sortBy { case (s, i) => (-s, i) }
      .take(nProbe).map(_._2).toSeq
  }

  /** IVF top-k: probe the nProbe centroid lists nearest the query, exact
    * cosine within candidates. nProbe == cents.length ⇒ exact search. */
  def ivfTopK(index: DataFrame, embCol: String, idCol: String,
      query: Array[Float], k: Int, cents: Array[Array[Double]],
      nProbe: Int): DataFrame = {
    val probes = probeLists(query, cents, nProbe)
    val qv = array(query.map(lit): _*)
    ivfAssign(index, embCol, cents)
      .filter(col("list_id").isInCollection(probes))
      .select(col(idCol),
        round(graft.functions.CosineSimilarity(col(embCol), qv), 4).as("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
  }
}
