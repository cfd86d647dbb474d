package graft

import graft.operators.Similarity
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** IVF-ANN: full-probe configuration must equal brute force exactly;
  * partial-probe must keep high recall at a fraction of the scan. */
class IvfSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val e = Tables.embeddings(spark, TestSpark.sf0001).cache()

  private def queryVec(id: Long): Array[Float] =
    e.filter(col("vec_id") === id).select(col("embedding"))
      .head.getSeq[Float](0).toArray

  private def bruteTopK(q: Array[Float], k: Int): Seq[Long] = {
    val qv = array(q.map(lit): _*)
    e.select(col("vec_id"),
        round(graft.functions.CosineSimilarity(col("embedding"), qv), 4).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(k).collect().map(_.getLong(0)).toSeq
  }

  test("full probe (nProbe == nLists) equals brute force exactly") {
    val q = queryVec(3)
    val cents = Similarity.ivfCentroids(e, "embedding", "vec_id", 8, 2)
    val ivf = Similarity.ivfTopK(e, "embedding", "vec_id", q, 10, cents, nProbe = 8)
      .collect().map(_.getLong(0)).toSeq
    assert(ivf == bruteTopK(q, 10))
  }

  test("partial probe keeps recall while scanning a fraction of lists") {
    val cents = Similarity.ivfCentroids(e, "embedding", "vec_id", 8, 2)
    val ids = Seq(0L, 7L, 42L)
    val recalls = ids.map { id =>
      val q = queryVec(id)
      val exact = bruteTopK(q, 10).toSet
      val approx = Similarity.ivfTopK(e, "embedding", "vec_id", q, 10, cents, nProbe = 3)
        .collect().map(_.getLong(0)).toSet
      (approx intersect exact).size.toDouble / exact.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.5, s"mean recall@10 with 3/8 lists = $mean (per-query: $recalls)")
  }

  test("persisted IVF index prunes partitions at probe time and matches inline results") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_idx").toString
    val q = queryVec(5)
    val cents = Similarity.ivfCentroids(e, "embedding", "vec_id", 8, 2)
    Similarity.writeIvfIndex(e, "embedding", "vec_id", cents, dir)
    val probes = Similarity.probeLists(q, cents, 3)
    val probed = Similarity.probeIvfIndex(spark, dir, "embedding", "vec_id",
      q, 10, probes)
    // the list_id filter must reach the scan as a partition filter
    // (pruned at the file index, not evaluated per row)
    val planStr = probed.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*list_id".r.findFirstIn(planStr).isDefined,
      s"expected partition pruning in plan:\n$planStr")
    // and results equal the inline (non-persisted) probe of the same lists
    val inline = Similarity.ivfTopK(e, "embedding", "vec_id", q, 10, cents, 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val persisted = probed.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(persisted == inline)
    // partitioned layout on disk: one directory per probed list
    val dirs = new java.io.File(dir).listFiles.filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("list_id=")).toSet
    assert(dirs.nonEmpty && dirs.subsetOf((0 until 8).map(i => s"list_id=$i").toSet))
  }

  test("IVF upsert merges under the pinned centroids; retrained centroids fail fast") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("ivf_upsert").toString
    val half = e.filter(col("vec_id") % 2 === 0)
    val cents = Similarity.ivfCentroids(half, "embedding", "vec_id", 8, 2)
    Similarity.writeIvfIndex(half, "embedding", "vec_id", cents, dir)
    Similarity.upsertIvfIndex(e.filter(col("vec_id") % 2 === 1),
      "embedding", "vec_id", cents, dir)
    // merged index holds every vector exactly once, in its assigned list
    val stored = spark.read.parquet(dir)
    assert(stored.count() == e.count())
    assert(stored.select(col("vec_id")).distinct().count() == e.count())
    val expect = Similarity.ivfAssign(e, "embedding", cents)
      .select(col("vec_id"), col("list_id"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val got = stored.select(col("vec_id"), col("list_id").cast("int"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(got == expect)
    // an upsert with retrained (different) centroids must refuse
    val retrained = Similarity.ivfCentroids(e, "embedding", "vec_id", 8, 2)
    assert(!java.util.Arrays.deepEquals(
      cents.map(_.map(Double.box)).asInstanceOf[Array[AnyRef]],
      retrained.map(_.map(Double.box)).asInstanceOf[Array[AnyRef]]))
    val ex = intercept[IllegalArgumentException] {
      Similarity.upsertIvfIndex(e.limit(1), "embedding", "vec_id",
        retrained, dir)
    }
    assert(ex.getMessage.contains("different centroids"))
    // data without a pin (crashed build) must refuse an upsert
    val pin = new java.io.File(dir + "_meta/centroids")
    assert(pin.exists()); pin.delete()
    val ex2 = intercept[IllegalArgumentException] {
      Similarity.upsertIvfIndex(e.limit(1), "embedding", "vec_id", cents, dir)
    }
    assert(ex2.getMessage.contains("crashed build"))
    // ...and so must a probe, of that crashed build and of a never-built
    // index, instead of silently serving whatever data is on disk
    val never = java.nio.file.Files.createTempDirectory("ivf_never").toString
    for (p <- Seq(dir, never)) {
      val ex3 = intercept[IllegalArgumentException] {
        Similarity.probeIvfIndex(spark, p, "embedding", "vec_id",
          queryVec(5), 10, Seq(0, 1))
      }
      assert(ex3.getMessage.contains("crashed build"))
    }
  }

  test("re-crawled vector that moved lists leaves no stale copy behind") {
    import org.apache.spark.sql.functions.{col, reverse}
    val dir = java.nio.file.Files.createTempDirectory("ivf_recrawl").toString
    val cents = Similarity.ivfCentroids(e, "embedding", "vec_id", 8, 2)
    val evens = e.filter(col("vec_id") % 2 === 0)
    val crawl1 = evens.withColumn("embedding", reverse(col("embedding")))
      .unionByName(e.filter(col("vec_id") % 2 === 1))
    Similarity.writeIvfIndex(crawl1, "embedding", "vec_id", cents, dir)
    // the perturbation must actually move lists for the test to bite
    val movedBefore = Similarity.ivfAssign(crawl1, "embedding", cents)
      .select(col("vec_id"), col("list_id").as("l1"))
      .join(Similarity.ivfAssign(e, "embedding", cents)
        .select(col("vec_id"), col("list_id").as("l2")), "vec_id")
      .filter(col("l1") =!= col("l2")).count()
    assert(movedBefore > 0, "perturbed embeddings landed in identical lists — test is vacuous")
    Similarity.upsertIvfIndex(evens, "embedding", "vec_id", cents, dir)
    // final index == a scratch assignment of the true corpus: every id
    // exactly once, no stale vector in any list
    val stored = spark.read.parquet(dir)
    assert(stored.count() == e.count())
    val expect = Similarity.ivfAssign(e, "embedding", cents)
      .select(col("vec_id"), col("list_id"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val got = stored.select(col("vec_id"), col("list_id").cast("int"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(got == expect)
    // side table tracks the final assignment too
    val side = spark.read.parquet(dir + "_docs")
      .select(col("vec_id"), col("list_id").cast("int"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(side == expect)
  }

  test("randomized upsert sequence equals a scratch build of the final corpus") {
    import org.apache.spark.sql.functions.{col, transform, when}
    val dir = java.nio.file.Files.createTempDirectory("ivf_rand").toString
    val cents = Similarity.ivfCentroids(e, "embedding", "vec_id", 8, 2)
    val rnd = new scala.util.Random(1347)
    val ids = e.select(col("vec_id")).collect().map(_.getLong(0)).toSeq
    // 3 crawls over random overlapping subsets; crawl i negates the first
    // 7*i components, so a re-crawl genuinely changes the vector
    def perturb(df: org.apache.spark.sql.DataFrame, i: Int) =
      df.withColumn("embedding",
        transform(col("embedding"),
          (x, pos) => when(pos < i * 7, -x).otherwise(x)))
    val batches = (1 to 3).map { i =>
      val pick = ids.filter(_ => rnd.nextDouble() < 0.4)
      (i, pick)
    }.filter(_._2.nonEmpty)
    batches.foreach { case (i, pick) =>
      Similarity.upsertIvfIndex(
        perturb(e.filter(col("vec_id").isInCollection(pick)), i),
        "embedding", "vec_id", cents, dir, nDocBuckets = 4)
    }
    // final state per id = its LAST crawl's version
    val lastCrawl = batches.flatMap { case (i, pick) => pick.map(_ -> i) }
      .groupBy(_._1).map { case (id, v) => (id, v.map(_._2).max) }
    val scratch = batches.map(_._1).distinct.map { i =>
      val inLast = lastCrawl.filter(_._2 == i).keys.toSeq
      Similarity.ivfAssign(
        perturb(e.filter(col("vec_id").isInCollection(inLast)), i),
        "embedding", cents)
    }.reduce(_ unionByName _)
      .select(col("vec_id"), col("list_id"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val got = spark.read.parquet(dir)
      .select(col("vec_id"), col("list_id").cast("int"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(got == scratch)
    assert(spark.read.parquet(dir).count() == scratch.size)
    // a batch with a duplicated id must refuse
    val dup = e.filter(col("vec_id") === ids.head)
      .unionByName(e.filter(col("vec_id") === ids.head))
    val ex = intercept[IllegalArgumentException] {
      Similarity.upsertIvfIndex(dup, "embedding", "vec_id", cents, dir,
        nDocBuckets = 4)
    }
    assert(ex.getMessage.contains("duplicate"))
  }

  test("centroid update collects one mean-vector row per list, not nLists x dim") {
    val cents = Similarity.ivfCentroids(e, "embedding", "vec_id", 8, 1)
    val means = Similarity.listMeans(e, "embedding", cents)
    val rows = means.collect()
    assert(rows.length <= 8, s"trainer collect must be list-bounded, got ${rows.length} rows")
    assert(rows.map(_.getInt(0)).distinct.length == rows.length)
    val dim = e.select(size(col("embedding"))).head.getInt(0)
    assert(rows.forall(_.getAs[org.apache.spark.ml.linalg.Vector](1).size == dim))
  }

  test("assignment covers every vector with a valid list id") {
    val cents = Similarity.ivfCentroids(e, "embedding", "vec_id", 8, 1)
    val assigned = Similarity.ivfAssign(e, "embedding", cents)
    assert(assigned.filter(col("list_id").isNull ||
      col("list_id") < 0 || col("list_id") >= 8).count() == 0)
    assert(assigned.count() == e.count())
  }
}
