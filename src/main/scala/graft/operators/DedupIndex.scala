package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted MinHash dedup index — [[Dedup.incrementalDupPairs]] with the
  * corpus side PRECOMPUTED and stored, the way a 100 TB ingest pipeline
  * actually runs dedup: corpus signatures are built once at index time and
  * every arriving batch probes them; nothing ever re-shingles the corpus
  * (the [[Fts]] persisted-index pattern applied to the dedup family).
  *
  * Layout:
  *   path/bands     (doc_id, fp, band, bh)  partitioned by wb  = bh mod nBuckets
  *   path/shingles  (doc_id, sg)            partitioned by dbk = doc_id mod nDocBuckets
  *
  * `fp` is the doc's full-signature fingerprint
  * ([[Dedup.signatureFingerprint]], 8 B/row): it lets the capped probe
  * pre-collapse boilerplate clusters ([[probeIndexCapped]]) without
  * re-reading signatures; the uncapped probe column-prunes it away.
  *
  * A probe computes the batch's bands, reads ONLY the band buckets those hit
  * (partition pruning on wb, spec-asserted like the Fts/IVF indexes),
  * equi-joins candidates on (band, bh), then reads ONLY the candidate docs'
  * shingle buckets (pruning on dbk) for the exact-Jaccard verify. Both
  * driver-side bucket collects are bounded by construction (≤ nBuckets /
  * ≤ nDocBuckets values — PlanSpec whitelist). Probe output is identical to
  * [[Dedup.incrementalDupPairs]] on (corpus, batch): same bands, same
  * candidate set, same verify — the round-trip query q143 pins that under
  * the brute-force cross-split oracle.
  */
object DedupIndex {

  private def bucketOf(c: org.apache.spark.sql.Column, m: Int) =
    pmod(c, lit(m.toLong))

  /** Every parameter that changes band hashes or bucket ids is pinned on
    * disk and re-validated at probe time — a probe under a different config
    * would SILENTLY miss duplicates (wrong buckets pruned, wrong band
    * hashes joined), the same footgun the Fts index pins against. The pin
    * filename is kept from the JSON-era pin: an index written by older
    * code still has ITS pin read (and fails loudly on the format mismatch
    * via the missing-key check) instead of being silently treated as
    * unpinned. The root _meta dir is never bulk-overwritten (only bands/
    * and shingles/ are), so the version pin beside it survives. */
  private def layout(spark: SparkSession, path: String) =
    PartitionedIndexOps.IndexLayout(spark, "dedup index", path,
      "writeSignatureIndex", path + "/bands", Seq("wb"), path + "/shingles",
      "dbk", path + "/_meta", "config.json", "dedup")

  // bandsFp: bands-table schema generation — 1 = rows carry the doc's
  // full-signature fingerprint (enables the hot-bucket-capped probe's
  // same-fingerprint pre-collapse). Pinned so a probe never meets an
  // index whose bands lack the column it collapses on: an index built by
  // pre-fingerprint code fails the pin loudly and is rebuilt.
  private def configOf(n: Int, numHashes: Int, rowsPerBand: Int,
      nBuckets: Int, nDocBuckets: Int): Map[String, String] =
    Map("n" -> n, "numHashes" -> numHashes, "rowsPerBand" -> rowsPerBand,
      "nBuckets" -> nBuckets, "nDocBuckets" -> nDocBuckets,
      "bandsFp" -> 1).map { case (k, v) => k -> v.toString }

  def writeSignatureIndex(docs: DataFrame, path: String, n: Int = 3,
      numHashes: Int = 32, rowsPerBand: Int = 2,
      nBuckets: Int = 16, nDocBuckets: Int = 16): Unit =
    PartitionedIndexOps.withCached(Dedup.shingleSets(docs, n)) { sg =>
      // CONFIG FIRST: a crash at any later point leaves the true build
      // parameters on disk, so a retry (or a differently-configured
      // caller) validates against reality instead of a vacuous pass that
      // would let mixed bucket geometries corrupt the index silently.
      // Then SHINGLES before BANDS: the upsert's "index exists" probe keys
      // on the bands table, so a crash mid-build leaves hasData=false and
      // the same-batch retry bulk-rebuilds cleanly — bands-first would
      // wedge every retry on a missing shingle read. Bands carry the
      // signature fingerprint (8 B/row) so the capped probe can
      // pre-collapse boilerplate clusters without re-reading signatures;
      // the uncapped probe column-prunes it away.
      PartitionedIndexOps.configFirstBuild(layout(docs.sparkSession, path),
        PartitionedIndexOps.requireUniqueIds(sg, "doc_id"),
        configOf(n, numHashes, rowsPerBand, nBuckets, nDocBuckets),
        first = (sg.withColumn("dbk", bucketOf(col("doc_id"), nDocBuckets)),
          path + "/shingles", Seq("dbk")),
        last = (bandsOf(sg, numHashes, rowsPerBand, nBuckets),
          path + "/bands", Seq("wb")))
    }

  /** The batch's fingerprinted band rows with their band bucket. */
  private def bandsOf(sg: DataFrame, numHashes: Int, rowsPerBand: Int,
      nBuckets: Int): DataFrame =
    withBucket(Dedup.signatureBandsWithFp(
      Dedup.minhashSignatures(sg, numHashes), numHashes, rowsPerBand), nBuckets)

  private def withBucket(bands: DataFrame, nBuckets: Int): DataFrame =
    bands.withColumn("wb", bucketOf(col("bh"), nBuckets))

  /** Incremental maintenance — fold a (re-)crawled batch into the index
    * ([[PartitionedIndexOps.mergeUpsert]]; drive from foreachBatch for a
    * streaming feed). A re-crawled doc's OLD bands live in buckets its
    * new text doesn't reveal; the doc-bucketed SHINGLE table stores
    * enough to recompute them. Per-batch cost scales with the batch's
    * band/doc spread, never the index size. */
  def upsertSignatureIndex(batch: DataFrame, path: String, n: Int = 3,
      numHashes: Int = 32, rowsPerBand: Int = 2,
      nBuckets: Int = 16, nDocBuckets: Int = 16): Unit = {
    val spark = batch.sparkSession
    val ix = layout(spark, path)
    ix.requireConfig(configOf(n, numHashes, rowsPerBand, nBuckets, nDocBuckets))
    if (!ix.hasData) {
      // bulk branch — also heals a build that crashed mid-write, because
      // writeSignatureIndex lands bands LAST (see its ordering comment)
      writeSignatureIndex(batch, path, n, numHashes, rowsPerBand,
        nBuckets, nDocBuckets)
      return
    }
    PartitionedIndexOps.withCached(Dedup.shingleSets(batch, n)) { bsg =>
      upsertCore(ix, bsg, numHashes, rowsPerBand, nBuckets,
        nDocBuckets)
    }
  }

  /** The merge over a precomputed (cached) shingle frame — shared by
    * [[upsertSignatureIndex]] and [[ingestBatch]]. Caller owns bsg's
    * lifecycle; assumes the index exists (bulk routing happens above).
    * `precomputedBands` (r13):
    * [[ingestBatch]] already built (and cached) the batch's fingerprinted
    * band rows for its probe — passing them in skips a second full
    * minhash/banding pass over the batch per micro-batch. Must be exactly
    * `Dedup.signatureBandsWithFp(Dedup.minhashSignatures(bsg, numHashes),
    * numHashes, rowsPerBand)`. `precomputedDbkHit`: the batch's shingle
    * buckets, collected by ingestBatch's fused stats job after it
    * validated the same ids. */
  private def upsertCore(ix: PartitionedIndexOps.IndexLayout, bsg: DataFrame,
      numHashes: Int, rowsPerBand: Int, nBuckets: Int, nDocBuckets: Int,
      precomputedBands: Option[DataFrame] = None,
      precomputedDbkHit: Option[Seq[Long]] = None): Unit = {
    val side = bsg.withColumn("dbk", bucketOf(col("doc_id"), nDocBuckets))
    PartitionedIndexOps.mergeUpsert(ix, PartitionedIndexOps.Batch("doc_id",
        side.select(col("doc_id"), col("dbk")),
        precomputedBands.map(withBucket(_, nBuckets))
          .getOrElse(bandsOf(bsg, numHashes, rowsPerBand, nBuckets)),
        side),
      old => bandsOf(old.select(col("doc_id"), col("sg")), numHashes,
        rowsPerBand, nBuckets).select(col("wb")),
      knownHit = precomputedDbkHit)
  }

  /** Near-dup pairs (jr, da=indexed doc, db=batch doc) for a fresh batch
    * against the persisted index. */
  def probeIndex(spark: SparkSession, path: String, batch: DataFrame,
      n: Int = 3, numHashes: Int = 32, rowsPerBand: Int = 2,
      threshold: Double = 0.5, nBuckets: Int = 16,
      nDocBuckets: Int = 16): DataFrame = {
    // DELIBERATE: the returned plan lazily reads the two probe-scoped
    // caches (bsg, cand), so a bare probe leaves them pinned — the lazy
    // plan is what lets callers inspect/compose the pruned-scan probe
    // (QueriesSpec asserts its PartitionFilters). A long-running ingest
    // LOOP must use ingestBatch, which owns both caches and releases them
    // after checkpointing; a long-lived SERVING session should use
    // probeIndexManaged, whose ProbeHandle releases them on close().
    probeIndexManaged(spark, path, batch, n, numHashes, rowsPerBand,
      threshold, nBuckets, nDocBuckets).result
  }

  /** [[probeIndex]] with cache ownership: the returned [[ProbeHandle]]
    * owns the two probe-scoped caches (batch shingles + verified
    * candidate pairs); materialize `result`, then `close()` and both are
    * released — the serving-session companion to [[ingestBatch]]'s
    * loop-owned lifecycle. */
  def probeIndexManaged(spark: SparkSession, path: String, batch: DataFrame,
      n: Int = 3, numHashes: Int = 32, rowsPerBand: Int = 2,
      threshold: Double = 0.5, nBuckets: Int = 16,
      nDocBuckets: Int = 16): ProbeHandle = {
    layout(spark, path).requireConfig(
      configOf(n, numHashes, rowsPerBand, nBuckets, nDocBuckets))
    val bsg = Dedup.shingleSets(batch, n).cache()
    val (plan, cand) = probeCore(spark, path, bsg,
      numHashes, rowsPerBand, threshold, nBuckets, nDocBuckets)
    new ProbeHandle(plan, Seq(bsg, cand))
  }

  /** [[probeIndex]] with the hot-bucket population cap on the CORPUS side
    * of the band join — the persisted-index twin of
    * [[Dedup.incrementalDupPairsCapped]], and the probe shape a 100 TB
    * ingest pipeline should default to: without it, one boilerplate
    * bucket with 10 k stored copies fans every matching batch doc out to
    * all of them inside a single task. Output is identical to
    * [[probeIndex]] whenever no hit bucket exceeds `maxBucket` members
    * (the q177 oracle gate); on a hot bucket the batch doc's dup VERDICT
    * survives via the fingerprint representatives, only the redundant
    * partner enumeration is bounded (dropped-rep margin on stderr). */
  def probeIndexCapped(spark: SparkSession, path: String, batch: DataFrame,
      n: Int = 3, numHashes: Int = 32, rowsPerBand: Int = 2,
      threshold: Double = 0.5, nBuckets: Int = 16,
      nDocBuckets: Int = 16, maxBucket: Int = 64): DataFrame =
    probeIndexCappedManaged(spark, path, batch, n, numHashes, rowsPerBand,
      threshold, nBuckets, nDocBuckets, maxBucket).result

  /** [[probeIndexCapped]] with cache ownership ([[probeIndexManaged]]'s
    * contract). */
  def probeIndexCappedManaged(spark: SparkSession, path: String,
      batch: DataFrame, n: Int = 3, numHashes: Int = 32,
      rowsPerBand: Int = 2, threshold: Double = 0.5, nBuckets: Int = 16,
      nDocBuckets: Int = 16, maxBucket: Int = 64): ProbeHandle = {
    layout(spark, path).requireConfig(
      configOf(n, numHashes, rowsPerBand, nBuckets, nDocBuckets))
    val bsg = Dedup.shingleSets(batch, n).cache()
    val (plan, cand) = probeCore(spark, path, bsg,
      numHashes, rowsPerBand, threshold, nBuckets, nDocBuckets,
      Some(maxBucket))
    new ProbeHandle(plan, Seq(bsg, cand))
  }

  /** The probe over a precomputed (cached) shingle frame — shared by
    * [[probeIndex]] and [[ingestBatch]] so the ingest loop pays the
    * shingle/signature pass once. Returns (pairs plan, pinned candidate
    * cache): the plan reads bsg and cand lazily, so the CALLER decides
    * when cand can be released — ingestBatch unpersists it right after
    * checkpointing the pairs; a bare probeIndex deliberately leaves it
    * pinned so the pruned-scan plan stays inspectable/composable. */
  private def probeCore(spark: SparkSession, path: String, bsg: DataFrame,
      numHashes: Int, rowsPerBand: Int, threshold: Double,
      nBuckets: Int, nDocBuckets: Int,
      maxBucket: Option[Int] = None,
      precomputedBands: Option[DataFrame] = None,
      precomputedHit: Option[Array[Long]] = None): (DataFrame, DataFrame) = {
    // precomputedBands (r13): ingestBatch shares ONE cached fingerprinted
    // band frame between this probe and its upsert — the probe's view is
    // a projection of it (identical (doc_id, band, bh) rows; fp pruned),
    // so the batch pays the minhash/banding pass once per micro-batch.
    // The OWNER caches and releases it; the self-built fallback below is
    // probe-scoped and released here as before.
    val ownsBb = precomputedBands.isEmpty
    val bb = precomputedBands match {
      case Some(pre) =>
        pre.select(col("doc_id").as("db"), col("band"), col("bh"))
      case None =>
        Dedup.signatureBands(Dedup.minhashSignatures(bsg, numHashes),
            numHashes, rowsPerBand)
          .toDF("db", "band", "bh")
          .cache()
    }
    // ≤ nBuckets values by construction; ingestBatch precomputes this set
    // inside its fused batch-stats job (one driver action per micro-batch
    // instead of three — r13, guide §1.2/§2.6)
    val hit = precomputedHit.getOrElse(
      bb.select(bucketOf(col("bh"), nBuckets).as("wb")).distinct()
        .collect().map(_.getLong(0)))
    // wb = bh mod nBuckets, so every member of a hit (band, bh) bucket is
    // inside the pruned read — the capped branch's population counts see
    // the FULL bucket membership
    val cbAll = spark.read.parquet(path + "/bands")
      .filter(col("wb").isin(hit: _*))
    // capped branch's semi-filtered+counted frame, cached so the margin
    // action and the candidate materialization share ONE pruned read;
    // released below once cand is pinned
    var capCs: Option[DataFrame] = None
    // the capped branch's deferred margin aggregate (see below) — fused
    // into the candidate-bucket collect instead of a job of its own
    var capMargin: Option[DataFrame] = None
    val cb = maxBucket match {
      case None =>
        cbAll.select(col("doc_id").as("da"), col("band"), col("bh"))
      case Some(cap) =>
        // [[Dedup.incrementalDupPairsCapped]]'s corpus-side cap served
        // from the index: a batch doc landing in a boilerplate bucket is
        // bounded to the bucket's fingerprint representatives instead of
        // fanning out to every stored copy. Small buckets join exactly as
        // the uncapped path (output IDENTICAL when nothing is hot — the
        // q177 oracle gate); hot buckets collapse same-fp members to
        // their min-doc_id rep (identical shingle sets whp — a batch doc
        // matching a collapsed member matches its rep identically) and
        // keep the `cap` smallest reps, dropped-rep margin on stderr.
        import org.apache.spark.sql.expressions.Window
        // restrict to buckets the BATCH actually hits before any counting:
        // wb-pruning alone still reads every bucket sharing the hit wb
        // values (≈ the whole corpus for a spread batch), and the ×100
        // rehearsal measured the window count paying for all of it (7.2 M
        // hot members, capped probe 5.8 s vs uncapped 1.8 s). The batch's
        // (band, bh) key set is tiny (|batch| × bands rows), so a
        // broadcast semi-join drops non-hit buckets for free; counts stay
        // exact because every member of a hit bucket survives the semi,
        // and non-hit buckets could never produce candidates anyway.
        val hitKeys = broadcast(
          bb.select(col("band"), col("bh")).distinct())
        val base = cbAll.select(col("doc_id").as("da"), col("fp"),
          col("band"), col("bh"))
          .join(hitKeys, Seq("band", "bh"), "left_semi")
        // single-exchange bucket counts (see Dedup.lshCandidatesCapped):
        // the window partitioning also serves the fp collapse + rep rank
        val cs = base.withColumn("m",
          count(lit(1)).over(Window.partitionBy(col("band"), col("bh"))))
          .cache()
        capCs = Some(cs)
        val small = cs.filter(col("m") <= cap)
          .select(col("da"), col("band"), col("bh"))
        val rk = cs.filter(col("m") > cap)
          .groupBy(col("band"), col("bh"), col("fp"))
          .agg(min(col("da")).as("da"), count(lit(1)).as("gm"))
          .withColumn("rk", row_number().over(
            Window.partitionBy(col("band"), col("bh")).orderBy(col("da"))))
        // margin: collapse absorption + cap action (Dedup.lshCandidatesCapped).
        // Deferred (r13, guide §1.2/§2.6): the aggregate rides the
        // candidate-bucket collect below as a second union branch over the
        // same cached cs — one driver action instead of two per probe. It
        // still executes (and prints) before probeCore returns, so the
        // capped construction stays as eager as Dedup.lshCandidatesCapped.
        capMargin = Some(rk.agg(
          countDistinct(col("band"), col("bh")).as("hotBuckets"),
          coalesce(sum(col("gm")), lit(0L)).as("hotMembers"),
          count(when(col("rk") > cap, 1)).as("droppedReps"),
          countDistinct(when(col("rk") > cap,
            struct(col("band"), col("bh")))).as("cappedBuckets")))
        small.union(
          rk.filter(col("rk") <= cap).select(col("da"), col("band"), col("bh")))
    }
    val cand = cb.join(bb.select(col("db"), col("band"), col("bh")),
        Seq("band", "bh"))
      .select(col("da"), col("db")).distinct().cache()
    // ≤ nDocBuckets values by construction (plus the one margin row on the
    // capped path, split back out by its null dbk marker)
    val nullLong = lit(null).cast("long")
    val dbkRows = cand.select(bucketOf(col("da"), nDocBuckets).as("dbk"))
      .distinct()
    val dHit = capMargin match {
      case None => dbkRows.collect().map(_.getLong(0))
      case Some(mf) =>
        val rows = dbkRows
          .select(col("dbk"), nullLong.as("hotBuckets"),
            nullLong.as("hotMembers"), nullLong.as("droppedReps"),
            nullLong.as("cappedBuckets"))
          .unionByName(mf.select(nullLong.as("dbk"), col("hotBuckets"),
            col("hotMembers"), col("droppedReps"), col("cappedBuckets")))
          .collect()
        val (marginRows, hitRows) = rows.partition(_.isNullAt(0))
        val m = marginRows.head
        System.err.println(
          s"[lsh-cap-idx] hotBuckets=${m.getLong(1)} " +
            s"hotMembers=${m.getLong(2)} cappedBuckets=${m.getLong(4)} " +
            s"droppedReps=${m.getLong(3)}")
        hitRows.map(_.getLong(0))
    }
    // cand is fully materialized by the collect above; bb and the capped
    // branch's cs are dead now — release them so per-batch probes don't
    // accumulate pinned caches (a shared precomputed band frame belongs
    // to the caller, who releases it after its upsert reuse)
    if (ownsBb) bb.unpersist()
    capCs.foreach(_.unpersist())
    val csg = spark.read.parquet(path + "/shingles")
      .filter(col("dbk").isin(dHit: _*))
      .select(col("doc_id").as("da"), col("sg").as("sga"))
    val j = TextFunctions.jaccard(col("sga"), col("sgb"))
    // da =!= db: inert for a fresh batch (ids disjoint from the index) but
    // keeps a foreachBatch RETRY — whose batch is already indexed — from
    // emitting self-pairs
    (cand.join(csg, "da")
      .join(bsg.select(col("doc_id").as("db"), col("sg").as("sgb")), "db")
      .filter(col("da") =!= col("db") && j >= threshold)
      .select(round(j, 4).as("jr"), col("da"), col("db")), cand)
  }

  /** The full ingest step a streaming crawl loop runs per batch: PROBE the
    * arriving docs against the index, then FOLD them in — one
    * shingle/signature pass serves both halves (probeIndex followed by
    * upsertSignatureIndex would pay it twice). Returns the verified pairs
    * against the PRE-upsert index, checkpointed before the upsert mutates
    * the partitions the probe plan reads. First batch on an empty index
    * bulk-builds and returns no pairs. The probe runs hot-bucket-CAPPED
    * (`maxBucket`, default 64): a long-running ingest is exactly where a
    * boilerplate cluster accumulates, and the capped probe bounds the
    * per-batch fan-out while preserving each batch doc's dup verdict
    * (identical output while no bucket is hot — the q145 oracle). */
  def ingestBatch(spark: SparkSession, path: String, batch: DataFrame,
      n: Int = 3, numHashes: Int = 32, rowsPerBand: Int = 2,
      threshold: Double = 0.5, nBuckets: Int = 16,
      nDocBuckets: Int = 16, maxBucket: Int = 64): DataFrame = {
    val ix = layout(spark, path)
    ix.requireConfig(configOf(n, numHashes, rowsPerBand, nBuckets, nDocBuckets))
    if (!ix.hasData) {
      writeSignatureIndex(batch, path, n, numHashes, rowsPerBand,
        nBuckets, nDocBuckets)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("jr",
            org.apache.spark.sql.types.DoubleType),
          org.apache.spark.sql.types.StructField("da",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("db",
            org.apache.spark.sql.types.LongType))))
    }
    val bsg = Dedup.shingleSets(batch, n).cache()
    // ONE minhash/banding pass per micro-batch (r13): the fingerprinted
    // band rows serve both the probe (projected to (db, band, bh)) and
    // the upsert's newBands — the r12 shape recomputed the signatures for
    // the upsert after the probe had already banded the same batch
    val bandsFp = Dedup.signatureBandsWithFp(
        Dedup.minhashSignatures(bsg, numHashes), numHashes, rowsPerBand)
      .cache()
    try {
      // ONE batch-stats job per micro-batch (r13, guide §1.2/§2.6): the
      // duplicate-id validation + doc-bucket collect the upsert paid and
      // the band-bucket collect the probe paid were three separate driver
      // actions over the same two cached batch frames — folded into a
      // single union action that materializes both caches. Validation now
      // rejects a duplicate batch BEFORE any probe work or index read
      // (strictly earlier than the r12 shape, same exception contract).
      val stats = bsg.agg(lit(0).as("tag"), count(lit(1)).as("n"),
          countDistinct(col("doc_id")).as("nd"),
          collect_set(bucketOf(col("doc_id"), nDocBuckets)).as("bks"))
        .unionByName(bandsFp.agg(lit(1).as("tag"), lit(0L).as("n"),
          lit(0L).as("nd"),
          collect_set(bucketOf(col("bh"), nBuckets)).as("bks")))
        .collect()
      val batchRow = stats.find(_.getInt(0) == 0).get
      require(batchRow.getLong(1) == batchRow.getLong(2),
        "batch contains duplicate doc_id rows — collapse re-crawls to one " +
          "row per doc before indexing")
      val dbkHit = batchRow.getSeq[Long](3)
      val wbHit = stats.find(_.getInt(0) == 1).get.getSeq[Long](3).toArray
      // the ingest loop is the 100 TB path — capped by default: a corpus
      // that has accumulated a boilerplate cluster must not quadratic-fan
      // every matching batch doc (q175's bound, served from the index)
      val (plan, cand) = probeCore(spark, path, bsg,
        numHashes, rowsPerBand, threshold, nBuckets, nDocBuckets,
        Some(maxBucket), Some(bandsFp), Some(wbHit))
      val pairs = plan
        .localCheckpoint(true) // pin before the upsert rewrites the index
      // pairs is fully materialized — release the candidate cache so a
      // long-running foreachBatch ingest loop doesn't accumulate one
      // CacheManager entry per micro-batch
      cand.unpersist()
      upsertCore(ix, bsg, numHashes, rowsPerBand, nBuckets,
        nDocBuckets, Some(bandsFp), Some(dbkHit))
      pairs
    } finally { bandsFp.unpersist(); bsg.unpersist() }
  }
}
