package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

/** The one write lifecycle of every persisted index family — dedup
  * signatures, LSH, multi-table LSH, IVF, IVF-PQ and FTS postings. Each
  * family keeps a main table partitioned by its bucket geometry and an
  * id-bucketed side table (id → the main partitions the id occupies; an
  * id's OLD partitions are not recomputable from its new content — the
  * reference's delete-then-add-by-id upsert, Chroma,
  * scripts/scrape_store_embed.py:79-86). A family supplies only what is
  * its own ([[IndexLayout]]: partition columns, side-table path and
  * bucket column, pin location; per call: the batch's main- and
  * side-table rows, its config map, and the map from old side rows to
  * the main partitions they occupied). The steps live here, once:
  *
  *   - check, THEN claim ([[guarded]]): a batch is validated (duplicate
  *     ids) before the writer-version claim is published, so a rejected
  *     batch never disturbs an in-flight writer's claim;
  *   - [[mergeUpsert]]: fused id-check + side-bucket collect, pruned
  *     side read, affected = old ∪ new partitions, staged dynamic
  *     overwrite of the affected main partitions FIRST, then an explicit
  *     delete of partitions the batch vacated (dynamic overwrite never
  *     rewrites a partition with zero rows), then the version check and
  *     the side-table write as the commit. A crash anywhere before the
  *     commit is healed by a retry of the SAME batch (foreachBatch
  *     semantics): the stale side rows still name the true old
  *     partitions, so the retry's affected set re-covers everything the
  *     crashed attempt touched. The window between the two table writes
  *     is the `<seam>.upsert.between-writes` crash point
  *     ([[graft.streaming.CrashPoints]]) — FTS's is
  *     `fts.upsert.between-writes`, which FtsCrashRecoverySpec SIGKILLs a
  *     real driver at.
  *
  * Bulk builds have two crash contracts, and both exist on purpose:
  *
  *   - [[bulkBuild]] (LSH, multi-LSH, IVF, IVF-PQ): stale pin DELETED
  *     first, then data, side table, config pin LAST. A crash leaves
  *     data without a pin, which every upsert and probe refuses
  *     ([[IndexLayout.requirePin]]: rebuild required; [[upsertOrBuild]]
  *     routes these families' upserts). These builds are
  *     not keyed by batch and their pins carry trained models (planes,
  *     centroids, codebooks): a crashed rebuild under a retrained model
  *     must never validate against the old pin beside half-new data.
  *   - [[configFirstBuild]] (dedup, FTS): config pin FIRST, then the two
  *     tables. Their pins hold only bucket geometry, so writing the true
  *     geometry first means every retry validates against reality, and
  *     an interrupted build heals by retrying instead of refusing —
  *     dedup writes shingles before bands (its "index exists" test keys
  *     on bands, so a crashed build re-routes to a clean rebuild); FTS
  *     writes postings before the side table and its upsert re-derives a
  *     missing side table from the postings.
  */
object PartitionedIndexOps {

  /** Where one family keeps its tables and pins. `path` is the caller's
    * index path (named in messages); `main`/`side` are the two table
    * directories, `meta` the pin directory (a sibling of the data, so a
    * bulk overwrite of the data never wipes the version pin). `name`,
    * `builder` and `seam` only label messages and the crash point. */
  final case class IndexLayout(spark: SparkSession, name: String,
      path: String, builder: String, main: String, partCols: Seq[String],
      side: String, sideBucket: String, meta: String, pinFile: String,
      seam: String) {
    lazy val fs: FileSystem = new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def pinPath: Path = new Path(meta + "/" + pinFile)
    def versionPath: Path = new Path(meta + "/version")

    /** Does the main table hold at least one partition? A bare
      * pre-created (or fully emptied) directory routes callers to their
      * bulk build instead of a doomed schema-less merge read. */
    def hasData: Boolean = {
      val p = new Path(main)
      fs.exists(p) && fs.listStatus(p)
        .exists(_.getPath.getName.startsWith(partCols.head + "="))
    }

    /** The strict pin check of every upsert and probe of a pin-last
      * family: a missing pin beside data is a never-built or crashed
      * build (rebuild required), and `matches` must accept the stored
      * config or the call would route the wrong partitions. Returns the
      * stored config. */
    def requirePin(probing: Boolean)(matches: Map[String, String] => Boolean,
        mismatch: => String): Map[String, String] = {
      val stored = readConfigPin(fs, pinPath)
      require(stored.isDefined,
        if (probing)
          s"$name at $path has no $pinFile pin (never built, or a crashed " +
            s"build) — build it with $builder before probing"
        else
          s"$name at $path has data but no $pinFile pin (crashed build?) " +
            s"— rebuild it with $builder before upserting")
      require(matches(stored.get), mismatch)
      stored.get
    }

    /** The tolerant key-by-key check of the config-first families
      * ([[requireConfigPin]]: an absent pin passes, a present pin must
      * hold every expected key and value). */
    def requireConfig(expected: Map[String, String]): Unit =
      requireConfigPin(fs, pinPath, expected, s"$name at $path")
  }

  /** Write a small metadata/pin file (config json, centroid fingerprint).
    * One copy of the create-overwrite-UTF8 idiom for every index. */
  def writePin(fs: org.apache.hadoop.fs.FileSystem,
      path: org.apache.hadoop.fs.Path, content: String): Unit = {
    val out = fs.create(path, true)
    try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Read a pin file back, None if absent. */
  private def readPin(fs: org.apache.hadoop.fs.FileSystem,
      path: org.apache.hadoop.fs.Path): Option[String] =
    if (!fs.exists(path)) None
    else {
      val in = fs.open(path)
      try Some(new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8))
      finally in.close()
    }

  /** THE typed config-pin format every persisted index shares: sorted
    * `k=v` lines, one writer, one parser, one mismatch message — a new
    * index reuses this instead of inventing a fourth format. Values are
    * strings (numeric configs render via toString); keys and values must
    * not contain '=' or newlines. */
  private def writeConfigPin(fs: org.apache.hadoop.fs.FileSystem,
      path: org.apache.hadoop.fs.Path, cfg: Map[String, String]): Unit =
    writePin(fs, path, cfg.toSeq.sortBy(_._1)
      .map { case (k, v) => s"$k=$v" }.mkString("\n"))

  private def readConfigPin(fs: org.apache.hadoop.fs.FileSystem,
      path: org.apache.hadoop.fs.Path): Option[Map[String, String]] =
    readPin(fs, path).map(_.linesIterator
      .filter(_.contains("="))
      .map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }
      .toMap)

  /** Validate the caller's config against the stored pin — every pinned
    * parameter that changes hashing, bucketing, or assignment must match,
    * or probes/upserts would SILENTLY touch the wrong buckets. An absent
    * pin FILE is tolerated here (bare dirs route to bulk builds; an index
    * for which absence means a crashed build checks presence itself
    * first) — but a pin that exists while MISSING a checked key is an
    * error, not a pass: a truncated or legacy-format pin must fail loudly
    * (rebuild) rather than validate any caller geometry. */
  private def requireConfigPin(fs: org.apache.hadoop.fs.FileSystem,
      path: org.apache.hadoop.fs.Path, expected: Map[String, String],
      what: String): Unit =
    readConfigPin(fs, path).foreach { stored =>
      expected.foreach { case (k, v) =>
        val got = stored.get(k)
        require(got.isDefined,
          s"$what has a config pin without the $k key (truncated or " +
            "legacy-format pin?) — rebuild the index rather than trusting it")
        require(got.get == v,
          s"$what was built with $k=${got.get}, used with $k=$v — " +
            "bucket routing would not line up (silent wrong-bucket reads)")
      }
    }

  /** Optimistic single-writer guard shared by every persisted index: the
    * multi-table upserts assume ONE writer, and two interleaved upserts
    * could both pass the config-pin check and interleave their
    * staged-overwrite / delete-vacated / side-table writes. The guard is
    * a monotonic version pin next to the config pin:
    *
    *   - [[claimVersion]] at writer ENTRY (before any data write) reads
    *     the current version and immediately publishes cur+1 together
    *     with a WRITER-UNIQUE token;
    *   - [[requireVersion]] immediately BEFORE the writer's final commit
    *     write re-reads the pin and aborts unless BOTH the version and
    *     the token are this writer's — if another writer claimed in
    *     between, the loser fails fast without publishing its final
    *     table/pin.
    *
    * The token is what closes the simultaneous-claim hole a bare counter
    * leaves open: two writers that both read version v before either
    * publishes would both claim v+1 and both pass a version-only check;
    * with the token, the pin on disk can only hold ONE writer's token at
    * commit time, so at most one of them validates (last claim wins, the
    * other aborts).
    *
    * This DETECTS interleaving rather than preventing it (a filesystem
    * has no compare-and-swap; at 100 TB you'd put the version in a
    * transactional metastore — the residual window is between a writer's
    * requireVersion read and its commit write): the loser may have staged
    * partition overwrites before aborting, and the documented healing
    * applies — a retry of the aborted batch AFTER the winner completes
    * re-covers every partition it touched (the same-batch retry contract
    * the crash windows already rely on), converging to the serial
    * application. A crashed claimer never wedges the index: the next
    * writer just claims the next version.
    *
    * MIGRATION (mixed-version writer fleets): the `version:token` pin is
    * one-way compatible — this code reads legacy bare-counter pins, but a
    * PRE-token binary's readVersion would `toLong` the whole "v:uuid"
    * string and throw NumberFormatException (a crash, not a clean abort).
    * Upgrade ALL writers before the first tokened claim is published: old
    * readers keep working until a new writer claims, so roll the fleet
    * first, then resume writes. (Single-writer deployments — every test
    * and the reference's jobs — never see this.) */
  def readVersion(fs: org.apache.hadoop.fs.FileSystem,
      vPath: org.apache.hadoop.fs.Path): Long =
    readPin(fs, vPath)
      .map(_.trim.split(":", 2)(0).toLong).getOrElse(0L)

  /** A writer's published claim: the monotonic version plus the token
    * that distinguishes this writer from a simultaneous claimer of the
    * same version. */
  final case class VersionClaim(version: Long, token: String)

  private def readClaim(fs: org.apache.hadoop.fs.FileSystem,
      vPath: org.apache.hadoop.fs.Path): VersionClaim =
    readPin(fs, vPath).map { s =>
      val parts = s.trim.split(":", 2)
      // legacy bare-counter pins (pre-token format) carry no token; they
      // can never match a tokened claim, which is the safe direction
      VersionClaim(parts(0).toLong,
        if (parts.length > 1) parts(1) else "")
    }.getOrElse(VersionClaim(0L, ""))

  /** Publish this writer's claim (cur+1, unique token) and return it.
    * Call before any data write. */
  def claimVersion(fs: org.apache.hadoop.fs.FileSystem,
      vPath: org.apache.hadoop.fs.Path): VersionClaim = {
    val next = readVersion(fs, vPath) + 1
    val token = java.util.UUID.randomUUID().toString
    writePin(fs, vPath, s"$next:$token")
    VersionClaim(next, token)
  }

  /** Abort-before-commit check: the pin on disk must still be this
    * writer's claim — version AND token. Call immediately before the
    * final commit write. */
  def requireVersion(fs: org.apache.hadoop.fs.FileSystem,
      vPath: org.apache.hadoop.fs.Path, claimed: VersionClaim,
      what: String): Unit = {
    val cur = readClaim(fs, vPath)
    require(cur == claimed,
      s"$what: concurrent writer detected — writer version ${cur.version} " +
        s"on disk, this writer claimed ${claimed.version}" +
        (if (cur.version == claimed.version)
           " (same version, different writer token — simultaneous claim)"
         else "") +
        ". Aborting before the final commit; retry this batch after the " +
        "other writer completes (the retry re-covers any partitions " +
        "already staged).")
  }

  /** Pin `df` (localCheckpoint — the plan may lazily read the very path
    * being overwritten) and dynamic-overwrite its partitions into `path`.
    * Returns the pinned frame for post-write inspection. The shared core
    * for every self-referential partition rewrite. */
  private def pinWrite(df: DataFrame, path: String,
      partCols: Seq[String]): DataFrame = {
    val pinned = df.localCheckpoint(true)
    pinned.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partCols: _*).parquet(path)
    pinned
  }

  /** Exact-bits fingerprint of a model matrix (IVF centroids, PQ
    * codebooks) for config pins: hex of every double's raw bits — two
    * matrices fingerprint equal iff bit-identical, so a retrained model
    * can never validate against an index built under the old one. */
  def matrixFingerprint(m: Array[Array[Double]]): String =
    m.map(_.map(v => java.lang.Long.toHexString(
      java.lang.Double.doubleToRawLongBits(v))).mkString(","))
      .mkString(";")

  /** Fail fast on a batch carrying the same id twice — an unordered frame
    * with two rows per doc has no deterministic winner, and a silent merge
    * corrupts the index (doubled tf, two vectors per id). One aggregation
    * job; callers collapse re-crawls to one row per doc first. */
  def requireUniqueIds(df: DataFrame, idCol: String): Unit = {
    import org.apache.spark.sql.functions.{count, countDistinct}
    val r = df.agg(count(lit(1)).as("n"),
      countDistinct(col(idCol)).as("nd")).head
    require(r.getLong(0) == r.getLong(1),
      s"batch contains duplicate $idCol rows — collapse re-crawls to one " +
        "row per doc before indexing")
  }

  /** [[requireUniqueIds]] fused with the hit-bucket collect every upsert
    * pays right after it (r13, guide §1.2/§2.6: the two back-to-back
    * driver actions over the same batch were one aggregation each — a
    * streaming ingest loop pays that per-job fixed cost per micro-batch,
    * so fold them into ONE job). `bucket` must be the index's LongType
    * bucket-id expression over `df`'s rows; the returned distinct bucket
    * values are bounded by the index's bucket geometry by construction
    * (≤ nBuckets values — the same bound the collects this replaces had).
    * Rejects duplicate ids with [[requireUniqueIds]]'s contract BEFORE
    * the caller touches the index. */
  def requireUniqueIdsCollectingBuckets(df: DataFrame, idCol: String,
      bucket: org.apache.spark.sql.Column): Seq[Long] = {
    import org.apache.spark.sql.functions.{collect_set, count, countDistinct}
    val r = df.agg(count(lit(1)).as("n"), countDistinct(col(idCol)).as("nd"),
      collect_set(bucket).as("bks")).head
    require(r.getLong(0) == r.getLong(1),
      s"batch contains duplicate $idCol rows — collapse re-crawls to one " +
        "row per doc before indexing")
    r.getSeq[Long](2)
  }

  /** Compact an index table in place: every incremental upsert appends at
    * least one file to each partition it touches, so a long-running ingest
    * loop (q145's shape) accretes one file per batch per hit bucket — and
    * probe cost degrades from "read K buckets" to "open K × batches
    * files". Compaction rewrites ONLY partitions holding more than
    * `maxFiles` data files, one file per partition afterwards
    * (`repartition(partCol)` routes each key to exactly one task).
    *
    * The enumeration is a driver-side directory listing, bounded by the
    * index's bucket geometry (every persisted index here has a fixed
    * partition count by construction). Content is pinned before the
    * overwrite ([[pinWrite]]'s localCheckpoint — the plan reads the very
    * partitions being replaced) and the rewrite is content-identical, so
    * a crash mid-commit leaves a mix of compacted and uncompacted
    * partitions that is still CORRECT and re-compactable — no vacated
    * buckets, no delete pass, pins untouched. Returns the partition
    * values it rewrote (empty = nothing exceeded the threshold).
    *
    * Partition values must be numeric (true for every index here: term/
    * doc buckets, IVF list ids) — the threshold filter casts through
    * long so the read prunes to the over-threshold partitions only. */
  def compact(spark: org.apache.spark.sql.SparkSession, path: String,
      partCol: String, maxFiles: Int = 4): Seq[Long] = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = new org.apache.hadoop.fs.Path(path)
    if (!fs.exists(root)) return Seq.empty
    val over = fs.listStatus(root)
      .filter(_.getPath.getName.startsWith(partCol + "="))
      .filter { d =>
        fs.listStatus(d.getPath)
          .count(_.getPath.getName.endsWith(".parquet")) > maxFiles
      }
      .map(_.getPath.getName.drop(partCol.length + 1).toLong)
      .toSeq
    if (over.isEmpty) return Seq.empty
    pinWrite(compactionSlice(spark, path, partCol, over)
      .repartition(col(partCol)), path, Seq(partCol))
    over
  }

  /** Two-level [[compact]] for nested layouts (the multi-table LSH
    * index's `tbl=/bucket=`): rewrites only partition PAIRS holding more
    * than `maxFiles` data files, one file per pair afterwards
    * (`repartition(partCols)` routes each pair to one task). The
    * enumeration is a bounded nested listing (tables × buckets by
    * construction); the rewrite read prunes on both partition columns;
    * content-identical, pins untouched, crash-re-compactable — the same
    * contract as the single-level form. Returns the (outer, inner) value
    * pairs it rewrote.
    *
    * PRECONDITION: both partition columns must hold LONG-parseable
    * values (the index families here partition on `tbl`/`bucket`/`dbk`
    * longs) — the directory-name parse is `.toLong`, so a string
    * partition value or a `__HIVE_DEFAULT_PARTITION__` from a null
    * throws NumberFormatException mid-enumeration. Not a general-purpose
    * string-partition compactor. */
  def compactMulti(spark: org.apache.spark.sql.SparkSession, path: String,
      partCols: Seq[String], maxFiles: Int = 4): Seq[(Long, Long)] = {
    require(partCols.length == 2,
      "compactMulti handles exactly two partition levels")
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = new org.apache.hadoop.fs.Path(path)
    if (!fs.exists(root)) return Seq.empty
    val over = for {
      outer <- fs.listStatus(root).toSeq
      if outer.getPath.getName.startsWith(partCols.head + "=")
      inner <- fs.listStatus(outer.getPath).toSeq
      if inner.getPath.getName.startsWith(partCols(1) + "=")
      if fs.listStatus(inner.getPath)
        .count(_.getPath.getName.endsWith(".parquet")) > maxFiles
    } yield (outer.getPath.getName.drop(partCols.head.length + 1).toLong,
      inner.getPath.getName.drop(partCols(1).length + 1).toLong)
    if (over.isEmpty) return Seq.empty
    val pred = over.groupBy(_._1).map { case (t, vs) =>
      col(partCols.head).cast("long") === t &&
        col(partCols(1)).cast("long").isInCollection(vs.map(_._2))
    }.reduce(_ || _)
    pinWrite(spark.read.parquet(path).filter(pred)
      .repartition(partCols.map(col): _*), path, partCols)
    over
  }

  /** The pruned read compaction rewrites from — factored out so the spec
    * can assert the long-cast threshold filter lands as a PARTITION
    * filter (file-index pruning), not a data filter over the whole index:
    * at scale, compacting 3 hot buckets must not scan the other 61. */
  private[graft] def compactionSlice(
      spark: org.apache.spark.sql.SparkSession, path: String,
      partCol: String, over: Seq[Long]): DataFrame = {
    spark.read.parquet(path)
      .filter(col(partCol).cast("long").isInCollection(over))
  }

  /** Replace the `affected` partitions of `path` with `merged`'s rows:
    * [[pinWrite]], then delete the affected partitions absent from the
    * output (vacated by a re-crawl). `affected` holds one value sequence
    * per partition (e.g. Seq(tbl, bucket)); vacated directories delete as
    * nested `tbl=t/bucket=b` paths. The `present` collect is bounded by
    * the caller's partition geometry.
    *
    * Present-vs-affected comparison is on the STRING rendering of each
    * value — the directory-name space both sides ultimately live in. Raw
    * Any equality is a trap here: the caller's affected values are
    * typically Long while a read-back partition column infers Int, and a
    * typed mismatch would classify every present partition as vacated
    * and DELETE LIVE DATA. */
  private def overwriteAffected(merged: DataFrame, path: String,
      partCols: Seq[String], affected: Set[Seq[Any]], fs: FileSystem): Unit = {
    val pinned = pinWrite(merged, path, partCols)
    val present: Set[Seq[String]] =
      pinned.select(partCols.map(pinned(_)): _*).distinct()
        .collect()
        .map(r => partCols.indices.map(i => String.valueOf(r.get(i))): Seq[String])
        .toSet
    affected.map(_.map(String.valueOf): Seq[String])
      .filterNot(present.contains).foreach { vs =>
      val rel = partCols.zip(vs).map { case (c, v) => s"$c=$v" }
        .mkString("/")
      fs.delete(new Path(path, rel), true)
    }
  }

  /** The main-table read predicate selecting the `keys` partitions:
    * `isInCollection` for one level; for two levels an OR of per-outer-
    * value `isInCollection`s, so both land as partition filters. */
  private def keyFilter(partCols: Seq[String], keys: Set[Seq[Any]]): Column =
    partCols match {
      case Seq(c) => col(c).isInCollection(keys.map(_.head))
      case Seq(outer, inner) =>
        keys.groupBy(_.head).map { case (t, ks) =>
          col(outer) === lit(t) && col(inner).isInCollection(ks.map(_(1)))
        }.reduceOption(_ || _).getOrElse(lit(false))
    }

  /** Cache `df` for the duration of `f`, released however `f` exits. */
  def withCached[T](df: DataFrame)(f: DataFrame => T): T = {
    val c = df.cache()
    try f(c) finally c.unpersist()
  }

  /** Check, claim, stage, version check, commit — the order every build
    * and upsert writes in. `check` runs before the claim is published,
    * so a rejected batch leaves the version pin (and every in-flight
    * writer's claim) untouched; `stage` holds the retry-healable writes;
    * `commit` is the one write that publishes the result, reached only
    * while the pin still holds this writer's claim. */
  private def guarded[A, B](ix: IndexLayout, op: String)(check: => A)(
      stage: A => B)(commit: B => Unit): Unit = {
    val checked = check
    val claimed = claimVersion(ix.fs, ix.versionPath)
    val staged = stage(checked)
    requireVersion(ix.fs, ix.versionPath, claimed,
      s"${ix.name} $op at ${ix.path}")
    commit(staged)
  }

  private def overwrite(df: DataFrame, path: String,
      partCols: Seq[String]): Unit =
    df.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy(partCols: _*).parquet(path)

  /** One batch as a family lays it out: `ids` carries `idCol` and the
    * side-bucket column — validated, and the anti-join key that drops
    * re-crawled rows (read up to four times: pass a cached frame or a
    * projection of one); `main`/`side` are the batch's rows in each table. */
  final case class Batch(idCol: String, ids: DataFrame, main: DataFrame,
      side: DataFrame)

  /** Pin-last bulk build (see the object doc). `b.ids` is the batch with
    * every derived column, one row per id — cached for the two writes,
    * which are its projections. Duplicate ids are rejected before the
    * claim. */
  def bulkBuild(ix: IndexLayout, b: Batch, cfg: Map[String, String]): Unit =
    guarded(ix, "bulk build")(requireUniqueIds(b.ids, b.idCol)) { _ =>
      ix.fs.delete(ix.pinPath, false)
      withCached(b.ids) { _ =>
        overwrite(b.main, ix.main, ix.partCols)
        overwrite(b.side, ix.side, Seq(ix.sideBucket))
      }
    } { _ => writeConfigPin(ix.fs, ix.pinPath, cfg) }

  /** The upsert of a pin-last family: an index without data routes to
    * [[bulkBuild]]; otherwise the stored pin must exist and satisfy
    * `matches` (else `mismatch`), and the batch — `b.ids` as in
    * [[bulkBuild]], cached here — merges in through [[mergeUpsert]]. */
  def upsertOrBuild(ix: IndexLayout, b: Batch, cfg: Map[String, String])(
      matches: Map[String, String] => Boolean, mismatch: => String): Unit =
    if (!ix.hasData) bulkBuild(ix, b, cfg)
    else {
      ix.requirePin(probing = false)(matches, mismatch)
      withCached(b.ids)(_ => mergeUpsert(ix, b))
    }

  /** Config-first bulk build (see the object doc): `check` validates the
    * batch before the claim; the config pin, then `first` stage; `last`
    * is the commit write. Each is a full overwrite of one table. */
  def configFirstBuild(ix: IndexLayout, check: => Unit,
      cfg: Map[String, String], first: (DataFrame, String, Seq[String]),
      last: (DataFrame, String, Seq[String])): Unit =
    guarded(ix, "bulk build")(check) { _ =>
      writeConfigPin(ix.fs, ix.pinPath, cfg)
      (overwrite _).tupled(first)
    } { _ => (overwrite _).tupled(last) }

  /** The merge upsert of every family (see the object doc). `oldKeys`
    * maps the batch ids' OLD side rows to the main partition keys
    * (columns `partCols`) they occupied — by default the side table
    * stores them. `knownHit` passes side buckets an earlier fused job of
    * the caller already collected (after validating the same ids);
    * `sideRows` replaces the pruned side read (FTS's re-derivation of a
    * side table lost to a crashed build). Cost ∝ the batch's partition
    * spread, never the index size. */
  def mergeUpsert(ix: IndexLayout, b: Batch,
      oldKeys: DataFrame => DataFrame = identity,
      knownHit: Option[Seq[Long]] = None,
      sideRows: Option[DataFrame] = None): Unit = {
    val Batch(idCol, ids, main, side) = b
    var pruned: Option[DataFrame] = None
    try guarded(ix, "upsert")(knownHit.getOrElse(
        // ≤ the side table's bucket count by construction
        requireUniqueIdsCollectingBuckets(ids, idCol,
          col(ix.sideBucket)))) { hit =>
      val batchIds = ids.select(col(idCol)).distinct()
      // replacement side rows may be derived from the main table, which
      // the overwrite below rewrites (and re-caches by path): pin them
      // eagerly, not as a cache a recompute would re-read stale files for
      val p = sideRows.map(_.localCheckpoint(true))
        .getOrElse(ix.spark.read.parquet(ix.side)
          .filter(col(ix.sideBucket).isInCollection(hit)).cache())
      pruned = Some(p)
      val keyCols = ix.partCols.map(col)
      // ≤ the main table's partition count by construction
      val affected = oldKeys(p.join(batchIds, Seq(idCol), "left_semi"))
        .select(keyCols: _*).union(main.select(keyCols: _*)).distinct()
        .collect().map(_.toSeq).toSet
      val merged = ix.spark.read.parquet(ix.main)
        .filter(keyFilter(ix.partCols, affected))
        .join(batchIds, Seq(idCol), "left_anti") // drop re-crawled rows
        .unionByName(main)
      overwriteAffected(merged, ix.main, ix.partCols, affected, ix.fs)
      graft.streaming.CrashPoints.reached(s"${ix.seam}.upsert.between-writes")
      // no delete pass: a removed id is re-inserted into its id-stable
      // bucket (an FTS doc re-crawled to no postings is the exception —
      // its stale side row, if alone in its bucket, only names buckets a
      // later upsert re-checks)
      p.join(batchIds, Seq(idCol), "left_anti").unionByName(side)
    } { sideMerged => pinWrite(sideMerged, ix.side, Seq(ix.sideBucket)) }
    finally pruned.foreach(_.unpersist())
  }
}
