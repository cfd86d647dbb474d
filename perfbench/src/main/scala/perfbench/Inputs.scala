package perfbench

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. Every workload input is a pure function of
  * (seed, sizes): nothing is downloaded or read from outside the run dir. */
object Inputs {

  /** Writes `df` as ONE parquet file at `path` (the single-file table
    * layout the engine's loaders and the DuckDB oracle both read). */
  def writeSingleFile(df: DataFrame, path: String): Unit = {
    val tmp = path + ".tmp"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles.find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(path),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    graft.TempDirs.rmTree(java.nio.file.Paths.get(tmp))
  }

  private def df(s: SparkSession, schema: StructType, rows: Seq[Row]): DataFrame =
    s.createDataFrame(s.sparkContext.parallelize(rows, 4), schema)

  private def r2(x: Double) = math.round(x * 100) / 100.0

  private val Day = 86400000L
  private def date(y: Int, m: Int, d: Int): Long =
    java.time.LocalDate.of(y, m, d).toEpochDay * Day

  /** The lake's ten tables (TPC-H-ish star schema + events + documents +
    * embeddings, the schemas the bench queries read) at `scale` (1.0 ≈ the
    * sf0.01 test set: 60k lineitems). */
  def lake(s: SparkSession, dir: String, seed: Long, scale: Double): Map[String, Long] = {
    val rnd = new java.util.Random(seed)
    def n(base: Int) = math.max(10, (base * scale).toInt)
    val nCust = n(1500); val nSupp = n(100); val nPart = n(2000)
    val nOrd = n(15000); val nEv = n(10000); val nDoc = n(500); val nVec = n(500)
    val tables = Map.newBuilder[String, Long]
    def put(name: String, schema: StructType, rows: Seq[Row]): Unit = {
      writeSingleFile(df(s, schema, rows), s"$dir/$name.parquet")
      tables += name -> rows.size.toLong
    }
    def f(name: String, t: DataType) = StructField(name, t)
    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    put("region", StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType))),
      regions.indices.map(i => Row(i, regions(i))))
    put("nation", StructType(Seq(f("n_nationkey", IntegerType), f("n_name", StringType),
      f("n_regionkey", IntegerType))), (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))
    val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    put("customer", StructType(Seq(f("c_custkey", LongType), f("c_name", StringType),
      f("c_nationkey", IntegerType), f("c_acctbal", DoubleType), f("c_mktsegment", StringType))),
      (0 until nCust).map(i => Row(i.toLong, f"Customer#$i%09d", rnd.nextInt(25),
        r2(-999.99 + rnd.nextDouble() * 10999.98), segs(rnd.nextInt(5)))))
    put("supplier", StructType(Seq(f("s_suppkey", LongType), f("s_name", StringType),
      f("s_nationkey", IntegerType), f("s_acctbal", DoubleType))),
      (0 until nSupp).map(i => Row(i.toLong, f"Supplier#$i%09d", rnd.nextInt(25),
        r2(-999.99 + rnd.nextDouble() * 10999.98))))
    val adj = Seq("blue", "red", "small", "large", "hot", "cold", "old", "new")
    val noun = Seq("bolt", "gear", "ring", "rod", "plate", "widget", "anvil", "gizmo")
    val types = Seq("ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM")
    val price = (0 until nPart).map(i => 900.0 + (i % 1000) / 10.0)
    put("part", StructType(Seq(f("p_partkey", LongType), f("p_name", StringType),
      f("p_brand", StringType), f("p_type", StringType), f("p_size", IntegerType),
      f("p_retailprice", DoubleType))),
      (0 until nPart).map(i => Row(i.toLong, adj(rnd.nextInt(8)) + " " + noun(rnd.nextInt(8)),
        s"Brand#${1 + rnd.nextInt(25)}", types(rnd.nextInt(6)), 1 + rnd.nextInt(50),
        math.round(price(i) * 10) / 10.0)))
    val prios = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val d0 = date(1995, 1, 1)
    val orderDates = Array.fill(nOrd)(d0 + rnd.nextInt(2405) * Day)
    put("orders", StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
      f("o_orderstatus", StringType), f("o_totalprice", DoubleType),
      f("o_orderdate", TimestampType), f("o_orderpriority", StringType))),
      (0 until nOrd).map(i => Row(i.toLong, rnd.nextInt(nCust).toLong,
        Seq("F", "O", "P")(rnd.nextInt(3)), r2(1000 + rnd.nextDouble() * 499000),
        new Timestamp(orderDates(i)), prios(rnd.nextInt(5)))))
    val lines = (0 until nOrd).flatMap { o =>
      (1 to 1 + rnd.nextInt(7)).map { ln =>
        val p = rnd.nextInt(nPart)
        val q = (1 + rnd.nextInt(50)).toDouble
        Row(o.toLong, p.toLong, rnd.nextInt(nSupp).toLong, ln, q,
          r2(q * price(p) * (1 + rnd.nextDouble())), rnd.nextInt(11) / 100.0,
          rnd.nextInt(9) / 100.0, Seq("A", "N", "R")(rnd.nextInt(3)),
          Seq("O", "F")(rnd.nextInt(2)),
          new Timestamp(orderDates(o) + (1 + rnd.nextInt(121)) * Day))
      }
    }
    put("lineitem", StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
      f("l_suppkey", LongType), f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
      f("l_extendedprice", DoubleType), f("l_discount", DoubleType), f("l_tax", DoubleType),
      f("l_returnflag", StringType), f("l_linestatus", StringType),
      f("l_shipdate", TimestampType))), lines)
    val evTypes = Seq("click", "view", "purchase", "signup", "error")
    val nUsers = math.max(10, nEv / 67)
    var ts = date(2024, 1, 1) * 1000L // micros
    val gap = 30L * Day * 1000L / nEv
    put("events", StructType(Seq(f("event_id", LongType), f("ts", TimestampType),
      f("user_id", LongType), f("event_type", StringType), f("value", DoubleType),
      f("props", StringType))),
      (0 until nEv).map { i =>
        ts += (rnd.nextDouble() * 2 * gap).toLong
        val t = new Timestamp(ts / 1000); t.setNanos(((ts % 1000000) * 1000).toInt)
        Row(i.toLong, t, rnd.nextInt(nUsers).toLong, evTypes(rnd.nextInt(5)),
          r2(0.01 + rnd.nextDouble() * 490), s"""{"k": ${rnd.nextInt(100)}}""")
      })
    val words = Seq("row", "the", "query", "stream", "value", "hash", "batch", "sort",
      "data", "big", "filter", "dup", "key", "agg", "scan", "slow", "table", "part", "a",
      "merge", "window", "order", "column", "join", "vector", "fast", "spark", "line",
      "small", "customer", "group")
    val langs = Seq("en", "en", "en", "fr", "de", "es", "zh")
    val texts = new Array[String](nDoc)
    (0 until nDoc).foreach { i =>
      texts(i) =
        if (i % 20 == 19) { // planted near-duplicate of an earlier doc
          val ws = texts(i - 19).split(" ")
          ws(rnd.nextInt(ws.length)) = words(rnd.nextInt(words.size))
          ws.mkString(" ")
        } else Seq.fill(5 + rnd.nextInt(96))(words(rnd.nextInt(words.size))).mkString(" ")
    }
    put("documents", StructType(Seq(f("doc_id", LongType), f("text", StringType),
      f("lang", StringType), f("source", StringType), f("n_chars", LongType))),
      (0 until nDoc).map(i => Row(i.toLong, texts(i), langs(rnd.nextInt(langs.size)),
        s"src${i % 20}", texts(i).length.toLong)))
    val vecs = clusteredVectors(rnd, nVec, 64, 10)
    put("embeddings", StructType(Seq(f("vec_id", LongType),
      f("embedding", ArrayType(FloatType, containsNull = false)), f("label", IntegerType))),
      vecs.indices.map(i => Row(i.toLong, vecs(i)._2.toSeq, vecs(i)._1)))
    tables.result()
  }

  /** `n` unit vectors around `k` random centres: (cluster, vector). */
  def clusteredVectors(rnd: java.util.Random, n: Int, dim: Int, k: Int): IndexedSeq[(Int, Array[Float])] = {
    val cents = Array.fill(k)(Array.fill(dim)(rnd.nextGaussian()))
    (0 until n).map { _ =>
      val c = rnd.nextInt(k)
      val v = cents(c).map(x => x + 0.6 * rnd.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      (c, v.map(x => (x / norm).toFloat))
    }
  }

  /** Zipf-distributed vocabulary sampler over `vocab` words w0…w{vocab-1}. */
  final class Zipf(vocab: Int, s: Double, rnd: java.util.Random) {
    private val cdf = {
      val w = (1 to vocab).map(r => 1.0 / math.pow(r, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    def next(): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      math.min(vocab - 1, if (i >= 0) i else -i - 1)
    }
  }

  /** A Zipf-vocabulary corpus: (doc_id, text). Every 20th doc is a
    * near-copy of an earlier one (one word replaced), and every 25th doc
    * carries one of the planted phrases (in turn) at a random position. */
  def zipfCorpus(rnd: java.util.Random, n: Int, vocab: Int,
      phrases: Seq[Seq[String]]): IndexedSeq[(Long, String)] = {
    val z = new Zipf(vocab, 1.07, rnd)
    val texts = new Array[String](n)
    (0 until n).foreach { i =>
      texts(i) =
        if (i % 20 == 19) {
          val ws = texts(i - 1 - rnd.nextInt(math.min(i, 19))).split(" ")
          ws(rnd.nextInt(ws.length)) = "w" + z.next()
          ws.mkString(" ")
        } else {
          val ws = Array.fill(20 + rnd.nextInt(60))("w" + z.next())
          if (phrases.nonEmpty && i % 25 == 3) {
            val p = phrases((i / 25) % phrases.size)
            val at = rnd.nextInt(ws.length - p.size + 1)
            p.indices.foreach(j => ws(at + j) = p(j))
          }
          ws.mkString(" ")
        }
    }
    texts.indices.map(i => (i.toLong, texts(i)))
  }

  /** Distinct word-3-shingle set of a text (the dedup family's default). */
  def shingles(text: String): Set[String] = {
    val ws = text.split(" ").filter(_.nonEmpty)
    if (ws.length < 3) Set.empty else ws.sliding(3).map(_.mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double =
    if (a.isEmpty && b.isEmpty) 0.0
    else a.intersect(b).size.toDouble / a.union(b).size

  /** Brute-force near-duplicate pairs: every (a, b) with a != b whose
    * 3-shingle Jaccard is >= `threshold` (pairs sharing no shingle have
    * Jaccard 0, so only pairs with a common shingle are scored). */
  def nearPairs(docs: Seq[(Long, String)], threshold: Double = 0.5): Map[(Long, Long), Double] = {
    val sh = docs.map { case (i, t) => i -> shingles(t) }.toMap
    val byShingle = sh.toSeq.flatMap { case (i, ss) => ss.map(_ -> i) }
      .groupBy(_._1).values.map(_.map(_._2).distinct)
    val cands = byShingle.flatMap(ids => for (a <- ids; b <- ids if a != b) yield (a, b)).toSet
    cands.iterator.map(p => p -> jaccard(sh(p._1), sh(p._2)))
      .filter(_._2 >= threshold).toMap
  }

  /** Docs frame (doc_id long, text string). */
  def docsFrame(s: SparkSession, docs: Seq[(Long, String)]): DataFrame =
    df(s, StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))),
      docs.map { case (i, t) => Row(i, t) })

  /** Vectors frame (vec_id long, embedding array<float>). */
  def vecsFrame(s: SparkSession, vecs: Seq[(Long, Array[Float])]): DataFrame =
    df(s, StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false)))),
      vecs.map { case (i, v) => Row(i, v.toSeq) })
}
