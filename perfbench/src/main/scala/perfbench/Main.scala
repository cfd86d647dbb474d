package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{PerfbenchShims, SparkSession}

/** Benchmark driver for one workload run (started by perfbench/run.py).
  *
  *   --workload NAME --seed N --seconds S --trace 0|1 --out RUN_DIR [--spans FILE]
  *
  * Phases: session → set-up (repeated, median) → warm-up → timed window of
  * whole fixed-work passes until S seconds have elapsed → output checks →
  * (traced runs) kernel throughput. Untraced runs report end-to-end
  * metrics; traced runs alternate untraced and traced passes and report
  * per-layer metrics. Writes RUN_DIR/result.json (and, for lake_queries,
  * RUN_DIR/oracle.json for the runner's DuckDB comparison). */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val runDir = Paths.get(a("out"))
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val cpus = Runtime.getRuntime.availableProcessors()

    val spark = graft.GraftSession.configure(
      SparkSession.builder().master(s"local[$cpus]"), cpus.toString, "perfbench")
      .config("spark.local.dir", runDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", runDir.resolve("warehouse").toString)
      // shuffle files are removed with the local dir at exit instead of by
      // the GC-driven cleaner mid-pass: file deletes are the noisiest I/O on
      // a disk with online discard
      .config("spark.cleaner.referenceTracking", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val listeners = new Listeners
    if (trace) {
      spark.sparkContext.addSparkListener(listeners)
      classic.listenerManager.register(listeners)
      spark.streams.addListener(listeners.streaming)
    }
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val w = Workload(workload, spark, seed)
    val errors = mutable.ArrayBuffer.empty[String]
    // set-up, repeated into fresh dirs; the last build is the one used
    val setupTimes = (1 to w.setupReps).map { r =>
      val t0 = System.nanoTime()
      w.setup(runDir.resolve(s"setup$r").toString)
      if (r > 1) graft.TempDirs.rmTree(runDir.resolve(s"setup${r - 1}"))
      (System.nanoTime() - t0) / 1e9
    }
    // warm-up: the workload's own priming, then one full untimed pass whose
    // outputs feed the checks (JIT residue fades over the first passes, so
    // timing starts at pass 1)
    val ops = new Ops
    val tw = System.nanoTime()
    w.warmup(runDir.resolve("warmup").toString)
    try w.pass(0, runDir.resolve("pass0").toString, ops)
    catch { case t: Throwable => errors += s"pass 0: ${t.getClass.getName}: ${t.getMessage}" }
    val warmupS = (System.nanoTime() - tw) / 1e9
    val setupS = sessionS + Trace.median(setupTimes) + warmupS

    // timed window: whole passes until `seconds` elapsed
    val untracedWalls = mutable.ArrayBuffer.empty[Double]
    val tracedWalls = mutable.ArrayBuffer.empty[Double]
    val tracedMaps = mutable.ArrayBuffer.empty[Map[String, Double]]
    val sc = spark.sparkContext
    val tmpDir = new java.io.File(System.getProperty("java.io.tmpdir"))
    val windowStart = System.nanoTime()
    var p = 1
    var failed = errors.nonEmpty
    // traced runs alternate traced (odd) and untraced (even) passes, at
    // least one of each
    while (!failed && (p == 1 || (trace && p < 3) ||
        System.nanoTime() - windowStart < seconds * 1e9)) {
      val traced = trace && p % 2 == 1
      val dir = runDir.resolve(s"pass$p")
      var before = (0, 0, 0L)
      var startMs = 0L
      if (traced) {
        PerfbenchShims.drainListenerBus(sc)
        Trace.drainCounters(); listeners.drainJobs()
        before = (sc.getPersistentRDDs.size, PerfbenchShims.cachedPlans(spark),
          Workload.treeBytes(tmpDir))
        Trace.pass = p
        startMs = System.currentTimeMillis()
        Trace.active = true
      }
      ops.pass = p
      val t0 = System.nanoTime()
      try w.pass(p, dir.toString, ops)
      catch {
        case t: Throwable =>
          failed = true
          errors += s"pass $p: ${t.getClass.getName}: ${t.getMessage}"
          t.printStackTrace()
      }
      val wall = (System.nanoTime() - t0) / 1e9
      if (traced) {
        PerfbenchShims.drainListenerBus(sc)
        Trace.active = false
        val endMs = System.currentTimeMillis()
        val c = Trace.drainCounters()
        val (jobs, skew) = listeners.drainJobs()
        tracedWalls += wall
        tracedMaps += c ++ Map(
          "exec.stage_skew" -> skew,
          "exec.driver_gap_ms" -> driverGapMs(startMs, endMs, jobs),
          "session.persistent_rdds_delta" -> (sc.getPersistentRDDs.size - before._1).toDouble,
          "session.cached_plans_delta" ->
            (PerfbenchShims.cachedPlans(spark) - before._2).toDouble,
          "session.tempdir_bytes" -> (Workload.treeBytes(tmpDir) - before._3).toDouble,
          "llm.rag.retrieve_ms" -> Trace.selfMsOf("jobs.rag", p)) ++
          Trace.selfMsByLayer(p).map { case (l, v) => s"$l.self_ms" -> v }
      } else untracedWalls += wall
      p += 1
    }
    val windowS = (System.nanoTime() - windowStart) / 1e9

    val tc = System.nanoTime()
    val checkErrors = try w.check(runDir.resolve("pass0").toString) catch {
      case t: Throwable => t.printStackTrace(); Seq(s"check: ${t.getClass.getName}: ${t.getMessage}")
    }
    val checkS = (System.nanoTime() - tc) / 1e9
    errors ++= checkErrors

    val recs = ops.all
    val timed = recs.filter(r => r.pass > 0 && (!trace || r.pass % 2 == 0))
    val lat = timed.filter(_.ok).map(_.ms)
    val attempted = recs.size
    val failedOps = recs.count(!_.ok)
    val peakRssMb = vmHwmKb() / 1024.0
    // typical op latency: the median over op kinds of each kind's median, so
    // the kind mix of a seeded stream and gaps between kinds (a bulk build
    // vs an upsert, a kNN vs a phrase probe) cannot flip which cluster the
    // pooled median falls in
    val opP50 = Trace.median(timed.filter(_.ok).groupBy(_.name).values
      .map(rs => Trace.median(rs.map(_.ms))).toSeq)

    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        ("setup_s", setupS, "s"),
        ("run_s", Trace.median(untracedWalls.toSeq), "s"),
        ("op_p50_ms", opP50, "ms"),
        ("peak_rss_mb", peakRssMb, "MB"))
      else {
        val med = Trace.medianOfMaps(tracedMaps.toSeq)
        val kernels = try {
          val (texts, vecs) = w.kernelInputs(runDir.resolve("pass0").toString)
          Kernels.run(texts, vecs, seed)
        } catch {
          case t: Throwable => errors += s"kernels: ${t.getMessage}"; Map.empty[String, Double]
        }
        val overhead = 100.0 * (Trace.median(tracedWalls.toSeq) /
          Trace.median(untracedWalls.toSeq) - 1.0)
        val recall = w match { case s: IndexServe => s.recallAt10; case _ => 0.0 }
        PerLayer.metrics.map { m =>
          (m.name, PerLayer.value(m.name, med, kernels, overhead, recall), m.unit)
        }
      }

    val summary = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "trace" -> trace,
      "nproc" -> cpus, "jvm" -> System.getProperty("java.version"),
      "spark" -> spark.version, "load" -> s"one process, local[$cpus], one closed-loop client",
      "session_s" -> sessionS, "setup_reps_s" -> setupTimes, "warmup_s" -> warmupS,
      "window_s" -> windowS, "check_s" -> checkS, "timed_passes" -> (p - 1),
      "pass_walls_s" -> untracedWalls.toSeq, "ops" -> lat.size,
      "op_p90_ms" -> (if (lat.size >= 100) Trace.quantile(lat, 0.9) else Double.NaN),
      "failed_ratio" -> (if (attempted == 0) 0.0 else failedOps.toDouble / attempted))
    timed.filter(_.ok).groupBy(_.name).toSeq.sortBy(_._1).foreach { case (n, rs) =>
      summary(s"op_ms.$n") = Trace.median(rs.map(_.ms))
    }
    w.sizes.foreach { case (k, v) => summary(s"size.$k") = v }
    w.summary.foreach { case (k, v) => summary(k) = v }
    w match {
      case ing: IndexIngest =>
        summary("ingest_rows_per_s") = ing.rowsFolded / Trace.median(untracedWalls.toSeq)
      case lq: LakeQueries =>
        Files.write(runDir.resolve("oracle.json"), lq.oracleManifest.getBytes(StandardCharsets.UTF_8))
      case _ =>
    }

    val json = new StringBuilder("{")
    json ++= s""""attempted":$attempted,"failed":$failedOps,"errors":[""" +
      errors.map(e => Json.str(e.take(500))).mkString(",") + "],"
    json ++= "\"metrics\":{" + metrics.map { case (n, v, u) =>
      s"""${Json.str(n)}:{"value":${Json.num(v)},"unit":${Json.str(u)}}"""
    }.mkString(",") + "},"
    json ++= "\"summary\":" + Json.obj(summary.toSeq) + "}"
    Files.createDirectories(runDir)
    Files.write(runDir.resolve("result.json"), json.toString.getBytes(StandardCharsets.UTF_8))
    a.get("spans").filter(_ => trace).foreach(f => Trace.writeSpans(Paths.get(f)))
    spark.stop()
  }

  /** Pass wall time during which no Spark job was running (planning,
    * driver-side work, collects, commits): the pass interval minus the
    * union of its job intervals. */
  private def driverGapMs(startMs: Long, endMs: Long, jobs: Seq[(Long, Long)]): Double = {
    var busy = 0L
    var end = startMs
    jobs.map { case (a, b) => (math.max(a, startMs), math.min(b, endMs)) }
      .filter(iv => iv._2 > iv._1).sortBy(_._1).foreach { case (a, b) =>
        if (a >= end) { busy += b - a; end = b }
        else if (b > end) { busy += b - end; end = b }
      }
    (endMs - startMs - busy).toDouble
  }

  private def vmHwmKb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble).getOrElse(0.0)
}

/** Minimal JSON rendering for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"
    case '\t' => "\\t"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString
  def any(v: Any): String = v match {
    case d: Double => num(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case xs: Seq[_] => xs.map(any).mkString("[", ",", "]")
    case other => str(other.toString)
  }
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => str(k) + ":" + any(v) }.mkString("{", ",", "}")
}
