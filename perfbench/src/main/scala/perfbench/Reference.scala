package perfbench

import org.apache.spark.sql.{PerfbenchShims, SparkSession}

/** Reproduces the repository's recorded exact counts with the benchmark's
  * own listeners, on an existing table directory (not part of the timed
  * workloads):
  *   - SQL executions and jobs of the three 3-slice streaming drains
  *     (q145 / q154 / q160), counted the way StreamDrainBench counts them;
  *   - shuffle records of every bench query (one metrics pass after a
  *     warm-up, as graft.Bench records them).
  *
  * Usage: java … perfbench.Reference <sfDir>   (prints one JSON line) */
object Reference {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = graft.GraftSession.configure(
      SparkSession.builder().master(s"local[$cpus]"), cpus.toString, "perfbench-reference")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val listeners = new Listeners
    spark.sparkContext.addSparkListener(listeners)

    def counted[T](body: => T): Map[String, Double] = {
      PerfbenchShims.drainListenerBus(spark.sparkContext)
      Trace.drainCounters()
      Trace.active = true
      try body
      finally {
        PerfbenchShims.drainListenerBus(spark.sparkContext)
        Trace.active = false
      }
      Trace.drainCounters()
    }

    val drains = Seq("q145_stream_ingest_dedup", "q154_stream_ann_ingest",
      "q160_stream_fts_ingest").map { q =>
      val c = counted(graft.SparkEntry.queries(q)(spark, dir).count())
      q -> (c.getOrElse("plans.sql_executions", 0.0).toLong, c.getOrElse("plans.jobs", 0.0).toLong)
    }
    val bench = graft.SparkEntry.benchQueries
    def exec(q: graft.QueryDef): Unit =
      q.run(spark, dir).write.format("noop").mode("overwrite").save()
    bench.foreach(exec) // warm-up, as graft.Bench does
    val shuffle = bench.map { q =>
      q.name -> counted(exec(q)).getOrElse("exec.shuffle_records", 0.0).toLong
    }
    println(
      drains.map { case (q, (e, j)) => s""""$q":{"sql_executions":$e,"jobs":$j}""" }
        .mkString("""{"drains":{""", ",", "},") +
      shuffle.map { case (q, r) => s""""$q":$r""" }.mkString(""""shuffle_records":{""", ",", "}}"))
    spark.stop()
  }
}
