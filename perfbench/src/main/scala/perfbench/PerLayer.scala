package perfbench

/** The per-layer metrics a traced run reports, in BENCHMARK.json order.
  * Every name starts with its layer: plans, exec, operators, functions,
  * streaming, llm, jobs, sources, session (plus trace.overhead_pct). A
  * layer a workload never calls reads 0. */
object PerLayer {
  final case class Metric(name: String, unit: String, better: String)

  private def ms(n: String) = Metric(n, "ms", "lower")
  private def count(n: String) = Metric(n, "count", "lower")

  private val probes = Seq("Fts.phraseQuery", "Fts.bm25Scores", "LshIndex.probeLshIndex",
    "IvfPq.probeIvfPqIndex", "DedupIndex.probeIndex")
  private val folds = Seq("DedupIndex.ingestBatch", "IvfPq.upsertIvfPqIndex",
    "Fts.upsertPostingsIndex")

  val metrics: Seq[Metric] =
    Seq(ms("plans.analysis_ms"), ms("plans.optimization_ms"), ms("plans.physical_ms"),
      count("plans.sql_executions"), count("plans.jobs"),
      ms("exec.task_ms"), ms("exec.cpu_ms"), ms("exec.gc_ms"), ms("exec.scan_ms"),
      count("exec.shuffle_records"), Metric("exec.shuffle_bytes", "bytes", "lower"),
      Metric("exec.spill_bytes", "bytes", "lower"), count("exec.stages"),
      Metric("exec.stage_skew", "ratio", "lower"), ms("exec.driver_gap_ms")) ++
    (probes ++ folds).flatMap(o => Seq(count(s"operators.$o.calls"), ms(s"operators.$o.ms"))) ++
    Seq(Metric("operators.index.rows_read_per_result", "ratio", "lower"),
      Metric("operators.index.partitions_read_fraction", "ratio", "lower"),
      Metric("operators.index.bytes_written_per_input_byte", "ratio", "lower"),
      Metric("operators.index.files_per_partition", "ratio", "lower"),
      Metric("operators.index.recall_at_10", "ratio", "higher"),
      ms("operators.self_ms")) ++
    Kernels.names.map(k => Metric(s"functions.$k.rows_per_s", "1/s", "higher")) ++
    Seq(count("streaming.batches"), ms("streaming.add_batch_ms"), ms("streaming.wal_commit_ms"),
      ms("streaming.trigger_overhead_ms"), ms("streaming.stage_ms"),
      Metric("streaming.ingest_rows_per_s", "1/s", "higher"), ms("streaming.self_ms"),
      count("llm.embed.texts"), ms("llm.embed.ms"), count("llm.complete.calls"),
      ms("llm.complete.ms"), count("llm.complete.tokens"), Metric("llm.tts.bytes", "bytes", "lower"),
      ms("llm.tts.ms"), ms("llm.rag.retrieve_ms"), ms("llm.self_ms"),
      ms("jobs.ingest_ms"), ms("jobs.index_ms"), ms("jobs.rag_ms"), ms("jobs.podcast_ms"),
      Metric("jobs.index_rows", "count", "higher"), ms("jobs.self_ms"),
      count("sources.fetch.urls"), count("sources.fetch.missing"), ms("sources.fetch.ms"),
      ms("sources.self_ms"),
      count("session.cached_plans_delta"), count("session.persistent_rdds_delta"),
      Metric("session.tempdir_bytes", "bytes", "lower"),
      Metric("trace.overhead_pct", "%", "lower"))

  /** Prints the table as the JSON list BENCHMARK.json's `per_layer` holds. */
  def main(args: Array[String]): Unit =
    println(metrics.map(m => s"""{"name": "${m.name}", "unit": "${m.unit}", "better": "${m.better}"}""")
      .mkString("[\n  ", ",\n  ", "\n]"))

  private def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0

  /** Value of per-layer metric `name` from the median traced-pass counters
    * `c`, the kernel throughputs and the tracing overhead. */
  def value(name: String, c: Map[String, Double], kernels: Map[String, Double],
      overheadPct: Double, recall: Double): Double = {
    def g(k: String) = c.getOrElse(k, 0.0)
    name match {
      case "operators.index.rows_read_per_result" => ratio(g("scan.rows"), g("index.result_rows"))
      case "operators.index.partitions_read_fraction" =>
        ratio(g("scan.partitions_read"), g("scan.partitions_total"))
      case "operators.index.bytes_written_per_input_byte" =>
        ratio(g("exec.output_bytes"), g("index.input_bytes"))
      case "operators.index.files_per_partition" => ratio(g("index.files"), g("index.partitions"))
      case "operators.index.recall_at_10" => recall
      case "streaming.ingest_rows_per_s" => ratio(g("streaming.rows"), g("streaming.drain_ms") / 1e3)
      case "jobs.ingest_ms" | "jobs.index_ms" | "jobs.rag_ms" | "jobs.podcast_ms" =>
        g(name.stripSuffix("_ms") + ".ms")
      case "trace.overhead_pct" => overheadPct
      case n if n.startsWith("functions.") => kernels.getOrElse(n, 0.0)
      case n => g(n)
    }
  }
}
