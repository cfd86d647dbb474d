package perfbench

import graft.llm.{Embedder, LlmClient, TtsClient}
import graft.sources.Fetcher

/** Delegating wrappers that put a span (and item counters) around every
  * call the pipeline makes into the fetcher, embedder, LLM and TTS seams.
  * They are handed to the engine in place of the real clients, so no
  * engine code changes; calls made inside Spark tasks land in the same
  * process-wide [[Trace]] counters (local mode). */
final class TimedFetcher(inner: Fetcher) extends Fetcher {
  override def fetchBatch(urls: Seq[String]): Seq[Option[String]] =
    Trace.span("sources.fetch") {
      val out = inner.fetchBatch(urls)
      Trace.add("sources.fetch.urls", urls.size)
      Trace.add("sources.fetch.missing", out.count(_.isEmpty))
      out
    }
}

final class TimedEmbedder(inner: Embedder) extends Embedder {
  override def dim: Int = inner.dim
  override def embedBatch(texts: Seq[String]): Seq[Array[Float]] =
    Trace.span("llm.embed") {
      Trace.add("llm.embed.texts", texts.size)
      inner.embedBatch(texts)
    }
}

final class TimedLlm(inner: LlmClient) extends LlmClient {
  override def completeBatch(op: String, prompts: Seq[String]): Seq[String] =
    Trace.span("llm.complete") {
      val out = inner.completeBatch(op, prompts)
      Trace.add("llm.complete.tokens", out.map(_.split("\\s+").count(_.nonEmpty)).sum)
      out
    }
}

final class TimedTts(inner: TtsClient) extends TtsClient {
  override def synthesizeBatch(texts: Seq[String]): Seq[Array[Byte]] =
    Trace.span("llm.tts") {
      val out = inner.synthesizeBatch(texts)
      Trace.add("llm.tts.bytes", out.map(_.length.toLong).sum.toDouble)
      out
    }
}
