package perfbench

import java.sql.Timestamp

import graft.jobs.PipelineJobs
import graft.llm.{WeightsFileEmbedder, WeightsFileLlm, WeightsFileTts}
import graft.sources.FixtureFetcher
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `daily_pipeline`: the reference's daily DAG over several simulated days —
  * `PipelineJobs.ingestFromUrls` (a FixtureFetcher over seeded HTML; each
  * day's frontier holds new URLs, re-crawls of earlier days' URLs and
  * planted missing URLs), then `buildOrUpdateIndex`, a batch of
  * `ragAnswer` questions and one `podcast`. The embedder, LLM and TTS are
  * the weights-file clients over weights generated in set-up. Unit op =
  * one RAG answer. */
final class DailyPipeline(spark: SparkSession, seed: Long) extends Workload {
  private val days = 5
  private val newPerDay = 120
  private val recrawlPerDay = 20
  private val missingPerDay = 6
  private val questionsPerDay = 12

  private val vocab = Seq("pitcher", "inning", "homer", "bullpen", "rookie", "slugger",
    "shortstop", "catcher", "dugout", "strikeout", "walkoff", "doubleheader", "trade",
    "injury", "roster", "lineup", "playoff", "pennant", "wildcard", "ace", "closer",
    "batting", "average", "era", "rbi", "steal", "grandslam", "umpire", "manager", "season")
  private val teams = Seq("Dodgers", "Yankees", "Mets", "Cubs", "Padres", "Giants",
    "Braves", "Astros", "Mariners", "Phillies", "Orioles", "Guardians")

  private var dir = ""
  private var fixtures = Map.empty[String, String]
  private var frontier: IndexedSeq[Seq[(String, Timestamp)]] = IndexedSeq.empty
  private var questions: IndexedSeq[Seq[String]] = IndexedSeq.empty
  private var expectedIndexRows = 0L
  private val passDigests = scala.collection.mutable.Map.empty[Int, String]

  private def embedder = new TimedEmbedder(new WeightsFileEmbedder(s"$dir/weights/embedder.bin"))
  private def llm = new TimedLlm(new WeightsFileLlm(s"$dir/weights/llm.bin"))
  private def tts = new TimedTts(new WeightsFileTts(s"$dir/weights/voice.bin"))

  override def setup(d: String): Unit = {
    dir = d
    val rnd = new java.util.Random(seed)
    val z = new Inputs.Zipf(vocab.size, 1.0, rnd)
    def sentence(n: Int) = Seq.fill(n)(vocab(z.next())).mkString(" ")
    val articles = (0 until days).flatMap { day =>
      (0 until newPerDay).map { i =>
        val team = teams(rnd.nextInt(teams.size))
        val url = s"https://news.example/mlb/day$day/$i"
        val paras = Seq.fill(2 + rnd.nextInt(3))(s"<p>$team ${sentence(15 + rnd.nextInt(25))}</p>")
        (day, url, s"<html><body><h1>$team ${sentence(4)}</h1>${paras.mkString}</body></html>")
      }
    }
    fixtures = articles.map(a => a._2 -> a._3).toMap
    val day0 = java.time.LocalDate.of(2024, 6, 1).toEpochDay * 86400000L
    frontier = (0 until days).map { day =>
      val stamp = new Timestamp(day0 + day * 86400000L + 6 * 3600000L)
      val fresh = articles.filter(_._1 == day).map(_._2)
      val old = articles.filter(_._1 < day).map(_._2)
      val recrawl = if (old.isEmpty) Nil else Seq.fill(recrawlPerDay)(old(rnd.nextInt(old.size)))
      val missing = (0 until missingPerDay).map(i => s"https://news.example/mlb/day$day/gone$i")
      new scala.util.Random(seed + day).shuffle(fresh ++ recrawl ++ missing).map(_ -> stamp)
    }
    questions = (0 until days).map { _ =>
      Seq.fill(questionsPerDay)(
        s"How did the ${teams(rnd.nextInt(teams.size))} ${vocab(z.next())} look this week?")
    }
    expectedIndexRows = frontier.flatten.map(_._1).filter(fixtures.contains).distinct.size
    WeightsFileEmbedder.writeRandom(s"$d/weights/embedder.bin", vocab = 512, dim = 32, seed = seed)
    WeightsFileTts.writeVoice(s"$d/weights/voice.bin", seed = seed)
    val bodies = spark.createDataFrame(spark.sparkContext.parallelize(
      articles.map(a => Row(graft.llm.Parsers.htmlExtract(a._3)._2)), 4),
      StructType(Seq(StructField("body", StringType))))
    WeightsFileLlm.train(bodies, "body", s"$d/weights/llm.bin")
  }

  private def urls(day: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      frontier(day).map { case (u, t) => Row(u, t) }, 4),
      StructType(Seq(StructField("url", StringType), StructField("scraped_at", TimestampType))))

  /** One simulated day through the four jobs; returns the RAG answers. */
  private def runDay(day: Int, out: String, ops: Ops): Seq[String] = {
    val fetcher = new TimedFetcher(new FixtureFetcher(fixtures))
    val emb = embedder; val lm = llm
    val lake = s"$out/lake/day$day"
    val index = s"$out/index"
    Trace.span("jobs.ingest")(PipelineJobs.ingestFromUrls(urls(day), fetcher, lake))
    Trace.span("jobs.index")(PipelineJobs.buildOrUpdateIndex(spark, lake, index, emb))
    val answers = questions(day).map { q =>
      ops("rag_answer") {
        Trace.span("jobs.rag")(PipelineJobs.ragAnswer(spark, index, q, emb, lm))
      }
    }
    Trace.span("jobs.podcast") {
      PipelineJobs.podcast(spark, index, s"${teams(day % teams.size)} week in review",
        s"$out/podcast/day$day", emb, lm, tts)
    }
    answers
  }

  override def warmup(d: String): Unit = ()

  override def pass(p: Int, d: String, ops: Ops): Unit = {
    val answers = (0 until days).flatMap(day => runDay(day, d, ops))
    if (Trace.active)
      Trace.add("jobs.index_rows", spark.read.parquet(s"$d/index").count().toDouble)
    passDigests(p) = digest(answers.mkString("\u0000"))
    if (answers.exists(_.trim.isEmpty)) passDigests(p) = "empty-answer"
  }

  private def digest(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  override def check(firstPassDir: String): Seq[String] = {
    val errs = Seq.newBuilder[String]
    val rows = spark.read.parquet(s"$firstPassDir/index")
    val n = rows.count()
    val distinct = rows.select(col("id")).distinct().count()
    if (n != expectedIndexRows || distinct != n)
      errs += s"index rows $n (distinct ids $distinct) != distinct fetched URLs $expectedIndexRows"
    if (passDigests.values.exists(_ == "empty-answer")) errs += "a RAG answer was empty"
    if (passDigests.values.toSet.size != 1)
      errs += s"RAG answers differ between passes: ${passDigests.size} passes, ${passDigests.values.toSet.size} digests"
    (0 until days).foreach { day =>
      val audio = spark.read.parquet(s"$firstPassDir/podcast/day$day")
        .select(col("audio")).collect().map(_.getAs[Array[Byte]](0))
      if (audio.isEmpty || audio.exists(a => a == null || a.isEmpty))
        errs += s"day $day podcast audio is empty"
    }
    errs.result()
  }

  override def summary: Map[String, Double] =
    Map("index_rows_expected" -> expectedIndexRows.toDouble)

  override def sizes: Map[String, Long] =
    Map("days" -> days.toLong, "urls_per_day" -> (newPerDay + recrawlPerDay + missingPerDay).toLong,
      "missing_per_day" -> missingPerDay.toLong, "questions_per_day" -> questionsPerDay.toLong,
      "articles" -> fixtures.size.toLong)

  override def kernelInputs(firstPassDir: String): (DataFrame, DataFrame) = {
    val idx = spark.read.parquet(s"$firstPassDir/index")
    (idx.select(col("document").as("text")), idx.select(col("embedding")))
  }
}
