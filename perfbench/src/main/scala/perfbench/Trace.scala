package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.jdk.CollectionConverters._

/** One timed interval around a call into a layer. Spans of one op share
  * `op`; `parent` is the span that was open on the calling thread (or the
  * op's root span for calls made from executor threads). */
final case class Span(id: Long, parent: Long, op: Long, pass: Int,
    name: String, startNs: Long, endNs: Long)

/** Process-wide trace state. Everything is a no-op unless `active` (a
  * traced pass is running), so untraced passes pay one volatile read per
  * wrapped call. Counters are plain name → sum maps; executor threads in
  * local mode share this JVM, so the wrappers handed to Spark tasks
  * (TimedFetcher, TimedEmbedder, …) feed the same maps. */
object Trace {
  @volatile var active = false
  @volatile var pass = 0
  @volatile private var opId = 0L
  // innermost span open on a client (non-task) thread: the parent of
  // spans opened inside Spark tasks, which run on executor threads
  @volatile private var clientTop = 0L

  private val ids = new AtomicLong(0)
  private val sums = new ConcurrentHashMap[String, DoubleAdder]()
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }

  def add(name: String, v: Double): Unit =
    if (active) sums.computeIfAbsent(name, _ => new DoubleAdder).add(v)

  /** Counter snapshot since the last call; resets the counters. */
  def drainCounters(): Map[String, Double] = {
    val out = sums.asScala.map { case (k, v) => k -> v.sumThenReset() }.toMap
    sums.clear()
    out
  }

  /** Root span of one unit op (named `op.<name>`); later spans share its
    * op id. */
  def op[T](name: String)(body: => T): T =
    if (!active) body
    else {
      opId += 1
      record("op." + name, root = true)(body)
    }

  /** Span around a call into layer `name` (prefix = layer); also counts
    * `<name>.calls` and `<name>.ms`. */
  def span[T](name: String)(body: => T): T =
    if (!active) body else record(name, root = false)(body)

  private def record[T](name: String, root: Boolean)(body: => T): T = {
    val id = ids.incrementAndGet()
    val inTask = org.apache.spark.TaskContext.get() != null
    val parent =
      if (root) 0L
      else if (inTask) clientTop
      else stack.get().headOption.getOrElse(clientTop)
    val t0 = System.nanoTime()
    if (!inTask) { stack.set(id :: stack.get()); clientTop = id }
    try body
    finally {
      val t1 = System.nanoTime()
      if (!inTask) {
        stack.set(stack.get().tail)
        clientTop = stack.get().headOption.getOrElse(0L)
      }
      spans.add(Span(id, parent, opId, pass, name, t0, t1))
      add(name + ".calls", 1)
      add(name + ".ms", (t1 - t0) / 1e6)
    }
  }

  /** Per-layer self time (ms) of one pass: a span's duration minus the
    * part of it that its children cover, summed by layer prefix. */
  def selfMsByLayer(p: Int): Map[String, Double] =
    selfMs(p).filterNot(_._1.name.startsWith("op."))
      .groupBy(_._1.name.takeWhile(_ != '.')).map { case (l, xs) => l -> xs.map(_._2).sum }

  /** Summed self time (ms) of the spans called `name` in pass `p`. */
  def selfMsOf(name: String, p: Int): Double =
    selfMs(p).filter(_._1.name == name).map(_._2).sum

  private def selfMs(p: Int): Seq[(Span, Double)] = {
    val ss = spans.asScala.filter(_.pass == p).toSeq
    val kids = ss.groupBy(_.parent)
    ss.map { s =>
      val ivs = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter(iv => iv._2 > iv._1).sortBy(_._1)
      var covered = 0L
      var end = Long.MinValue
      ivs.foreach { case (a, b) =>
        if (a >= end) { covered += b - a; end = b }
        else if (b > end) { covered += b - end; end = b }
      }
      s -> (s.endNs - s.startNs - covered) / 1e6
    }
  }

  /** Spans as JSON lines, written once at exit. */
  def writeSpans(path: java.nio.file.Path): Unit = {
    Option(path.getParent).foreach(java.nio.file.Files.createDirectories(_))
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.asScala.foreach { s =>
      w.write(s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},""" +
        s""""pass":${s.pass},"name":"${s.name}","start_ns":${s.startNs},""" +
        s""""end_ns":${s.endNs}}""")
      w.newLine()
    } finally w.close()
  }

  /** Median of a sample (0 when empty). */
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted.toIndexedSeq
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** Group-wise medians of per-pass maps (missing keys count as 0). */
  def medianOfMaps(ms: Seq[Map[String, Double]]): Map[String, Double] = {
    val keys = ms.flatMap(_.keys).toSet
    keys.map(k => k -> median(ms.map(_.getOrElse(k, 0.0)))).toMap
  }
}
