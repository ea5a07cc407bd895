package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** One timed interval around a call into a layer. Times are epoch
  * microseconds, so spans taken from Spark's own event timestamps (epoch
  * milliseconds) line up with spans the harness times itself. */
final case class Span(id: Long, parent: Long, name: String, startUs: Long, endUs: Long,
                      attrs: Map[String, Any])

/** In-memory span recorder. Spans are kept in a queue and written once,
  * as JSON lines, when the run ends, so recording costs a clock read and
  * an enqueue. While `enabled` is false nothing is recorded. */
object Trace {
  @volatile var enabled = false
  @volatile var runId = "run"

  private val spans = new ConcurrentLinkedQueue[Span]
  private val ids = new AtomicLong(0)
  private val anchorUs = System.currentTimeMillis() * 1000L
  private val anchorNs = System.nanoTime()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }

  /** Parent for spans opened on threads that did not open the enclosing
    * span (Spark task threads run the ingest calls of a batch). */
  @volatile var ambientParent = 0L

  def nowUs(): Long = anchorUs + (System.nanoTime() - anchorNs) / 1000L

  def current: Long = stack.get() match {
    case h :: _ => h
    case Nil => ambientParent
  }

  /** Time `body` as a span named `name`; nested calls on the same thread
    * become its children. */
  def span[T](name: String, attrs: Map[String, Any] = Map.empty)(body: => T): T = {
    if (!enabled) return body
    val id = ids.incrementAndGet()
    val parent = current
    val t0 = nowUs()
    stack.set(id :: stack.get())
    try body
    finally {
      stack.set(stack.get().tail)
      spans.add(Span(id, parent, name, t0, nowUs(), attrs))
    }
  }

  /** An id for a span recorded later, so children can name it first. */
  def newId(): Long = ids.incrementAndGet()

  /** Record a span whose interval was measured elsewhere. Returns its id. */
  def record(name: String, parent: Long, startUs: Long, endUs: Long,
             attrs: Map[String, Any] = Map.empty, id: Long = 0L): Long = {
    if (!enabled) return 0L
    val sid = if (id > 0) id else newId()
    spans.add(Span(sid, parent, name, startUs, endUs, attrs))
    sid
  }

  def write(path: Path): Unit = {
    Files.createDirectories(path.getParent)
    val sb = new StringBuilder
    spans.asScala.toSeq.sortBy(_.startUs).foreach { s =>
      sb.append(Json.obj(Seq("run" -> runId, "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_us" -> s.startUs, "end_us" -> s.endUs) ++ s.attrs.toSeq: _*)).append('\n')
    }
    Files.write(path, sb.toString.getBytes(UTF_8))
  }
}

/** JSON text for the result line, span rows and artifact rows. */
object Json {
  private implicit val formats: org.json4s.Formats = org.json4s.DefaultFormats

  /** Fields keep their order in the output. */
  def obj(fields: (String, Any)*): String =
    org.json4s.jackson.Serialization.write(scala.collection.immutable.ListMap(fields: _*))
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (the `statistics` "inclusive" method). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest order statistic with at least `beyond` samples above it:
    * the tail percentile a sample of this size can still support. Falls
    * back to the maximum for samples of `beyond` or fewer. */
  def tail(xs: Seq[Double], beyond: Int = 10): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    if (s.length <= beyond) s.last else s(s.length - 1 - beyond)
  }

  /** Percentile rank that `tail` reports for a sample of size n. */
  def tailRank(n: Int, beyond: Int = 10): Double =
    if (n <= beyond) 1.0 else (n - 1 - beyond).toDouble / math.max(1, n - 1)
}
