package graft.ingest

import graft.sink.StagedFile
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** Ingestion target: where a staged file lands. */
final case class IngestTarget(
    db: String,
    table: String,
    format: String,
    mappingRef: Option[String] = None,
    streaming: Boolean = false)

/** Terminal ingestion status of one staged file. Semantics follow the
  * reference's streaming-status interpretation
  * (reference: TopicPartitionWriter.java:150-176):
  * Succeeded/Queued/Pending ⇒ success; Skipped/PartiallySucceeded ⇒ final
  * (logged, NOT retried, NOT dead-lettered); Failed ⇒ retried.
  */
sealed trait IngestionStatus
object IngestionStatus {
  case object Succeeded extends IngestionStatus
  case object Queued extends IngestionStatus
  case object Pending extends IngestionStatus
  case object Skipped extends IngestionStatus
  case object PartiallySucceeded extends IngestionStatus
  case object Failed extends IngestionStatus

  /** Final-and-accepted — the offset may advance. */
  def accepted(s: IngestionStatus): Boolean = s match {
    case Failed => false
    case _      => true
  }
  /** Final-but-lossy: no retry, no DLQ, data will not reach the table. */
  def finalButLossy(s: IngestionStatus): Boolean =
    s == Skipped || s == PartiallySucceeded
}

/** Transient service failure — retried with backoff
  * (reference: IngestionServiceException handling,
  * TopicPartitionWriter.java:130-146). */
final class TransientIngestException(msg: String, cause: Throwable = null)
  extends RuntimeException(msg, cause)

/** Permanent failure — fails fast, never retried
  * (reference: IngestionClientException/permanent-streaming-error paths). */
final class PermanentIngestException(msg: String, cause: Throwable = null)
  extends RuntimeException(msg, cause)

/** The ingestion boundary. Implementations: a real Kusto client (HTTPS,
  * out of scope in this offline environment), [[MockIngestClient]] for
  * tests, and [[LocalTableIngestClient]] which lands each staged file in
  * a local table directory so end-to-end verification queries can run
  * against what was ingested.
  */
trait IngestClient extends Serializable with AutoCloseable {
  def ingest(file: StagedFile, target: IngestTarget): IngestionStatus
  override def close(): Unit = ()
}

/** Scriptable in-JVM mock (local-mode tests share one JVM, so executors
  * and the test observe the same registry — keyed by id). */
final class MockIngestClient(id: String) extends IngestClient {
  def ingest(file: StagedFile, target: IngestTarget): IngestionStatus =
    MockIngestClient.state(id).ingestImpl(file, target)
}

object MockIngestClient {
  final class State {
    val calls = new java.util.concurrent.CopyOnWriteArrayList[(StagedFile, IngestTarget)]
    /** Fail the first N calls with a transient error, then succeed. */
    @volatile var failFirst: Int = 0
    /** Fixed status to return (after failFirst is exhausted). */
    @volatile var status: IngestionStatus = IngestionStatus.Succeeded
    private val n = new AtomicInteger(0)
    def ingestImpl(file: StagedFile, target: IngestTarget): IngestionStatus = {
      calls.add((file, target))
      if (n.incrementAndGet() <= failFirst)
        throw new TransientIngestException(s"scripted transient failure ${n.get()}")
      status
    }
    def callCount: Int = calls.size
    def targets: Seq[IngestTarget] = calls.asScala.map(_._2).toSeq
  }
  private val registry = new ConcurrentHashMap[String, State]
  def state(id: String): State = registry.computeIfAbsent(id, _ => new State)
  def reset(id: String): State = { registry.remove(id); state(id) }
}
