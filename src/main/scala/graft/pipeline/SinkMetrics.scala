package graft.pipeline

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.SparkSession
import org.apache.spark.util.LongAccumulator

/** One monotonic counter. Two implementations: Spark accumulators (so
  * executor-side increments aggregate to the driver in cluster mode) and
  * plain atomics for non-Spark unit tests.
  */
trait Counter extends Serializable {
  def inc(): Unit
  def add(n: Long): Unit
  def value: Long
}

/** The six sink counters of the reference's JMX metrics surface
  * (reference: KustoSinkMetrics.java:17-122; increment sites
  * TopicPartitionWriter.java:103-105,126-128,141-144,196-198,211-213,249-256).
  */
final case class SinkMetrics(
    recordsWritten: Counter,
    recordsFailed: Counter,
    ingestionAttempts: Counter,
    ingestionSuccesses: Counter,
    ingestionFailures: Counter,
    dlqRecordsSent: Counter) extends Serializable {

  def snapshot: Map[String, Long] = Map(
    "records-written" -> recordsWritten.value,
    "records-failed" -> recordsFailed.value,
    "ingestion-attempts" -> ingestionAttempts.value,
    "ingestion-successes" -> ingestionSuccesses.value,
    "ingestion-failures" -> ingestionFailures.value,
    "dlq-records-sent" -> dlqRecordsSent.value)
}

object SinkMetrics {
  private final class AccCounter(acc: LongAccumulator) extends Counter {
    def inc(): Unit = acc.add(1L)
    def add(n: Long): Unit = acc.add(n)
    def value: Long = acc.value
  }
  private final class AtomicCounter extends Counter {
    private val a = new AtomicLong(0)
    def inc(): Unit = a.incrementAndGet()
    def add(n: Long): Unit = a.addAndGet(n)
    def value: Long = a.get()
  }

  /** Driver-aggregated counters, named in the Spark UI. */
  def forSpark(spark: SparkSession, prefix: String = "kusto-sink"): SinkMetrics = {
    def acc(n: String) = new AccCounter(spark.sparkContext.longAccumulator(s"$prefix.$n"))
    SinkMetrics(acc("records-written"), acc("records-failed"), acc("ingestion-attempts"),
      acc("ingestion-successes"), acc("ingestion-failures"), acc("dlq-records-sent"))
  }

  /** Plain-JVM counters for unit tests of non-Spark components. */
  def local(): SinkMetrics =
    SinkMetrics(new AtomicCounter, new AtomicCounter, new AtomicCounter,
      new AtomicCounter, new AtomicCounter, new AtomicCounter)
}
