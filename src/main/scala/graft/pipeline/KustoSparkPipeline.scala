package graft.pipeline

import graft.config.{ErrorBehavior, SinkConfig, SinkConfigException}
import graft.ingest._
import graft.sink._
import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import scala.collection.mutable

/** The engine's streaming ETL pipeline — the Spark-native restatement of
  * the reference connector's hot path (SURVEY §3.1):
  *
  * {{{
  * source (kafka-schema DataFrame: key, value, topic, partition, offset)
  *       └─ foreachBatch                — runs in the micro-batch's SQL execution
  *           └─ runJob(PartitionSink)   — one task per partition over the
  *               │                          plan's internal rows; no shuffle:
  *               │                          Kafka partitions arrive
  *               │                          pre-partitioned
  *               ├─ tombstone filter (F1)
  *               ├─ route topic → mapping   — (R1)
  *               ├─ RollingFileWriter       — size-OR-time gzip roll (B1-B4)
  *               └─ IngestPipe.handleRoll   — retry/DLQ/status (K1-K5)
  *       └─ checkpoint commit               — offsets advance ONLY if the
  *                                            batch succeeded (K6)
  * }}}
  *
  * At-least-once: Structured Streaming writes the offset WAL before a
  * batch and the commit log only after `foreachBatch` returns, so a
  * failed/aborted ingest (FAIL mode) halts the query with offsets parked
  * at the last fully-ingested batch — the exact semantics of the
  * reference's `preCommit` gate (reference: KustoSinkTask.java:522-546).
  *
  * Scale: the only wide operation here is NONE — routing, encoding,
  * rolling, and ingestion are all narrow per-partition work, so the
  * pipeline scales linearly with source partitions on a 1000-executor
  * cluster exactly as it does on local[32].
  */
final class KustoSparkPipeline(
    config: SinkConfig,
    clientFactory: () => IngestClient,
    dlqFactory: Option[() => DlqProducer],
    metrics: SinkMetrics,
    retrySleeper: Long => Unit = RetryPolicy.defaultSleeper) extends Serializable {

  /** The foreachBatch body; also directly callable on a batch DataFrame
    * for batch-mode backfills over the same code path. */
  def processBatch(batch: DataFrame, batchId: Long): Unit = {
    val cols = batch.columns.toSet
    require(Set("topic", "partition", "offset", "value").subsetOf(cols),
      s"sink input needs kafka-source schema (topic, partition, offset, value); got $cols")
    val withKey = if (cols.contains("key")) batch else batch.withColumn("key", lit(null).cast("binary"))
    // headers ride along when the source provides them (kafka source with
    // includeHeaders=true, or any column castable to the same shape)
    val headersType = "array<struct<key:string,value:binary>>"
    val withHeaders =
      if (cols.contains("headers")) withKey
      else withKey.withColumn("headers", lit(null).cast(headersType))

    val live = withHeaders
      .select(col("topic").cast("string"), col("partition").cast("int"),
        col("offset").cast("long"), col("key").cast("binary"), col("value").cast("binary"),
        col("headers").cast(headersType))

    val sc = batch.sparkSession.sparkContext
    val write = new PartitionSink(config, clientFactory, dlqFactory, metrics, retrySleeper)
    def run(): Unit = sc.runJob(live.queryExecution.toRdd, write)
    // a stream's micro-batch already runs under its own SQL execution; a
    // direct batch-mode call gets exactly one, so listeners still see it
    if (sc.getLocalProperty(SQLExecution.EXECUTION_ID_KEY) != null) run()
    else SQLExecution.withNewExecutionId(live.queryExecution, Some("processBatch"))(run())
  }

  /** Start the streaming query: source must have the kafka-source schema.
    * Applies the engine's session policy first ([[graft.Graft.prepare]]),
    * which gives a local checkpoint a log that starts no processes. */
  def start(source: DataFrame, checkpointDir: String,
            trigger: Trigger = Trigger.ProcessingTime(0L)): StreamingQuery = {
    graft.Graft.prepare(source.sparkSession)
    source.writeStream
      .queryName("kusto-sink")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch((df: DataFrame, id: Long) => processBatch(df, id))
      .start()
  }
}

object KustoSparkPipeline {
  // shared per-JVM logger for executor-side batch processing (slf4j
  // loggers are not serializable — the object re-resolves per executor)
  private[pipeline] lazy val log =
    org.slf4j.LoggerFactory.getLogger(classOf[KustoSparkPipeline])
}

/** The partition loop of [[KustoSparkPipeline.processBatch]]: route,
  * encode, roll and ingest one partition's rows. A named class rather
  * than a lambda, so `SparkContext.runJob`'s closure cleaning returns at
  * once instead of walking and serializing a capturing closure each
  * batch. */
private final class PartitionSink(
    conf: SinkConfig,
    clientFactory: () => IngestClient,
    dlqFactory: Option[() => DlqProducer],
    metrics: SinkMetrics,
    retrySleeper: Long => Unit) extends ((TaskContext, Iterator[InternalRow]) => Unit) with Serializable {

  def apply(task: TaskContext, rows: Iterator[InternalRow]): Unit = {
    val client = clientFactory()
    val dlq = dlqFactory.map(_())
    val retry = RetryPolicy(conf.maxRetryTimeMs, conf.retryBackoffMs, retrySleeper)
    val writers = mutable.Map.empty[(String, Int), RollingFileWriter]
    try {
      // F1 tombstone filter, per row: as a Catalyst filter it would be
      // pushed down and inlined into the source's projection, and a
      // KqlTransform value is an IF over the whole parse → re-encode
      rows.filterNot(_.isNullAt(4)).foreach { row =>
        val rec = record(row)
        conf.router.lookup(rec.topic) match {
          case None =>
            // R1 error path (reference: KustoSinkTask.java:504-509)
            if (conf.behaviorOnError == ErrorBehavior.Fail)
              throw new SinkConfigException(
                s"no table mapping for topic '${rec.topic}' and no '*' wildcard")
            metrics.recordsFailed.inc()
            dlq.foreach { d =>
              metrics.dlqRecordsSent.inc()
              d.send((s"No mapping for topic=${rec.topic}, partition=${rec.partition}, " +
                s"offset=${rec.offset}.${rec.headersDescription}").getBytes("UTF-8"), rec.value)
            }
          case Some(mapping) =>
            val writer = writers.getOrElseUpdate((rec.topic, rec.partition), {
              val target = IngestTarget(mapping.db, mapping.table, mapping.format,
                mapping.mapping, mapping.streaming)
              val pipe = new IngestPipe(client, target, retry, conf.behaviorOnError, dlq, metrics)
              // avro WITHOUT a schema = avro-as-bytes: each value is a
              // complete container file, so the writer must roll per
              // record (concatenated containers in one gzip are
              // unreadable; reference FileWriter.java:298-301,321-323)
              val isAvro = mapping.format == "avro" || mapping.format == "apacheavro"
              new RollingFileWriter(
                conf.tempDir, rec.topic, rec.partition,
                FormatWriters.forFormat(mapping.format, mapping.valueSchema),
                conf.flushSizeBytes, conf.flushIntervalMs,
                pipe.handleRoll, retainRecords = conf.dlqEnabled && dlq.isDefined,
                rollEveryRecord = isAvro && mapping.valueSchema.isEmpty)
            })
            try {
              writer.write(rec)
              metrics.recordsWritten.inc()
            } catch {
              // a failed roll (staging or ingest, retries and DLQ
              // included) fails the partition in every error mode: its
              // records were in the file, not in this write
              case e: RollFailedException => throw e
              case e: Exception =>
                // per-record write failure — error-mode switch (K4)
                conf.behaviorOnError match {
                  case ErrorBehavior.Fail => throw e
                  case mode =>
                    if (mode == ErrorBehavior.Log)
                      KustoSparkPipeline.log.warn("record write failed at {}/{}/{}: {}",
                        rec.topic, rec.partition, rec.offset, e.getMessage)
                    metrics.recordsFailed.inc()
                    dlq.foreach { d =>
                      metrics.dlqRecordsSent.inc()
                      d.send((s"Failed to sink record topic=${rec.topic}, partition=${rec.partition}, " +
                        s"offset=${rec.offset}.${rec.headersDescription}").getBytes("UTF-8"), rec.value)
                    }
                }
            }
        }
      }
      // End of partition: flush residual files through ingest. A failure
      // here propagates and fails the batch — offsets must not advance
      // past data that never reached the sink.
      writers.values.foreach(_.close())
    } catch {
      case e: Throwable =>
        writers.values.foreach(w => try w.abort() catch { case _: Exception => () })
        throw e
    } finally {
      try client.close() catch { case _: Exception => () }
    }
  }

  /** One row of the sink's input schema (topic, partition, offset, key,
    * value, headers) as a record, read by ordinal. `getInt`/`getLong`
    * read a null as 0, so a null partition or offset fails here instead
    * of routing to partition 0 or offset 0. */
  private def record(row: InternalRow): SinkRecord = {
    def nullIn(column: String) =
      new IllegalArgumentException(s"sink input has a null `$column` (topic=${string(row, 0)})")
    if (row.isNullAt(1)) throw nullIn("partition")
    if (row.isNullAt(2)) throw nullIn("offset")
    val headers = row.getArray(5) match {
      case null => Nil
      case hs => (0 until hs.numElements()).map { i =>
        val h = hs.getStruct(i, 2)
        RecordHeader(string(h, 0), h.getBinary(1))
      }
    }
    SinkRecord(string(row, 0), row.getInt(1), row.getLong(2), row.getBinary(3), row.getBinary(4), headers)
  }

  private def string(row: InternalRow, ordinal: Int): String =
    if (row.isNullAt(ordinal)) null else row.getUTF8String(ordinal).toString
}
