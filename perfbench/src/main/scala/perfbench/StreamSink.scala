package perfbench

import graft.config.{SinkConfig, TableMapping}
import graft.ingest.{LocalTableIngestClient, ManagedStreamingIngestClient}
import graft.pipeline.{KqlTransform, KustoSparkPipeline, SinkMetrics}
import java.nio.file.Path
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** `sink-stream`: an open loop at a fixed rate R through
  * `KustoSparkPipeline.start`. Spark's `rate` source keeps P partitions
  * fixed and stamps every row with its scheduled creation time, so a
  * stall shows as latency on the rows that waited, not as a slower
  * generator. The `telemetry` topic passes an in-flight `KqlTransform`
  * (where + extend); every mapping ingests with `streaming=true` through
  * `ManagedStreamingIngestClient`.
  *
  * A record's sequence number is the rate source's `value`; kafka
  * partition = seq mod P and offset = seq div P, so a staged file's last
  * offset names the record it was waiting for.
  */
final class StreamSink extends Workload {
  import StreamSink._

  private var running: Option[Run] = None

  /** Start a stream and wait until it has run its first micro-batch:
    * query and source initialisation, planning, WAL and offset commit, and
    * a `foreachBatch` call into the pipeline. That first batch is empty: the
    * rate source releases rows on whole-second ticks after it is created,
    * so the first batch with rows carries one or more seconds of them
    * depending on how the start-up falls against the tick; it is left out
    * of set-up so the figure does not jump by that phase. The stream the
    * previous set-up left running is stopped by `close`, untimed. */
  def setup(env: Env): Unit = {
    running = Some(start(env, observe = false))
    val q = running.get.query
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (q.recentProgress.isEmpty && q.isActive && System.nanoTime() < deadline) Thread.sleep(2)
    q.exception.foreach(e => throw e)
  }

  private def start(env: Env, observe: Boolean): Run = {
    val spark = env.spark
    val landed = env.fresh("landed")
    val stage = env.fresh("stage")
    val root = landed.toString
    val config = SinkConfig(
      mappings = Seq(
        TableMapping("telemetry", Db, "telemetry", "json", streaming = true),
        TableMapping("metrics", Db, "metrics", "csv", streaming = true),
        TableMapping("*", Db, "catchall", "json", streaming = true)),
      tempDir = stage.toString)
    val metrics = SinkMetrics.forSpark(spark)
    val pipeline = new KustoSparkPipeline(config,
      () => new TimedIngestClient(new ManagedStreamingIngestClient(
        new LocalTableIngestClient(root), new LocalTableIngestClient(root))), None, metrics)
    val src = source(env, Rate)
    val shaped = KqlTransform(src, "telemetry", TelemetrySchema, Transform)
    val out = if (observe) shaped.observe("transform_out", count(when(isTelemetry, 1)).as("n")) else shaped
    IngestLog.clear()
    val q = pipeline.start(out, env.fresh("checkpoint").toString)
    Run(landed, stage, q, metrics)
  }

  private def isTelemetry: Column = col("topic") === "telemetry" && col("value").isNotNull

  private def awaitFirstData(q: StreamingQuery): Unit = {
    val deadline = System.nanoTime() + 60L * 1000000000L
    def hasData = q.recentProgress.exists(_.numInputRows > 0)
    while (!hasData && q.isActive && System.nanoTime() < deadline) Thread.sleep(5)
    q.exception.foreach(e => throw e)
  }

  private def stop(env: Env, r: Run): Unit = {
    r.query.stop()
    // stop() returns once the query thread ends; wait for cancelled tasks too
    val tracker = env.spark.sparkContext.statusTracker
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (tracker.getActiveJobIds().nonEmpty && System.nanoTime() < deadline) Thread.sleep(10)
  }

  def pass(env: Env, traced: Boolean): Pass = {
    val r = running.getOrElse(start(env, observe = traced))
    running = None
    awaitFirstData(r.query)
    Thread.sleep((Warmup * 1000).toLong)
    if (traced) { Trace.enabled = true; env.layer.reset() }
    val w0 = System.currentTimeMillis()
    val root = Trace.newId()
    Trace.ambientParent = root
    // a traced run makes two passes (untraced, traced); each gets half the
    // window so the run stays inside its time limit
    Thread.sleep((env.opts.seconds * (if (env.opts.trace) 500 else 1000)).toLong)
    val w1 = System.currentTimeMillis()
    Trace.record("stream.window", 0, w0 * 1000, w1 * 1000, id = root)
    val progress = r.query.recentProgress.toSeq
    val failure = r.query.exception
    stop(env, r)
    val sparkLayer = if (traced) { env.layer.drain(); env.layer.metrics() } else Map.empty[String, Double]
    val calls = IngestLog.all
    val R = Rate
    val P = env.opts.partitions

    // -- correctness, outside the measured window --
    val check0 = System.nanoTime()
    val committedSecs = progress.lastOption.map(p => p.sources.head.endOffset.trim.toLong).getOrElse(0L)
    val committed = committedSecs * R
    val seqOf = (c: IngestCall) => c.lastOffset * P + c.partition
    val okCalls = calls.filter(_.ok)
    // a batch covers whole seconds of the source, so every staged file lies
    // entirely at or below the committed offset or entirely above it
    val ingestedCommitted = okCalls.filter(c => seqOf(c) < committed).map(_.records).sum
    val landedFiles = Env.filesUnder(r.landed)
    val leftover = Env.filesUnder(r.stage)
    val t0 = creationMs(r.landed, R)
    val tsOf = (seq: Long) => t0 + seq * 1000.0 / R
    val inBatches = progress.filter { p =>
      val t = java.time.Instant.parse(p.timestamp).toEpochMilli
      t >= w0 && t < w1
    }
    val (lo, hi) =
      if (inBatches.isEmpty) (0L, 0L)
      else (inBatches.head.sources.head.startOffset.trim.toLong * R,
        inBatches.last.sources.head.endOffset.trim.toLong * R)
    val seqLo = math.ceil((w0 - t0) * R / 1000.0).toLong
    val seqHi = math.ceil((w1 - t0) * R / 1000.0).toLong
    val counts = expectedCounts(env, math.max(math.max(committed, hi), seqHi),
      Seq((0L, committed), (seqLo, seqHi), (lo, hi)), (lo, hi))
    val Seq(liveCommitted, due, processed, telemetryIn) = counts
    Env.deleteTree(r.landed)
    val windowS = (w1 - w0) / 1e3
    val inWindow = okCalls.filter(c => c.endWallMs >= w0 && c.endWallMs < w1)
    val latMs = inWindow.map(c => c.endWallMs - tsOf(seqOf(c)))
    val delivered = inWindow.map(_.records).sum.toDouble
    val missing = math.max(0L, liveCommitted - ingestedCommitted)
    val extra = math.max(0L, ingestedCommitted - liveCommitted)
    val checks = Seq(
      Check("stream.no_failure", failure.isEmpty, failure.map(_.toString).getOrElse("")),
      Check("stream.committed_batches", committed > 0, s"committed_seq=$committed"),
      Check("stream.committed_records_ingested", missing == 0 && extra == 0,
        s"ingested=$ingestedCommitted expected=$liveCommitted live records at or below the committed offset"),
      Check("stream.files_landed", landedFiles == okCalls.size,
        s"landed_files=$landedFiles ingest_calls=${okCalls.size}"),
      Check("stream.no_staged_files_left", leftover == 0, s"files_left=$leftover"),
      Check("stream.ingest_calls_ok", calls.forall(_.ok), s"failed_calls=${calls.count(!_.ok)}"),
      Check("stream.latency_samples", latMs.size > 10, s"files_in_window=${latMs.size}"))
    val rows = progress.map(batchRow(_, t0, R))
    // records the window's batches ingested, per second those batches ran
    val busyS = inBatches.map(_.batchDuration).sum / 1e3
    val e2e = Map(
      "throughput_per_s" -> (if (busyS > 0) processed / busyS else 0.0),
      "latency_p50_ms" -> Stats.median(latMs),
      "latency_tail_ms" -> Stats.tail(latMs))
    val layers =
      if (!traced) Map.empty[String, Double]
      else {
        inBatches.foreach { p =>
          val t = java.time.Instant.parse(p.timestamp).toEpochMilli
          Trace.record("streaming.batch", root, t * 1000, (t + p.batchDuration) * 1000,
            Map("batch" -> p.batchId, "rows" -> p.numInputRows))
        }
        val snap = r.metrics.snapshot
        def d(k: String) = Stats.median(inBatches.map(p =>
          Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)))
        def observed(name: String) = inBatches.flatMap(p =>
          Option(p.observedMetrics.get(name)).map(_.getLong(0))).sum.toDouble
        sparkLayer ++ Layers.sinkAndIngest(inWindow) ++ Map(
          "sources.lag_rows" -> Stats.median(rows.map(_("lag_rows").asInstanceOf[Double])),
          "pipeline.process_batch_s" -> d("addBatch") / 1e3,
          "pipeline.records_written" -> snap("records-written").toDouble,
          "pipeline.records_failed" -> snap("records-failed").toDouble,
          "pipeline.transform_rows_in" -> telemetryIn.toDouble,
          "pipeline.transform_rows_out" -> observed("transform_out"),
          "streaming.batch_ms_p50" -> Stats.median(inBatches.map(_.batchDuration.toDouble)),
          "streaming.batch_ms_p99" -> Stats.quantile(inBatches.map(_.batchDuration.toDouble), 0.99),
          "streaming.add_batch_ms" -> d("addBatch"),
          "streaming.query_planning_ms" -> d("queryPlanning"),
          "streaming.wal_commit_ms" -> d("walCommit"),
          "streaming.commit_offsets_ms" -> d("commitOffsets"),
          "streaming.latest_offset_ms" -> d("latestOffset"),
          "streaming.get_batch_ms" -> d("getBatch"))
      }
    val attempted = liveCommitted + calls.size
    val failed = missing + extra + calls.count(!_.ok)
    Pass(e2e, layers,
      detail = Seq(
        ("sink_latency_p50_ms", Stats.median(latMs), "ms"),
        ("sink_latency_p99_ms", Stats.tail(latMs), "ms"),
        ("sink_latency_p99_rank", Stats.tailRank(latMs.size), "quantile"),
        ("sink_latency_samples", latMs.size.toDouble, "count"),
        ("sink_delivered_frac", if (due > 0) delivered / due else 0.0, "ratio"),
        ("sink_delivered_per_s", delivered / windowS, "1/s"),
        ("rate_rows_per_s", R.toDouble, "1/s"),
        ("batches_in_window", inBatches.size.toDouble, "count"),
        ("ingested_records", okCalls.map(_.records).sum.toDouble, "count"),
        ("check_s", (System.nanoTime() - check0) / 1e9, "s"),
        ("failed_frac", if (attempted > 0) failed.toDouble / attempted else 0.0, "ratio")),
      rows = rows,
      attempted = attempted, failed = failed, checks = checks)
  }

  private def batchRow(p: StreamingQueryProgress, t0: Double, R: Int): Map[String, Any] = {
    val t = java.time.Instant.parse(p.timestamp).toEpochMilli
    val end = p.sources.head.endOffset.trim.toLong * R
    val due = math.max(0.0, (t - t0) * R / 1000.0)
    Map("batch" -> p.batchId, "trigger_ms" -> t, "batch_ms" -> p.batchDuration,
      "rows" -> p.numInputRows, "end_seq" -> end, "lag_rows" -> math.max(0.0, due - end)) ++
      p.durationMs.asScala.map { case (k, v) => s"d_$k" -> v.longValue }
  }

  /** Creation time of seq 0, from one landed JSON file: the rate source
    * stamps row `seq` at creation + seq * 1000 / R ms. */
  private def creationMs(landed: Path, R: Int): Double = {
    val dir = landed.resolve(Db).resolve("telemetry")
    val file = java.nio.file.Files.list(dir).iterator().asScala.find(_.toString.endsWith(".json.gz"))
    val Pair = "\"seq\":(\\d+),\"ts_ms\":(\\d+)".r
    file.map { f =>
      val in = new java.util.zip.GZIPInputStream(java.nio.file.Files.newInputStream(f))
      try {
        val offsets = scala.io.Source.fromInputStream(in, "UTF-8").getLines().take(1000)
          .flatMap(l => Pair.findFirstMatchIn(l)).map(m => m.group(2).toDouble - m.group(1).toLong * 1000.0 / R)
          .toSeq
        Stats.median(offsets)
      } finally in.close()
    }.getOrElse(0.0)
  }

  /** Live records that must land (not tombstones, not removed by the
    * transform's `where`) in each [from, until) seq range, plus the live
    * telemetry records (the transform's input) in `telemetry`; one job. */
  private def expectedCounts(env: Env, n: Long, ranges: Seq[(Long, Long)],
                             telemetry: (Long, Long)): Seq[Long] = {
    val recs = records(env.spark.range(0, n).select(col("id").as("value"),
      current_timestamp().as("timestamp")), env.opts.seed, env.opts.partitions)
    val live = col("value").isNotNull
    val lands = live && !(col("topic") === "telemetry" && col("level") === "debug")
    def in(r: (Long, Long)) = col("seq") >= r._1 && col("seq") < r._2
    val aggs = ranges.map(r => count(when(lands && in(r), 1))) :+
      count(when(live && col("topic") === "telemetry" && in(telemetry), 1))
    val row = recs.agg(aggs.head, aggs.tail: _*).head()
    aggs.indices.map(row.getLong)
  }

  override def close(env: Env): Unit = {
    running.foreach(stop(env, _))
    running = None
  }
}

object StreamSink {
  /** One started stream: its directories and query. */
  final case class Run(landed: Path, stage: Path, query: StreamingQuery, metrics: SinkMetrics)

  val Db = "bench"
  /** Seconds discarded after start before the window opens. */
  val Warmup = 6.0
  /** Open-loop rate, rows/s. The source releases rows once a second, so a
    * batch that takes longer than a second makes the next one carry two
    * seconds of rows, and latency jumps. On a loaded four-core machine a
    * 10k-row batch took about a second (unloaded, 80k rows/s kept up); at
    * 5k a batch stays well inside the second, so latency follows the
    * per-batch cost instead of the tick. */
  val Rate = 5000

  val TelemetrySchema: StructType = StructType(Seq(
    StructField("seq", LongType), StructField("ts_ms", LongType), StructField("device", StringType),
    StructField("level", StringType), StructField("temp", DoubleType)))
  val Transform = "telemetry | where level != 'debug' | extend temp_f = temp * 1.8 + 32"


  def source(env: Env, rowsPerSecond: Int): DataFrame = {
    val raw = env.spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSecond.toString)
      .option("numPartitions", env.opts.partitions.toString)
      .load()
    records(raw, env.opts.seed, env.opts.partitions)
      .select("topic", "partition", "offset", "key", "value")
  }

  /** Rate rows (value, timestamp) → kafka-schema records, plus the `seq`
    * and `level` columns the correctness check filters on. 60% telemetry
    * (JSON, a quarter of it `debug`), 30% metrics (CSV), 10% spread over
    * unmapped topics; about 5% of all values are tombstones. */
  def records(rate: DataFrame, seed: Long, partitions: Int): DataFrame = {
    def h(salt: Int, m: Int) = pmod(xxhash64(col("value"), lit(seed * 31 + salt)), lit(m))
    val seq = col("value")
    val tsMs = unix_millis(col("timestamp"))
    val route = h(1, 100)
    val level = element_at(array(lit("debug"), lit("info"), lit("warn"), lit("error")), (h(3, 4) + 1).cast("int"))
    val topic = when(route < 60, lit("telemetry")).when(route < 90, lit("metrics"))
      .otherwise(concat(lit("misc-"), h(4, 3)))
    val value =
      when(route < 60, to_json(struct(seq.as("seq"), tsMs.as("ts_ms"),
        concat(lit("dev-"), h(5, 5000)).as("device"), level.as("level"), (h(6, 4000) / 100.0).as("temp"))))
      .when(route < 90, concat_ws(",", seq, tsMs, concat(lit("host-"), h(7, 64)),
        (h(8, 10000) / 100.0).cast("string")))
      .otherwise(to_json(struct(seq.as("seq"), tsMs.as("ts_ms"), sha1(seq.cast("string")).as("payload"))))
    rate.select(
      seq.as("seq"), level.as("level"), topic.as("topic"),
      pmod(seq, lit(partitions)).cast("int").as("partition"),
      expr(s"value div $partitions").as("offset"),
      lit(null).cast("binary").as("key"),
      when(h(2, 100) < 5, lit(null)).otherwise(value).cast("binary").as("value"))
  }
}
