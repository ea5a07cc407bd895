package perfbench

import graft.config.{SinkConfig, TableMapping}
import graft.ingest.LocalTableIngestClient
import graft.pipeline.{KustoSparkPipeline, SinkMetrics}
import graft.sink.{FormatWriters, RollingFileWriter, SinkRecord}
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import scala.jdk.CollectionConverters._

/** Backfill probe: a closed loop with one caller. Each step runs
  * `KustoSparkPipeline.processBatch` over a kafka-schema table staged in
  * memory at set-up time, so the per-record path (Row → SinkRecord, route,
  * encode, gzip, byte counting) dominates and scheduling is amortized.
  * Traced `sink-stream` runs use it for the per-record layer figures
  * (encode stage, source scan, processBatch rate) and, run again at
  * `local[1]`, for the scaling ratio. `seconds` overrides the run length.
  *
  * Input: `Records` records over P kafka partitions and four routes —
  * `orders` (JSON), `metrics` (CSV), `events` (Avro with a writer schema),
  * and `misc-*` topics the `*` wildcard routes to `catchall` — with about
  * 5% tombstones. Every value is a deterministic function of the seed.
  */
final class Backfill(seconds: Option[Double] = None) extends Workload {
  import Backfill._

  private var staged: DataFrame = _
  private var avroSchema: String = _
  private var expected: Map[String, Long] = Map.empty

  def setup(env: Env): Unit = {
    val (df, schema) = stage(env, Records)
    staged = df.persist(StorageLevel.MEMORY_ONLY)
    avroSchema = schema
    expected = staged.filter(col("value").isNotNull).groupBy("topic").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).groupMapReduce(kv => tableOf(kv._1))(_._2)(_ + _)
  }

  private def config(env: Env): SinkConfig = SinkConfig(
    mappings = Seq(
      TableMapping("orders", Db, "orders", "json"),
      TableMapping("metrics", Db, "metrics", "csv"),
      TableMapping("events", Db, "events", "avro", valueSchema = Some(avroSchema)),
      TableMapping("*", Db, "catchall", "json")),
    tempDir = env.fresh("stage").toString)

  private def pipeline(env: Env, landed: Path, metrics: SinkMetrics): KustoSparkPipeline = {
    val root = landed.toString
    new KustoSparkPipeline(config(env),
      () => new TimedIngestClient(new LocalTableIngestClient(root)), None, metrics)
  }

  def pass(env: Env, traced: Boolean): Pass = {
    val spark = env.spark
    val live = expected.values.sum
    var checks = Vector.empty[Check]
    var failed = 0L
    var attempted = 0L
    // warm-up: JIT and first-use class loading, not measured
    val warm0 = System.nanoTime()
    var w = 0
    while (w < 1 || (System.nanoTime() - warm0) / 1e9 < Warmup) {
      val (landed, _, _) = runBatch(env, -1 - w, SinkMetrics.forSpark(spark))
      Env.deleteTree(landed)
      w += 1
    }
    if (traced) { Trace.enabled = true; env.layer.reset() }
    val t0 = System.nanoTime()
    val batchSecs = Vector.newBuilder[Double]
    val fileLatMs = Vector.newBuilder[Double]
    val calls = Vector.newBuilder[IngestCall]
    val metrics = SinkMetrics.forSpark(spark)
    var batch = 0
    var broken = false
    var firstLanded = Option.empty[Path]
    val minBatches = if (env.opts.baseline) 2 else MinBatches
    val runFor = seconds.getOrElse(env.opts.seconds)
    while (!broken && (batch < minBatches || (System.nanoTime() - t0) / 1e9 < runFor)) {
      val (landed, secs, batchCalls) =
        try runBatch(env, batch, metrics)
        catch { case e: Exception =>
          broken = true
          checks :+= Check(s"backfill.batch$batch.completed", ok = false, e.toString)
          (env.work, 0.0, IngestLog.all)
        }
      batchSecs += secs
      val start = batchCalls.map(_.startNs).minOption.getOrElse(0L)
      calls ++= batchCalls
      // check outside the timed region: every live record routed to a
      // table was staged and ingested there, and no tombstone was
      val byTable = batchCalls.filter(_.ok).groupMapReduce(_.table)(_.records)(_ + _)
      val ok = byTable == expected
      attempted += live
      failed += expected.map { case (t, n) => math.max(0L, n - byTable.getOrElse(t, 0L)) }.sum +
        batchCalls.count(!_.ok)
      checks :+= Check(s"backfill.batch$batch.ingested_per_table", ok,
        s"ingested=$byTable expected=$expected")
      if (batch == 0 && !broken) firstLanded = Some(landed)
      else if (!broken) Env.deleteTree(landed)
      batch += 1
      fileLatMs ++= batchCalls.map(c => (c.endNs - start) / 1e6)
    }
    val sparkLayer = if (traced) { env.layer.drain(); env.layer.metrics() } else Map.empty[String, Double]
    val secs = batchSecs.result()
    val snap = metrics.snapshot
    checks :+= Check("backfill.records_written", snap("records-written") == live * batch,
      s"records-written=${snap("records-written")} expected=${live * batch}")
    checks :+= Check("backfill.records_failed", snap("records-failed") == 0,
      s"records-failed=${snap("records-failed")}")
    val lat = fileLatMs.result()
    val rate = Stats.median(secs.map(live / _))
    val e2e = Map(
      "throughput_per_s" -> rate,
      "latency_p50_ms" -> Stats.median(lat),
      "latency_tail_ms" -> Stats.tail(lat))
    val allCalls = calls.result()
    val layers =
      if (!traced) Map.empty[String, Double]
      else {
        sparkLayer ++ Layers.sinkAndIngest(allCalls) ++ Map(
          "pipeline.process_batch_s" -> Stats.median(secs),
          "pipeline.records_written" -> snap("records-written").toDouble,
          "pipeline.records_failed" -> snap("records-failed").toDouble,
          "sources.scan_s" -> scanSeconds(env)) ++ encodeStage(env)
      }
    firstLanded.foreach { l => checks ++= readBack(env, l); Env.deleteTree(l) }
    Pass(e2e, layers,
      detail = Seq(
        ("sink_records_per_s", rate, "1/s"),
        ("batches", batch.toDouble, "count"),
        ("records_per_batch", live.toDouble, "count"),
        ("file_latency_samples", lat.size.toDouble, "count"),
        ("file_latency_tail_rank", Stats.tailRank(lat.size), "quantile"),
        ("failed_frac", if (attempted > 0) failed.toDouble / attempted else 0.0, "ratio")),
      attempted = attempted, failed = failed, checks = checks)
  }

  /** One processBatch call into a fresh landing root. */
  private def runBatch(env: Env, batchId: Int, metrics: SinkMetrics): (Path, Double, Seq[IngestCall]) = {
    val landed = env.fresh(s"landed-b$batchId")
    val p = pipeline(env, landed, metrics)
    IngestLog.clear()
    val (_, secs) = env.timed {
      Trace.span("pipeline.process_batch", Map("batch" -> batchId)) {
        Trace.ambientParent = Trace.current
        p.processBatch(staged, batchId.toLong)
      }
    }
    (landed, secs, IngestLog.all)
  }

  /** Reads the landed files back: row counts per table equal the live
    * records routed there. */
  private def readBack(env: Env, landed: Path): Seq[Check] = {
    val spark = env.spark
    expected.toSeq.sortBy(_._1).map { case (table, n) =>
      val dir = landed.resolve(Db).resolve(table)
      val got =
        if (table == "events") avroRecords(dir)
        else spark.read.text(dir.toString).count()
      Check(s"backfill.landed_rows.$table", got == n, s"landed=$got expected=$n")
    }
  }

  private def avroRecords(dir: Path): Long = {
    val files = Files.list(dir).iterator().asScala.toSeq
    files.map { f =>
      val in = new java.util.zip.GZIPInputStream(Files.newInputStream(f))
      try {
        val s = new org.apache.avro.file.DataFileStream[Object](in,
          new org.apache.avro.generic.GenericDatumReader[Object]())
        var n = 0L
        while (s.hasNext) { s.next(); n += 1 }
        n
      } finally in.close()
    }.sum
  }

  /** Median of three `noop` scans of the staged input: the source's share. */
  private def scanSeconds(env: Env): Double = Stats.median((1 to 3).map { _ =>
    env.timed(Trace.span("sources.scan") {
      staged.write.format("noop").mode("overwrite").save()
    })._2
  })

  /** Encode + gzip + stage through RollingFileWriter directly, on a sample
    * of this workload's own records, one format at a time. */
  private def encodeStage(env: Env): Map[String, Double] = {
    val dir = env.fresh("encode").toString
    Seq("orders" -> "json", "metrics" -> "csv", "events" -> "avro").map { case (topic, fmt) =>
      val rows = staged.filter(col("topic") === topic && col("value").isNotNull)
        .select("partition", "offset", "value").limit(EncodeSample).collect()
      val recs = rows.map((r: Row) => SinkRecord(topic, r.getInt(0), r.getLong(1), null, r.getAs[Array[Byte]](2)))
      val provider = FormatWriters.forFormat(fmt, if (fmt == "avro") Some(avroSchema) else None)
      val secs = env.timed(Trace.span(s"sink.encode_stage.$fmt") {
        val w = new RollingFileWriter(dir, topic, 0, provider, SinkConfig.DefaultFlushSizeBytes,
          SinkConfig.DefaultFlushIntervalMs, f => { Files.deleteIfExists(Path.of(f.path)); () })
        try recs.foreach(w.write) finally w.close()
      })._2
      s"sink.encode_stage_s.$fmt" -> secs
    }.toMap
  }

  override def close(env: Env): Unit = if (staged != null) {
    staged.unpersist(blocking = true)
    staged = null
  }
}

object Backfill {
  val Records: Long = 300000L
  val MinBatches = 3
  /** Seconds of unmeasured batches before each pass. */
  val Warmup = 3.0
  val EncodeSample = 200000
  val Db = "bench"

  def tableOf(topic: String): String =
    if (topic.startsWith("misc-")) "catchall" else topic

  /** The kafka-schema input: one union branch per route, so every Spark
    * partition holds one topic-partition, as a Kafka source delivers it. */
  def stage(env: Env, n: Long): (DataFrame, String) = {
    val spark = env.spark
    val seed = env.opts.seed
    def h(salt: Int, m: Int) = pmod(xxhash64(col("id"), lit(seed * 31 + salt)), lit(m))
    val base = spark.range(0, n, 1, env.opts.partitions).select(
      col("id"), spark_partition_id().as("partition"), h(1, 100).as("route"), h(2, 100).as("tomb"))
    def branch(lo: Int, hi: Int) = base.filter(col("route") >= lo && col("route") < hi)
    def kafka(df: DataFrame, topic: Column, value: Column) = df.select(
      topic.as("topic"), col("partition"), col("id").as("offset"), lit(null).cast("binary").as("key"),
      when(col("tomb") < 5, lit(null)).otherwise(value).cast("binary").as("value"))
    val ts = lit(1700000000000L) + col("id") * 7
    val orders = kafka(branch(0, 35), lit("orders"), to_json(struct(
      col("id"), h(3, 150000).as("cust"), (h(4, 5000000) / 100.0).as("price"),
      element_at(array(lit("F"), lit("O"), lit("P")), (h(5, 3) + 1).cast("int")).as("status"),
      ts.as("ts"), concat(lit("order "), col("id"), lit(" for customer "), h(3, 150000)).as("note"))))
    val metrics = kafka(branch(35, 70), lit("metrics"), concat_ws(",",
      col("id"), concat(lit("host-"), h(6, 64)), (h(7, 10000) / 100.0).cast("string"),
      (h(8, 65536) * 1024).cast("string"), ts.cast("string"), concat(lit("region-"), h(9, 8)), lit("ok")))
    val eventsData = branch(70, 90).select(
      lit("events").as("topic"), col("partition"), col("id").as("offset"),
      lit(null).cast("binary").as("key"), col("tomb"),
      col("id").as("event_id"), h(10, 1500).as("user"),
      element_at(array(lit("click"), lit("view"), lit("purchase"), lit("signup")),
        (h(11, 4) + 1).cast("int")).as("kind"),
      (h(12, 100000) / 100.0).as("amount"), ts.as("ts"))
    val (encoded, schema) = graft.sink.AvroEncode.encode(eventsData,
      passthrough = Seq("topic", "partition", "offset", "key", "tomb"))
    val events = encoded.select(col("topic"), col("partition"), col("offset"), col("key"),
      when(col("tomb") < 5, lit(null)).otherwise(col("value")).cast("binary").as("value"))
    val misc = kafka(branch(90, 100), concat(lit("misc-"), h(13, 4)), to_json(struct(
      col("id"), lit("misc").as("src"), sha1(col("id").cast("string")).as("payload"))))
    (orders.unionByName(metrics).unionByName(events).unionByName(misc), schema)
  }

  private type Column = org.apache.spark.sql.Column
}
