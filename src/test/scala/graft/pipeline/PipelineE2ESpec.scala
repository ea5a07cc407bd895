package graft.pipeline

import graft.config.{ErrorBehavior, SinkConfig, TableMapping}
import graft.ingest._
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The SURVEY §7 minimum end-to-end slice: memory source (kafka-source
  * schema) → tombstone filter → router → JSON-lines encode → gzip stage →
  * local-table ingest → offsets gate → Q2-style verification query over
  * what was ingested. Mirrors the reference's KustoSinkIT flow without
  * network. Also covers wildcard routing and the offset gate under a
  * failing sink.
  */
/** LocalTableIngestClient wrapped with a scripted shared success budget:
  * once the budget is exhausted every ingest throws a transient failure
  * (mirrors `KustoSinkTaskTest.java:254-304` close/open-cycle offset
  * safety, driven through a real checkpoint restart instead). Registry
  * keyed by id — local-mode tests share one JVM with their executors. */
final class FlakyLocal(id: String, root: String) extends graft.ingest.IngestClient {
  private val under = new LocalTableIngestClient(root)
  def ingest(file: graft.sink.StagedFile, target: IngestTarget): graft.ingest.IngestionStatus = {
    if (FlakyLocal.budget(id).getAndDecrement() <= 0)
      throw new graft.ingest.TransientIngestException("scripted outage")
    val st = under.ingest(file, target)
    FlakyLocal.successes(id).incrementAndGet()
    st
  }
}
object FlakyLocal {
  private val budgets = new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicInteger]
  private val wins = new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicInteger]
  def budget(id: String): java.util.concurrent.atomic.AtomicInteger =
    budgets.computeIfAbsent(id, _ => new java.util.concurrent.atomic.AtomicInteger(0))
  def successes(id: String): java.util.concurrent.atomic.AtomicInteger =
    wins.computeIfAbsent(id, _ => new java.util.concurrent.atomic.AtomicInteger(0))
  def reset(id: String): Unit = { budgets.remove(id); wins.remove(id) }
}

/** Every ingest throws a plain `RuntimeException` — neither transient nor
  * permanent, so the retry loop does not catch it. Calls are counted in a
  * registry keyed by id. */
final class DiskFullClient(id: String) extends graft.ingest.IngestClient {
  def ingest(file: graft.sink.StagedFile, target: IngestTarget): graft.ingest.IngestionStatus = {
    DiskFullClient.calls(id).incrementAndGet()
    throw new RuntimeException("disk full")
  }
}
object DiskFullClient {
  private val counts = new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicInteger]
  def calls(id: String): java.util.concurrent.atomic.AtomicInteger =
    counts.computeIfAbsent(id, _ => new java.util.concurrent.atomic.AtomicInteger(0))
}

class PipelineE2ESpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("pipeline-e2e")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private case class KRecord(topic: String, partition: Int, offset: Long,
                             key: Array[Byte], value: Array[Byte])
  // same column shape the Spark kafka source emits with includeHeaders=true
  private case class HRecord(topic: String, partition: Int, offset: Long,
                             key: Array[Byte], value: Array[Byte],
                             headers: Seq[(String, Array[Byte])])
  // nullable coordinates, for the null-metadata cases
  private case class NRecord(topic: String, partition: Option[Int], offset: Option[Long],
                             key: Array[Byte], value: Array[Byte])
  private def jsonRec(topic: String, partition: Int, offset: Long, vtype: String, vlong: Long): KRecord =
    KRecord(topic, partition, offset, null,
      s"""{"vtype":"$vtype","vlong":$vlong}""".getBytes(UTF_8))

  private def newConfig(extra: TableMapping*) = SinkConfig(
    mappings = Seq(TableMapping("topicA", "db1", "tableA"),
      TableMapping("topicB", "db1", "tableB", format = "csv")) ++ extra,
    flushSizeBytes = 150, flushIntervalMs = 0, // tiny: force several rolls
    maxRetryTimeMs = 20, retryBackoffMs = 10,
    tempDir = Files.createTempDirectory("e2e-stage").toString)

  test("end-to-end: memory stream → filters → route → gzip stage → ingest → verify query") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tablesRoot = Files.createTempDirectory("e2e-tables").toString
    val checkpoint = Files.createTempDirectory("e2e-ckpt").toString
    val metrics = SinkMetrics.forSpark(spark)

    val pipeline = new KustoSparkPipeline(
      newConfig(), () => new LocalTableIngestClient(tablesRoot), None, metrics)

    val stream = MemoryStream[KRecord]
    val records =
      (0 until 40).map(i => jsonRec("topicA", i % 2, i / 2, if (i % 4 == 0) "even" else "odd", i)) ++
        (0 until 10).map(i => jsonRec("topicB", 0, i, "b", i)) :+
        KRecord("topicA", 0, 999, "k".getBytes(UTF_8), null) // tombstone
    stream.addData(records)

    val q = pipeline.start(stream.toDF(), checkpoint)
    q.processAllAvailable()
    q.stop()

    // Ingested rows land under db/table as .json.gz — read them back
    val tableA = spark.read.json(s"$tablesRoot/db1/tableA")
    assert(tableA.count() == 40, "all live topicA records ingested; tombstone dropped")
    val tableB = spark.read.text(s"$tablesRoot/db1/tableB")
    assert(tableB.count() == 10)

    // Q2-style verification (reference IT assertion query,
    // KustoSinkIT.java:269-271): where vtype == 'even' | project vlong, pack_all()
    val verified = tableA.filter($"vtype" === "even")
      .select($"vlong", to_json(struct(tableA.columns.sorted.map(col): _*)).as("vresult"))
    assert(verified.count() == 10)
    assert(verified.select("vlong").as[Long].collect().sorted.sameElements(
      (0 until 40).filter(_ % 4 == 0).map(_.toLong)))

    // metrics surface
    val snap = metrics.snapshot
    assert(snap("records-written") == 50)
    assert(snap("ingestion-successes") > 0)
    assert(snap("ingestion-successes") == snap("ingestion-attempts"))
    assert(snap("records-failed") == 0 && snap("dlq-records-sent") == 0)
  }

  /** Reference-parity lenient JSON compare (`it/KustoSinkIT.java:470-487`):
    * JSONAssert LENIENT mode with per-field numeric tolerances — every
    * expected field must be present and matching in the actual record,
    * actual may carry extras, and fields with a named tolerance compare
    * numerically within it instead of textually (round-off through
    * serialize→ingest→query must not fail verification). */
  private def assertJsonLeniently(expected: String, actual: String,
                                  tolerances: Map[String, Double]): Unit = {
    import org.json4s._
    def fields(s: String): List[(String, JValue)] =
      org.json4s.jackson.JsonMethods.parse(s) match {
        case JObject(fs) => fs
        case other => fail(s"not a JSON object: $other")
      }
    val aMap = fields(actual).toMap
    fields(expected).foreach { case (k, ev) =>
      val av = aMap.getOrElse(k, fail(s"field '$k' missing from actual: $actual"))
      tolerances.get(k) match {
        case Some(tol) =>
          def num(v: JValue): Double = v match {
            case JDouble(d) => d
            case JDecimal(d) => d.toDouble
            case JInt(i) => i.toDouble
            case JLong(l) => l.toDouble
            case JString(s) => s.toDouble
            case other => fail(s"field '$k' is not numeric: $other")
          }
          val (e, a) = (num(ev), num(av))
          assert(math.abs(e - a) < tol, s"field '$k': $a not within $tol of $e")
        case None => assert(ev == av, s"field '$k': ${av} != ${ev}")
      }
    }
  }

  test("tolerance-based verify: decimal/real columns compare within reference IT tolerances") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tablesRoot = Files.createTempDirectory("e2e-tol").toString
    val checkpoint = Files.createTempDirectory("e2e-tol-ckpt").toString
    val pipeline = new KustoSparkPipeline(
      newConfig(), () => new LocalTableIngestClient(tablesRoot), None, SinkMetrics.forSpark(spark))
    val stream = MemoryStream[KRecord]
    // vdec/vreal carry round-off relative to the produced values — the
    // exact-equality verify loop would reject every one of these
    stream.addData((0 until 5).map(i => KRecord("topicA", 0, i, null,
      s"""{"vlong":$i,"vtype":"dec","vdec":$i.30000000002,"vreal":$i.10002}""".getBytes(UTF_8))))
    val q = pipeline.start(stream.toDF(), checkpoint)
    q.processAllAvailable()
    q.stop()

    // what the producer "expected": the unrounded values, WITHOUT vtype
    // (LENIENT: extra ingested fields are fine)
    val expected = (0 until 5).map(i => i.toLong ->
      s"""{"vlong":$i,"vdec":$i.3,"vreal":$i.1}""").toMap
    val actualLines = spark.read.text(s"$tablesRoot/db1/tableA").as[String].collect()
    assert(actualLines.length == 5)
    val tol = Map("vdec" -> 1e-9, "vreal" -> 1e-4) // vdec 1e-9 / vreal 1e-4, as in the reference IT
    actualLines.foreach { line =>
      val key = "\"vlong\":(\\d+)".r.findFirstMatchIn(line).get.group(1).toLong
      assertJsonLeniently(expected(key), line, tol)
    }
    // beyond-tolerance differences still fail loudly
    intercept[org.scalatest.exceptions.TestFailedException] {
      assertJsonLeniently("""{"vreal":0.2}""", """{"vreal":0.2002}""", tol)
    }
    intercept[org.scalatest.exceptions.TestFailedException] {
      assertJsonLeniently("""{"vdec":1.0}""", """{"vdec":1.000000002}""", tol)
    }
    // a field with no tolerance stays exact
    intercept[org.scalatest.exceptions.TestFailedException] {
      assertJsonLeniently("""{"vtype":"dec"}""", """{"vtype":"DEC"}""", tol)
    }
  }

  test("wildcard '*' mapping routes unmapped topics; no-mapping FAIL mode fails the batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tablesRoot = Files.createTempDirectory("e2e-wild").toString
    val cfgWild = SinkConfig(
      mappings = Seq(TableMapping("topicA", "db1", "tableA"),
        TableMapping("*", "db1", "catchall")),
      flushSizeBytes = 150, flushIntervalMs = 0, maxRetryTimeMs = 20, retryBackoffMs = 10,
      tempDir = Files.createTempDirectory("e2e-stage2").toString)
    val pipeline = new KustoSparkPipeline(
      cfgWild, () => new LocalTableIngestClient(tablesRoot), None, SinkMetrics.forSpark(spark))

    val stream = MemoryStream[KRecord]
    stream.addData(Seq(jsonRec("topicA", 0, 0, "a", 1), jsonRec("mystery", 0, 0, "m", 2)))
    val q = pipeline.start(stream.toDF(), Files.createTempDirectory("ck2").toString)
    q.processAllAvailable(); q.stop()
    assert(spark.read.json(s"$tablesRoot/db1/tableA").count() == 1)
    assert(spark.read.json(s"$tablesRoot/db1/catchall").count() == 1)

    // Without a wildcard, FAIL mode must fail the whole batch (offset gate)
    val cfgStrict = newConfig()
    val p2 = new KustoSparkPipeline(
      cfgStrict, () => new LocalTableIngestClient(tablesRoot), None, SinkMetrics.forSpark(spark))
    val s2 = MemoryStream[KRecord]
    s2.addData(Seq(jsonRec("unmapped", 0, 0, "x", 3)))
    val q2 = p2.start(s2.toDF(), Files.createTempDirectory("ck3").toString)
    val ex = intercept[StreamingQueryException] { q2.processAllAvailable() }
    assert(ex.getCause != null)
    q2.stop()
  }

  test("offset gate: failed ingest halts the query; restart re-processes (at-least-once)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tablesRoot = Files.createTempDirectory("e2e-gate").toString
    val checkpoint = Files.createTempDirectory("e2e-gate-ckpt").toString

    // Client that always fails transiently — retry budget 2 attempts
    val mockId = "e2e-gate"
    MockIngestClient.reset(mockId).failFirst = Int.MaxValue
    val cfg = newConfig()
    val failing = new KustoSparkPipeline(
      cfg, () => new MockIngestClient(mockId), None, SinkMetrics.forSpark(spark))

    val s1 = MemoryStream[KRecord]
    s1.addData(Seq(jsonRec("topicA", 0, 0, "a", 1), jsonRec("topicA", 0, 1, "a", 2)))
    val q1 = failing.start(s1.toDF(), checkpoint)
    intercept[StreamingQueryException] { q1.processAllAvailable() }
    q1.stop()
    assert(!Files.exists(java.nio.file.Path.of(checkpoint, "commits", "0")),
      "batch 0 must NOT be committed after a failed ingest")

    // Heal the sink and restart from the same checkpoint: the SAME records
    // re-process (at-least-once) because offsets never advanced.
    val healed = new KustoSparkPipeline(
      cfg, () => new LocalTableIngestClient(tablesRoot), None, SinkMetrics.forSpark(spark))
    val s2 = MemoryStream[KRecord]
    s2.addData(Seq(jsonRec("topicA", 0, 0, "a", 1), jsonRec("topicA", 0, 1, "a", 2)))
    val q2 = healed.start(s2.toDF(), checkpoint)
    q2.processAllAvailable(); q2.stop()
    assert(Files.exists(java.nio.file.Path.of(checkpoint, "commits", "0")))
    assert(spark.read.json(s"$tablesRoot/db1/tableA").count() == 2,
      "records ingested exactly the at-least-once way after recovery")
  }

  test("checkpoint restart: mid-batch ingest failure parks offsets; replay ingests everything at-least-once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tablesRoot = Files.createTempDirectory("e2e-restart").toString
    val checkpoint = Files.createTempDirectory("e2e-restart-ckpt").toString
    val cfg = newConfig() // flushIntervalMs=0: one file per record, many ingest calls per batch
    FlakyLocal.reset("restart")

    def pipeline() = new KustoSparkPipeline(
      cfg, () => new FlakyLocal("restart", tablesRoot), None, SinkMetrics.forSpark(spark))
    val batchA = (0 until 10).map(i => jsonRec("topicA", 0, i, "a", i))
    val batchB = (10 until 20).map(i => jsonRec("topicA", 0, i, "b", i))

    // Run 1: batch A (10 ingests) fully succeeds and commits; batch B gets
    // 3 successes and then only scripted transient failures — the query
    // dies MID-BATCH with some of batch B's files already ingested.
    FlakyLocal.budget("restart").set(13)
    val s1 = MemoryStream[KRecord]
    s1.addData(batchA)
    val q1 = pipeline().start(s1.toDF(), checkpoint)
    q1.processAllAvailable()
    s1.addData(batchB)
    intercept[StreamingQueryException] { q1.processAllAvailable() }
    q1.stop()

    assert(Files.exists(java.nio.file.Path.of(checkpoint, "commits", "0")),
      "batch A committed before the failure")
    assert(!Files.exists(java.nio.file.Path.of(checkpoint, "commits", "1")),
      "offsets must never pass a failed file: batch B uncommitted")
    assert(spark.read.json(s"$tablesRoot/db1/tableA").select("vlong").distinct().count() == 13,
      "partial batch B ingested pre-crash (10 + 3 records)")

    // Run 2: heal the sink, restart from the SAME checkpoint with the same
    // source content. Batch A (committed) is NOT re-read; batch B replays
    // from the start — its 3 pre-crash records ingest a second time.
    FlakyLocal.budget("restart").set(Int.MaxValue)
    val s2 = MemoryStream[KRecord]
    s2.addData(batchA)
    s2.addData(batchB)
    val q2 = pipeline().start(s2.toDF(), checkpoint)
    q2.processAllAvailable(); q2.stop()

    assert(Files.exists(java.nio.file.Path.of(checkpoint, "commits", "1")))
    val after = spark.read.json(s"$tablesRoot/db1/tableA")
    assert(after.select("vlong").distinct().count() == 20, "every record ingested at least once")
    assert(after.count() == 20, "local table is idempotent by staged-file name")
    assert(FlakyLocal.successes("restart").get() == 23,
      "at-least-once: 10 (batch A) + 3 (pre-crash B) + 10 (B replayed) successful ingests")
  }

  test("avro mappings: schema'd values frame into container files; schemaless avro rolls per record") {
    import org.apache.avro.file.{DataFileReader, SeekableByteArrayInput}
    import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
    import org.apache.spark.sql.types._
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tablesRoot = Files.createTempDirectory("e2e-avro").toString

    val st = StructType(Seq(StructField("vlong", LongType, nullable = false),
      StructField("vtype", StringType, nullable = true)))
    val avroSchema = graft.sink.AvroEncode.toAvroSchema(st)
    def datum(i: Long): Array[Byte] =
      graft.sink.AvroEncode.encodeRow(org.apache.spark.sql.Row(i, s"t$i"), avroSchema)

    val cfg = SinkConfig(
      mappings = Seq(
        TableMapping("framed", "db1", "framed", format = "avro",
          valueSchema = Some(avroSchema.toString)),
        TableMapping("rawavro", "db1", "rawavro", format = "avro")),
      flushSizeBytes = 1 << 20, flushIntervalMs = 300000, // large: only format rules roll
      maxRetryTimeMs = 20, retryBackoffMs = 10,
      tempDir = Files.createTempDirectory("e2e-avro-stage").toString)
    val pipeline = new KustoSparkPipeline(
      cfg, () => new LocalTableIngestClient(tablesRoot), None, SinkMetrics.forSpark(spark))

    val stream = MemoryStream[KRecord]
    stream.addData(
      (0L until 5L).map(i => KRecord("framed", 0, i, null, datum(i))) ++
        (0L until 3L).map(i => KRecord("rawavro", 0, i, null, datum(i))))
    val q = pipeline.start(stream.toDF(), Files.createTempDirectory("ck-avro").toString)
    q.processAllAvailable(); q.stop()

    // framed: ONE container file holding all 5 datums, readable end-to-end
    val framedFiles = Files.list(java.nio.file.Path.of(tablesRoot, "db1", "framed")).toList
    assert(framedFiles.size() == 1, "large flush size: all 5 records in one staged container")
    val bytes = new java.util.zip.GZIPInputStream(
      Files.newInputStream(framedFiles.get(0))).readAllBytes()
    val reader = new DataFileReader[GenericRecord](
      new SeekableByteArrayInput(bytes), new GenericDatumReader[GenericRecord]())
    val got = Iterator.continually(reader).takeWhile(_.hasNext).map(_.next())
      .map(r => (r.get("vlong").asInstanceOf[Long], r.get("vtype").toString)).toSeq
    assert(got == (0L until 5L).map(i => (i, s"t$i")))

    // avro-as-bytes: one staged file PER record despite the large flush size
    assert(Files.list(java.nio.file.Path.of(tablesRoot, "db1", "rawavro")).count() == 3)
  }

  test("registry-framed avro source decodes in a streaming pipeline across schema versions") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val st = StructType(Seq(StructField("vlong", LongType, nullable = false),
      StructField("vtype", StringType, nullable = true)))
    val v1 = graft.sink.AvroEncode.toAvroSchema(st)
    val stV2 = StructType(st.fields :+ StructField("region", StringType, nullable = true))
    val v2 = graft.sink.AvroEncode.toAvroSchema(stV2)
    def framed(id: Int, s: org.apache.avro.Schema, vals: Any*): Array[Byte] =
      graft.sources.AvroDecode.frameConfluent(id,
        graft.sink.AvroEncode.encodeRow(org.apache.spark.sql.Row(vals: _*), s))

    val stream = MemoryStream[KRecord]
    stream.addData(Seq(
      KRecord("t", 0, 0, null, framed(1, v1, 1L, "a")),
      KRecord("t", 0, 1, null, framed(2, v2, 2L, "b", "eu")),
      KRecord("t", 0, 2, null, null))) // tombstone: dropped before decode
    val decoded = graft.sources.AvroDecode.decodeConfluent(
      stream.toDF(), readerSchemaJson = v2.toString,
      writerSchemasById = Map(1 -> v1.toString, 2 -> v2.toString),
      passthrough = Seq("offset"))
    val q = decoded.writeStream.format("memory").queryName("regdecode")
      .option("checkpointLocation", Files.createTempDirectory("ck-reg").toString).start()
    q.processAllAvailable(); q.stop()

    val rows = spark.table("regdecode").orderBy("offset").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3)))
    // v1 record resolves against the v2 reader schema with a null default
    assert(rows.toSeq == Seq((0L, 1L, "a", null), (1L, 2L, "b", "eu")))
  }

  test("kafka headers ride through the pipeline and land in DLQ metadata") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tablesRoot = Files.createTempDirectory("e2e-hdr").toString
    InMemoryDlq.reset("e2e-hdr")
    val cfg = SinkConfig(
      mappings = Seq(TableMapping("topicA", "db1", "tableA")),
      flushSizeBytes = 150, flushIntervalMs = 0, maxRetryTimeMs = 20, retryBackoffMs = 10,
      behaviorOnError = ErrorBehavior.Log, dlqTopic = Some("dlq-topic"),
      tempDir = Files.createTempDirectory("e2e-stage-hdr").toString)
    val pipeline = new KustoSparkPipeline(cfg, () => new LocalTableIngestClient(tablesRoot),
      Some(() => new InMemoryDlq("e2e-hdr")), SinkMetrics.forSpark(spark))

    val hdr = Seq("trace-id" -> "abc123".getBytes(UTF_8), "source" -> "svc-7".getBytes(UTF_8),
      "empty" -> null)
    val stream = MemoryStream[HRecord]
    stream.addData(Seq(
      HRecord("topicA", 0, 0, null, """{"vtype":"a","vlong":1}""".getBytes(UTF_8), hdr),
      HRecord("ghost", 0, 7, null, """{"vtype":"g","vlong":2}""".getBytes(UTF_8), hdr)))
    val q = pipeline.start(stream.toDF(), Files.createTempDirectory("ck-hdr").toString)
    q.processAllAvailable(); q.stop()

    // routable record with headers ingests normally
    assert(spark.read.json(s"$tablesRoot/db1/tableA").count() == 1)
    // unroutable record dead-letters with its headers in the metadata key
    val dlq = InMemoryDlq.state("e2e-hdr")
    assert(dlq.size == 1)
    val key = new String(dlq.get(0)._1, UTF_8)
    assert(key.contains("topic=ghost") && key.contains("offset=7"))
    assert(key.contains("headers=[trace-id=abc123, source=svc-7, empty=]"), s"got: $key")
  }

  /** Runs one batch of `records` through a LOG-mode pipeline with a DLQ
    * and a `*` mapping; returns the batch's failure (if any), what was
    * dead-lettered, and the tables that received files. */
  private def runNullable(name: String, records: Seq[NRecord]): (Option[Throwable], Seq[String], Seq[String]) = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tablesRoot = Files.createTempDirectory(s"e2e-$name").toString
    val checkpoint = Files.createTempDirectory(s"ck-$name").toString
    InMemoryDlq.reset(name)
    val cfg = SinkConfig(
      mappings = Seq(TableMapping("topicA", "db1", "tableA"), TableMapping("*", "db1", "catchall")),
      flushSizeBytes = 150, flushIntervalMs = 0, maxRetryTimeMs = 20, retryBackoffMs = 10,
      behaviorOnError = ErrorBehavior.Log, dlqTopic = Some("dlq-topic"),
      tempDir = Files.createTempDirectory(s"e2e-stage-$name").toString)
    val pipeline = new KustoSparkPipeline(cfg, () => new LocalTableIngestClient(tablesRoot),
      Some(() => new InMemoryDlq(name)), SinkMetrics.forSpark(spark))
    val stream = MemoryStream[NRecord]
    stream.addData(records)
    val q = pipeline.start(stream.toDF(), checkpoint)
    val failure = try { q.processAllAvailable(); None } catch { case e: StreamingQueryException => Some(e) }
    q.stop()
    assert(failure.isDefined != Files.exists(java.nio.file.Path.of(checkpoint, "commits", "0")))
    val db = new java.io.File(tablesRoot, "db1")
    val tables = Option(db.list()).map(_.toSeq.sorted).getOrElse(Nil)
    import scala.jdk.CollectionConverters._
    (failure, InMemoryDlq.state(name).asScala.map(d => new String(d._1, UTF_8)).toSeq, tables)
  }

  private def messages(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")

  private val nullableValue = """{"vtype":"a","vlong":1}""".getBytes(UTF_8)

  test("a null partition fails the batch, naming the column, even in LOG mode") {
    val (failure, dlq, tables) = runNullable("null-partition",
      Seq(NRecord("topicA", None, Some(3L), null, nullableValue)))
    assert(failure.exists(f => messages(f).contains("null `partition`")), failure.map(messages))
    assert(dlq.isEmpty && tables.isEmpty, s"routed anyway: dlq=$dlq tables=$tables")
  }

  test("a null offset fails the batch, naming the column, even in LOG mode") {
    val (failure, dlq, tables) = runNullable("null-offset",
      Seq(NRecord("topicA", Some(0), None, null, nullableValue)))
    assert(failure.exists(f => messages(f).contains("null `offset`")), failure.map(messages))
    assert(dlq.isEmpty && tables.isEmpty, s"routed anyway: dlq=$dlq tables=$tables")
  }

  test("a null topic has no mapping of its own: it routes through the '*' mapping") {
    val (failure, dlq, tables) = runNullable("null-topic",
      Seq(NRecord(null, Some(0), Some(5L), null, nullableValue)))
    assert(failure.isEmpty && dlq.isEmpty && tables == Seq("catchall"), (failure.map(messages), dlq, tables))
  }

  test("one SQL execution and one job per micro-batch, and no plan deserializes rows") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    import org.apache.spark.sql.util.QueryExecutionListener
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sc = spark.sparkContext
    val tablesRoot = Files.createTempDirectory("e2e-exec").toString
    val executions = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val jobExecutions = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => executions.add(s.executionId)
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobExecutions.add(String.valueOf(e.properties.getProperty("spark.sql.execution.id")))
    }
    val planListener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = plans.add(qe.executedPlan.treeString)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = plans.add(qe.executedPlan.treeString)
    }
    def drained[T](body: => T): T = {
      org.apache.spark.ListenerBusDrain(sc)
      executions.clear(); jobExecutions.clear(); plans.clear()
      val out = body
      org.apache.spark.ListenerBusDrain(sc)
      out
    }
    // one execution each, each execution ran exactly one job, and no
    // executed plan turned rows into objects
    def assertOneJobEach(n: Int): Unit = {
      assert(executions.size == n, s"${executions.size} SQL executions for $n batches")
      val byExecution = jobExecutions.asScala.groupBy(identity).view.mapValues(_.size).toMap
      assert(byExecution == executions.asScala.map(id => id.toString -> 1).toMap, byExecution)
      assert(!plans.asScala.exists(_.contains("DeserializeToObject")), plans.asScala.mkString("\n"))
    }
    sc.addSparkListener(listener)
    spark.listenerManager.register(planListener) // before start: the stream's session copies it
    try {
      val pipeline = new KustoSparkPipeline(
        newConfig(), () => new LocalTableIngestClient(tablesRoot), None, SinkMetrics.forSpark(spark))
      val stream = MemoryStream[KRecord]
      val q = pipeline.start(stream.toDF(), Files.createTempDirectory("ck-exec").toString)
      try {
        drained {
          for (b <- 0 until 3) {
            stream.addData((0 until 8).map(i => jsonRec("topicA", i % 4, b * 8 + i, "a", i)))
            q.processAllAvailable()
          }
        }
        assert(q.recentProgress.count(_.numInputRows > 0) == 3)
        assertOneJobEach(3)
      } finally q.stop()

      // a direct batch-mode call is one SQL execution of its own
      val batch = (0 until 8).map(i => jsonRec("topicA", 0, 100 + i, "a", i))
        .map(r => (r.topic, r.partition, r.offset, r.key, r.value))
        .toDF("topic", "partition", "offset", "key", "value")
      drained(pipeline.processBatch(batch, 0L))
      assertOneJobEach(1)
      assert(plans.size == 1) // a named execution reaches QueryExecutionListeners
      assert(spark.read.json(s"$tablesRoot/db1/tableA").count() == 32)
    } finally {
      sc.removeSparkListener(listener)
      spark.listenerManager.unregister(planListener)
    }
  }

  test("LOG mode with DLQ: a failed roll fails the batch at once, dead-letters nothing, and a replay lands each record once") {
    import spark.implicits._
    val tablesRoot = Files.createTempDirectory("e2e-rollfail").toString
    InMemoryDlq.reset("e2e-rollfail")
    val cfg = SinkConfig(
      mappings = Seq(TableMapping("topicA", "db1", "tableA")),
      flushSizeBytes = 1 << 20, flushIntervalMs = 0, maxRetryTimeMs = 20, retryBackoffMs = 10,
      behaviorOnError = ErrorBehavior.Log, dlqTopic = Some("dlq-topic"),
      tempDir = Files.createTempDirectory("e2e-stage-rollfail").toString)
    val batch = (0 until 5).map(i => jsonRec("topicA", 0, i, "a", i))
      .map(r => (r.topic, r.partition, r.offset, r.key, r.value))
      .toDF("topic", "partition", "offset", "key", "value").coalesce(1)
    val metrics = SinkMetrics.forSpark(spark)
    val dlq = Some(() => new InMemoryDlq("e2e-rollfail"))
    import scala.jdk.CollectionConverters._
    def deadLettered = InMemoryDlq.state("e2e-rollfail").asScala.map(d => new String(d._1, UTF_8)).toSeq

    val failing = new KustoSparkPipeline(cfg, () => new DiskFullClient("e2e-rollfail"), dlq, metrics)
    val e = intercept[Exception](failing.processBatch(batch, 0L))
    assert(messages(e).contains("disk full"), messages(e))
    assert(DiskFullClient.calls("e2e-rollfail").get() == 1, "the failed roll ends the partition")
    assert(deadLettered.isEmpty, s"a roll failure is not a per-record failure: $deadLettered")
    assert(metrics.snapshot("records-failed") == 0 && metrics.snapshot("dlq-records-sent") == 0)

    val healed = new KustoSparkPipeline(cfg, () => new LocalTableIngestClient(tablesRoot), dlq, metrics)
    healed.processBatch(batch, 0L)
    val landed = spark.read.json(s"$tablesRoot/db1/tableA").select("vlong").as[Long].collect().sorted
    assert(landed.toSeq == (0L until 5L))
    assert(deadLettered.isEmpty)
  }

  test("LOG mode with DLQ: unroutable records dead-letter instead of failing the batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tablesRoot = Files.createTempDirectory("e2e-dlq").toString
    InMemoryDlq.reset("e2e-dlq")
    val cfg = SinkConfig(
      mappings = Seq(TableMapping("topicA", "db1", "tableA")),
      flushSizeBytes = 150, flushIntervalMs = 0, maxRetryTimeMs = 20, retryBackoffMs = 10,
      behaviorOnError = ErrorBehavior.Log, dlqTopic = Some("dlq-topic"),
      tempDir = Files.createTempDirectory("e2e-stage3").toString)
    val metrics = SinkMetrics.forSpark(spark)
    val pipeline = new KustoSparkPipeline(cfg, () => new LocalTableIngestClient(tablesRoot),
      Some(() => new InMemoryDlq("e2e-dlq")), metrics)

    val stream = MemoryStream[KRecord]
    stream.addData(Seq(jsonRec("topicA", 0, 0, "a", 1), jsonRec("ghost", 0, 7, "g", 2)))
    val q = pipeline.start(stream.toDF(), Files.createTempDirectory("ck4").toString)
    q.processAllAvailable(); q.stop()

    assert(spark.read.json(s"$tablesRoot/db1/tableA").count() == 1)
    val dlq = InMemoryDlq.state("e2e-dlq")
    assert(dlq.size == 1)
    assert(new String(dlq.get(0)._1, UTF_8).contains("topic=ghost"))
    assert(new String(dlq.get(0)._1, UTF_8).contains("offset=7"))
    assert(metrics.snapshot("records-failed") == 1)
    assert(metrics.snapshot("dlq-records-sent") == 1)
  }

  test("ingest then KQL-verify: datetime predicates over the ingested table (KustoSinkIT flow)") {
    // The reference asserts its E2E by running KQL against the table it
    // just ingested into (it/KustoSinkIT.java:269-271,465-467) — dashboards
    // do the same with time-windowed KQL. Close that exact loop in-sandbox:
    // memory stream → tombstone filter → router → JSON encode → gzip stage
    // → LocalTableIngestClient → offset gate → KqlCompiler text query with
    // ago()/now() bounds over what landed, row-for-row vs expected.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tablesRoot = Files.createTempDirectory("e2e-tables-kql").toString
    val fixedNow = java.time.Instant.parse("2024-05-01T12:00:00Z")

    val pipeline = new KustoSparkPipeline(
      newConfig(), () => new LocalTableIngestClient(tablesRoot), None, SinkMetrics.forSpark(spark))
    val stream = MemoryStream[KRecord]
    val records = (0 until 30).map { i =>
      val ts = fixedNow.minusSeconds(i * 600L) // every 10 min into the past
      KRecord("topicA", i % 2, i / 2, null,
        s"""{"ts":"$ts","vtype":"${if (i % 2 == 0) "even" else "odd"}","vlong":$i}"""
          .getBytes(UTF_8))
    } :+ KRecord("topicA", 0, 999, "k".getBytes(UTF_8), null) // tombstone
    stream.addData(records)
    val q = pipeline.start(stream.toDF(), Files.createTempDirectory("ck5").toString)
    q.processAllAvailable(); q.stop()

    // offsets gate held: everything live landed before the batch completed
    val ingested = spark.read.json(s"$tablesRoot/db1/tableA")
    assert(ingested.count() == 30, "all live records ingested; tombstone dropped")

    // the dashboard-shaped query, compiled from KQL TEXT over the ingested
    // table: todatetime parses the landed ISO strings, ago()/now() bound
    // the window against the injected fixed query time
    val verified = graft.kql.KqlCompiler.compile(
      """ingested
        | | extend tsd = todatetime(ts)
        | | where tsd >= ago(2h) and tsd < now()
        | | summarize n = count(), total = sum(vlong) by vtype
        | | order by vtype asc""".stripMargin,
      _ => ingested, fixedNow)
    val rows = verified.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    // in-window: i in 1..12 (ts_0 == now() excluded, ts_12 == ago(2h) included)
    val expect = (1 to 12).groupBy(i => if (i % 2 == 0) "even" else "odd").toSeq
      .map { case (t, is) => (t, is.size.toLong, is.map(_.toLong).sum) }.sortBy(_._1)
    assert(rows == expect, s"KQL-over-ingested mismatch: got $rows, want $expect")
  }

  test("in-flight KQL transform: filter + derive BEFORE the sink (what the reference can't do)") {
    // reference README.md:158-162: "The connector does not support
    // transformers" — this engine composes one in front of the pipeline.
    import org.apache.spark.sql.types._
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tablesRoot = Files.createTempDirectory("e2e-tables-xform").toString
    val valueSchema = StructType(Seq(
      StructField("vtype", StringType), StructField("vlong", LongType)))

    val pipeline = new KustoSparkPipeline(
      newConfig(), () => new LocalTableIngestClient(tablesRoot), None, SinkMetrics.forSpark(spark))
    val stream = MemoryStream[KRecord]
    stream.addData(
      (0 until 20).map(i =>
        jsonRec("topicA", i % 2, i / 2, if (i % 4 == 0) "debug" else "keep", i)) ++
      Seq(jsonRec("topicB", 0, 0, "b", 7),             // other topic: untouched
        KRecord("topicA", 0, 99, null, null)))          // tombstone: passes through to F1

    val shaped = KqlTransform(stream.toDF(), topic = "topicA", valueSchema,
      "src | where vtype != 'debug' | extend vdouble = vlong * 2")
    val q = pipeline.start(shaped, Files.createTempDirectory("ck6").toString)
    q.processAllAvailable(); q.stop()

    val a = spark.read.json(s"$tablesRoot/db1/tableA")
    assert(a.count() == 15, "debug records filtered in flight")
    assert(a.filter($"vtype" === "debug").count() == 0)
    // derived column landed in the ingested JSON
    assert(a.select("vdouble").as[Long].collect().sorted.sameElements(
      (0 until 20).filter(_ % 4 != 0).map(i => 2L * i).sorted))
    // untouched topic unaffected
    assert(spark.read.text(s"$tablesRoot/db1/tableB").count() == 1)
    // metadata protection is loud
    val err = intercept[IllegalArgumentException](
      KqlTransform(stream.toDF(), "topicA", valueSchema, "src | project vtype"))
    assert(err.getMessage.contains("metadata"))
    // ...and OVERWRITES are rejected too, not just drops: extend/project
    // onto a metadata name would corrupt routing / the offset gate
    val ow = intercept[IllegalArgumentException](
      KqlTransform(stream.toDF(), "topicA", valueSchema,
        "src | extend topic = 'hijacked'"))
    assert(ow.getMessage.contains("overwrite") && ow.getMessage.contains("topic"))
    val ow2 = intercept[IllegalArgumentException](
      KqlTransform(stream.toDF(), "topicA", valueSchema,
        "src | extend offset = 0"))
    assert(ow2.getMessage.contains("overwrite") && ow2.getMessage.contains("offset"))
  }
}
