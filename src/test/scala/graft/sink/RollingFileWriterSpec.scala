package graft.sink

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.zip.GZIPInputStream
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Mirrors the reference's FileWriterTest.java:107-174 (roll-by-size
  * counts, residual open file, gzip round-trip) plus time rolls, failed
  * rolls, per-record roll, naming, abort/rollback, and that the writer
  * starts no thread.
  */
class RollingFileWriterSpec extends AnyFunSuite {
  private def tmp(): String = Files.createTempDirectory("rfw-test").toString
  // 10-char payload + newline = 11 bytes/record on the wire
  private def rec(i: Long, payload: String = null): SinkRecord =
    SinkRecord("topicA", 3, i, null,
      (if (payload == null) f"""{"n":$i%04d}""" else payload).getBytes(UTF_8))

  private def gunzip(path: String): String =
    new String(new GZIPInputStream(Files.newInputStream(Path.of(path))).readAllBytes(), UTF_8)

  test("rolls by uncompressed size; residual stays open until close") {
    val rolls = ArrayBuffer.empty[StagedFile]
    val contents = ArrayBuffer.empty[String]
    val w = new RollingFileWriter(tmp(), "topicA", 3, JsonLinesWriter,
      flushSizeBytes = 100, flushIntervalMs = 300000,
      onRoll = f => { rolls += f; contents += gunzip(f.path) })
    // 11 bytes/record; roll when count > 100 => 10 records/file
    (0L until 25L).foreach(i => w.write(rec(i)))
    assert(rolls.size == 2, "2 full files rolled, 5 records residual")
    assert(rolls.forall(_.numRecords == 10))
    assert(rolls.forall(_.rawBytes > 100))
    assert(w.isDirty, "residual records keep the writer dirty")
    w.close()
    assert(rolls.size == 3 && rolls.last.numRecords == 5)
    // gzip round-trip: every payload byte survives, in order
    assert(contents.mkString == (0L until 25L).map(i => f"""{"n":$i%04d}""" + "\n").mkString)
  }

  test("flushIntervalMs == 0 rolls after every record") {
    val rolls = ArrayBuffer.empty[StagedFile]
    val w = new RollingFileWriter(tmp(), "t", 0, JsonLinesWriter,
      flushSizeBytes = 1 << 20, flushIntervalMs = 0, onRoll = rolls += _)
    (0L until 4L).foreach(i => w.write(rec(i)))
    w.close()
    assert(rolls.size == 4 && rolls.forall(_.numRecords == 1))
  }

  test("rollEveryRecord forces one file per record (avro-as-bytes)") {
    val rolls = ArrayBuffer.empty[StagedFile]
    val w = new RollingFileWriter(tmp(), "t", 0, BytesWriter,
      flushSizeBytes = 1 << 20, flushIntervalMs = 300000, onRoll = rolls += _,
      rollEveryRecord = true)
    (0L until 3L).foreach(i => w.write(rec(i)))
    w.close()
    assert(rolls.size == 3)
  }

  test("timer flushes a dirty file after flushIntervalMs") {
    val rolls = ArrayBuffer.empty[StagedFile]
    val w = new RollingFileWriter(tmp(), "t", 0, JsonLinesWriter,
      flushSizeBytes = 1 << 20, flushIntervalMs = 100, onRoll = rolls += _)
    w.write(rec(7))
    assert(rolls.isEmpty, "not yet — interval hasn't elapsed")
    Thread.sleep(150)
    w.write(rec(8)) // past the deadline: rolls the old file, then starts the next
    assert(rolls.map(f => (f.firstOffset, f.numRecords)) == Seq((7L, 1L)))
    assert(w.isDirty, "the late record opened a new file")
    w.close()
    assert(rolls.map(f => (f.firstOffset, f.numRecords)) == Seq((7L, 1L), (8L, 1L)),
      "close rolls the residual")
  }

  test("an interval of Long.MaxValue / 4 ms never rolls by time") {
    val rolls = ArrayBuffer.empty[StagedFile]
    val w = new RollingFileWriter(tmp(), "t", 0, JsonLinesWriter,
      flushSizeBytes = 1 << 20, flushIntervalMs = Long.MaxValue / 4, onRoll = rolls += _)
    w.write(rec(0))
    Thread.sleep(150)
    w.write(rec(1))
    assert(rolls.isEmpty)
    w.close()
    assert(rolls.map(_.numRecords) == Seq(2L))
  }

  test("staged file names follow kafka_{topic}_{partition}_{offset}.{ext}.gz") {
    val rolls = ArrayBuffer.empty[StagedFile]
    val w = new RollingFileWriter(tmp(), "topicA", 3, JsonLinesWriter,
      flushSizeBytes = 100, flushIntervalMs = 300000, onRoll = rolls += _)
    (5L until 30L).foreach(i => w.write(rec(i)))
    w.close()
    val names = rolls.map(f => Path.of(f.path).getFileName.toString)
    assert(names.head == "kafka_topicA_3_5.json.gz", s"got $names")
    assert(names.forall(_.matches("kafka_topicA_3_\\d+\\.json\\.gz")))
    // first offset of each file = last offset of that file - its record count + 1
    assert(rolls.map(_.firstOffset) == rolls.map(f => f.lastOffset - f.numRecords + 1))
  }

  test("records retained only when DLQ enabled") {
    val rolls = ArrayBuffer.empty[StagedFile]
    val on = new RollingFileWriter(tmp(), "t", 0, JsonLinesWriter, 100, 300000,
      onRoll = rolls += _, retainRecords = true)
    (0L until 12L).foreach(i => on.write(rec(i)))
    on.close()
    assert(rolls.flatMap(_.records).map(_.offset) == (0L until 12L))
    rolls.clear()
    val off = new RollingFileWriter(tmp(), "t", 0, JsonLinesWriter, 100, 300000,
      onRoll = rolls += _, retainRecords = false)
    (0L until 12L).foreach(i => off.write(rec(i)))
    off.close()
    assert(rolls.forall(_.records.isEmpty))
  }

  test("abort discards the in-flight file without ingesting (rollback)") {
    val rolls = ArrayBuffer.empty[StagedFile]
    val w = new RollingFileWriter(tmp(), "t", 0, JsonLinesWriter, 1 << 20, 300000,
      onRoll = rolls += _)
    w.write(rec(0))
    val dir = w.dir
    w.abort()
    assert(rolls.isEmpty, "no ingest after abort")
    assert(!Files.exists(dir) || Files.list(dir).count() == 0)
    assertThrows[IllegalStateException](w.write(rec(1)))
  }

  test("timer-flush ingest failure with no subsequent write fails close()") {
    var calls = 0
    val w = new RollingFileWriter(tmp(), "t", 0, JsonLinesWriter,
      flushSizeBytes = 1 << 20, flushIntervalMs = 100,
      onRoll = _ => { calls += 1; throw new RuntimeException("ingest down") })
    w.write(rec(0))
    Thread.sleep(150)
    val e = intercept[IllegalStateException](w.close())
    assert(e.getMessage.contains("ingest down"))
    assert(calls == 1)
  }

  test("a failed time roll fails the triggering write, every later write, and close()") {
    var staged: String = null
    val w = new RollingFileWriter(tmp(), "t", 0, JsonLinesWriter,
      flushSizeBytes = 1 << 20, flushIntervalMs = 100,
      onRoll = f => { staged = f.path; throw new RuntimeException("ingest down") })
    w.write(rec(0))
    Thread.sleep(150)
    val first = intercept[RollFailedException](w.write(rec(1)))
    assert(first.getMessage.contains("ingest down") && staged.endsWith("kafka_t_0_0.json.gz"))
    assert(!Files.exists(Path.of(staged)), "the staged file is deleted after a failed onRoll too")
    assert(intercept[RollFailedException](w.write(rec(2))).getMessage.contains("ingest down"))
    assert(intercept[RollFailedException](w.close()).getMessage.contains("ingest down"))
  }

  test("time and size rolls reach onRoll in offset order") {
    val rolls = ArrayBuffer.empty[StagedFile]
    val w = new RollingFileWriter(tmp(), "t", 0, JsonLinesWriter,
      flushSizeBytes = 100, flushIntervalMs = 100, onRoll = rolls += _)
    (0L until 5L).foreach(i => w.write(rec(i)))
    Thread.sleep(150)
    (5L until 20L).foreach(i => w.write(rec(i))) // time roll of 0–4, size roll of 5–14
    Thread.sleep(150)
    (20L until 23L).foreach(i => w.write(rec(i))) // time roll of 15–19
    w.close() // residual 20–22
    assert(rolls.map(f => (f.firstOffset, f.lastOffset)) == Seq((0L, 4L), (5L, 14L), (15L, 19L), (20L, 22L)))
  }

  test("a writer that rolls 50 files by size starts no thread") {
    val recording = new Recording()
    recording.enable("jdk.ThreadStart")
    val dump = Files.createTempFile("thread-start", ".jfr")
    val rolls = ArrayBuffer.empty[StagedFile]
    recording.start()
    try {
      val control = new Thread(() => (), "rfw-control") // the recording sees thread starts
      control.start(); control.join()
      val w = new RollingFileWriter(tmp(), "t", 0, JsonLinesWriter,
        flushSizeBytes = 100, flushIntervalMs = 30000, onRoll = rolls += _)
      (0L until 500L).foreach(i => w.write(rec(i)))
      w.close()
    } finally {
      recording.stop()
      recording.dump(dump)
      recording.close()
    }
    assert(rolls.size == 50)
    val me = Thread.currentThread().getName
    def name(t: jdk.jfr.consumer.RecordedThread) = Option(t).map(_.getJavaName).getOrElse("")
    val started = RecordingFile.readAllEvents(dump).asScala
      .filter(e => e.getEventType.getName == "jdk.ThreadStart" && name(e.getThread("parentThread")) == me)
      .map(e => name(e.getThread("thread")))
    assert(started.contains("rfw-control"), "the control thread start was not recorded")
    val byWriter = started.filterNot(_ == "rfw-control")
    assert(byWriter.isEmpty,
      s"${byWriter.size} thread starts: ${byWriter.groupBy(_.takeWhile(_ != '-')).map { case (n, ts) => s"$n ×${ts.size}" }.mkString(", ")}")
  }

  test("staged file is deleted after the roll callback completes") {
    var seen: String = null
    val w = new RollingFileWriter(tmp(), "t", 0, JsonLinesWriter, 100, 300000,
      onRoll = f => { seen = f.path; assert(Files.exists(Path.of(f.path))) })
    (0L until 12L).foreach(i => w.write(rec(i)))
    w.close()
    assert(seen != null && !Files.exists(Path.of(seen)))
  }
}
