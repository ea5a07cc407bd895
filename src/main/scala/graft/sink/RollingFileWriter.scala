package graft.sink

import java.io.{BufferedOutputStream, File, FileOutputStream, OutputStream}
import java.nio.file.{Files, Path}
import java.util.UUID
import java.util.concurrent.TimeUnit
import java.util.zip.GZIPOutputStream

/** A rolled (finished) staging file, handed to the ingest callback.
  * `rawBytes` counts UNCOMPRESSED payload bytes — roll thresholds are
  * defined pre-compression (reference: FileWriter.java:30-33,298-301).
  * `records` is retained only when the DLQ is enabled, so a failed ingest
  * can replay per-record without holding every batch in memory otherwise
  * (reference: FileWriter.java:293-295).
  */
final case class StagedFile(
    path: String,
    numRecords: Long,
    rawBytes: Long,
    firstOffset: Long,
    lastOffset: Long,
    records: Seq[SinkRecord])

/** Counts bytes written pre-compression; wraps the stream INSIDE the gzip
  * layer so `count` is the uncompressed size
  * (reference: FileWriter.java:146-153,332-362). */
final class CountingOutputStream(under: OutputStream) extends OutputStream {
  var count: Long = 0L
  override def write(b: Int): Unit = { under.write(b); count += 1 }
  override def write(b: Array[Byte]): Unit = { under.write(b); count += b.length }
  override def write(b: Array[Byte], off: Int, len: Int): Unit = { under.write(b, off, len); count += len }
  override def flush(): Unit = under.flush()
  override def close(): Unit = under.close()
}

/** A roll (staging or `onRoll`) failed. The writer is poisoned: this
  * failure is thrown again by every later `write` and by `close()`, so
  * the batch fails before offsets commit. It is not a per-record
  * failure: the records it carried were in the file, not in the write
  * that triggered the roll. */
final class RollFailedException(msg: String, cause: Throwable)
  extends IllegalStateException(msg, cause)

/** Size-OR-time rolling gzip staging writer for one (topic, partition).
  *
  * This is the one behavior Spark does not provide declaratively
  * (SURVEY §4): roll a staged file when its uncompressed size exceeds
  * `flushSizeBytes`, OR when `flushIntervalMs` elapses since the file was
  * opened, whichever comes first; `flushIntervalMs == 0` rolls after every
  * record; `rollEveryRecord` forces one file per record (avro-as-bytes,
  * reference: FileWriter.java:298-301,321-323).
  *
  * Files are named `kafka_{topic}_{partition}_{firstOffset}.{ext}.gz`
  * inside a per-writer UUID temp dir (reference:
  * TopicPartitionWriter.java:85-89,235-242) — deterministic names make
  * retried ingests idempotent on the Kusto side and debuggable on disk.
  *
  * Thread model: one thread. A writer lives for one partition of one
  * micro-batch, and a Spark task is single-threaded, so the writer
  * starts no thread, takes no lock, and calls `onRoll` on the writing
  * thread, in staging (= offset) order. The reference's flush timer and
  * fair RW lock (reference: FileWriter.java:82-83,262) served a Connect
  * writer that lives across many `put()` calls; here the time deadline
  * is checked where the task is: `write` first rolls an open file whose
  * age has reached `flushIntervalMs`, so the late record starts the next
  * file, and `close()` rolls the residual. What this gives up: a file
  * whose deadline passes while the task receives no rows rolls at the
  * task's next row or at `close()`, not on a background thread; and a
  * slow ingest of a time roll blocks the task thread, as a size roll's
  * ingest already does. Offsets commit only after the batch returns, so
  * neither changes what is committed.
  */
final class RollingFileWriter(
    baseTempDir: String,
    topic: String,
    partition: Int,
    provider: FormatWriterProvider,
    flushSizeBytes: Long,
    flushIntervalMs: Long,
    onRoll: StagedFile => Unit,
    retainRecords: Boolean = false,
    rollEveryRecord: Boolean = false) extends AutoCloseable {

  val dir: Path = {
    val p = Path.of(baseTempDir, s"kusto-sink-${UUID.randomUUID()}")
    Files.createDirectories(p)
    p
  }

  /** The file age that triggers a time roll; saturates, so a huge
    * interval never rolls instead of overflowing. */
  private val intervalNanos = TimeUnit.MILLISECONDS.toNanos(flushIntervalMs)
  private var out: CountingOutputStream = _
  private var gzip: GZIPOutputStream = _
  private var appender: RecordAppender = _
  private var file: File = _
  private var openedAt = 0L
  private var numRecords = 0L
  /** Payload bytes handed to the appender. Block-buffering appenders
    * (Avro containers) hold bytes until a ~64 KB block completes, so
    * `out.count` can lag — size rolls and dirtiness use
    * max(out.count, rawAppended) to stay exact per record. */
  private var rawAppended = 0L
  private var firstOffset = -1L
  private var lastOffset = -1L
  private var retained = List.empty[SinkRecord]
  private var failure: RollFailedException = _
  private var stopped = false

  def isDirty: Boolean = out != null && (out.count > 0 || rawAppended > 0)

  def filePath(offset: Long): String =
    dir.resolve(s"kafka_${topic}_${partition}_$offset.${provider.ext}.gz").toString

  def write(r: SinkRecord): Unit = {
    if (failure != null) throw failure
    if (stopped) throw new IllegalStateException("writer is stopped")
    if (r == null) return
    if (out != null && System.nanoTime() - openedAt >= intervalNanos)
      rollOrDiscard()
    if (out == null) openFile(r.offset)
    appender.append(r)
    if (r.value != null) rawAppended += r.value.length
    if (retainRecords) retained ::= r
    numRecords += 1
    lastOffset = r.offset
    if (flushIntervalMs == 0 || math.max(out.count, rawAppended) > flushSizeBytes || rollEveryRecord)
      finish()
  }

  private def openFile(offset: Long): Unit = {
    file = new File(filePath(offset))
    firstOffset = offset
    openedAt = System.nanoTime()
    val fileStream = new BufferedOutputStream(new FileOutputStream(file))
    gzip = new GZIPOutputStream(fileStream)
    out = new CountingOutputStream(gzip)
    appender = provider.open(out)
  }

  private def rollOrDiscard(): Unit = if (isDirty) finish() else discardOpenFile()

  /** Closes out the current file and hands it to `onRoll`, then deletes
    * it: staging is transient, and ingest has consumed or replayed it. */
  private def finish(): Unit = {
    val staged = try {
      appender.close()
      gzip.finish()
      out.close()
      StagedFile(file.getPath, numRecords, out.count, firstOffset, lastOffset, retained.reverse)
    } catch { case e: Exception => poison(s"Error staging ${file.getPath}", e) }
    resetState()
    try {
      try onRoll(staged)
      finally Files.deleteIfExists(Path.of(staged.path))
    } catch { case e: Exception => poison(s"Error dispatching ${staged.path}", e) }
  }

  private def poison(what: String, e: Exception): Nothing = {
    failure = new RollFailedException(s"$what: ${e.getMessage}", e)
    throw failure
  }

  private def discardOpenFile(): Unit = {
    if (out != null) { out.close(); Files.deleteIfExists(file.toPath) }
    resetState()
  }

  private def resetState(): Unit = {
    out = null; gzip = null; appender = null; file = null
    numRecords = 0; rawAppended = 0; firstOffset = -1; lastOffset = -1; retained = Nil
  }

  /** Roll any residual open file through `onRoll`, then stop. After a
    * failed roll this throws that failure, so a failure on the last file
    * of a partition still fails the batch before offsets commit. */
  def close(): Unit = {
    if (failure != null) throw failure
    stopped = true
    rollOrDiscard()
    // best-effort temp dir cleanup (empty after roll deletes)
    try Files.deleteIfExists(dir) catch { case _: Exception => () }
  }

  /** Stop WITHOUT flushing — rollback semantics for graceful abort: the
    * in-flight file is deleted so no post-close ingest can happen
    * (reference: FileWriter.java:216-237 rollback). */
  def abort(): Unit = {
    stopped = true
    discardOpenFile()
    try Files.deleteIfExists(dir) catch { case _: Exception => () }
  }
}
