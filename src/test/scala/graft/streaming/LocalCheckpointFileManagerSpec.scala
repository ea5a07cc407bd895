package graft.streaming

import graft.config.{SinkConfig, TableMapping}
import graft.ingest.LocalTableIngestClient
import graft.pipeline.{KustoSparkPipeline, SinkMetrics}
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, DelegateToFileSystem, FileAlreadyExistsException, Path, RawLocalFileSystem}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The local checkpoint manager keeps Spark's checkpoint integrity
  * (checksums, no-overwrite renames, cancel, modes, resumable logs in
  * both directions) and starts no process on the stream thread. */
class LocalCheckpointFileManagerSpec extends AnyFunSuite with BeforeAndAfterAll {
  import LocalCheckpointFileManager.ClassKey
  import LocalCheckpointFileManagerSpec._

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .appName("local-checkpoint")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val className = classOf[LocalCheckpointFileManager].getName
  private def local(dir: JPath) = new LocalCheckpointFileManager(new Path(dir.toUri), new Configuration())
  private def sparkDefault(dir: JPath) = CheckpointFileManager.create(new Path(dir.toUri), new Configuration())
  private def file(dir: JPath, name: String) = new Path(new Path(dir.toUri), name)

  private def write(m: CheckpointFileManager, p: Path, text: String, overwrite: Boolean = false): Unit = {
    val out = m.createAtomic(p, overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }
  private def read(m: CheckpointFileManager, p: Path): String = {
    val in = m.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }
  private def names(dir: JPath): Set[String] =
    Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSet

  test("a local path writes .crc sidecars, and a corrupted byte fails the read") {
    val dir = Files.createTempDirectory("lcfm-crc")
    val m = local(dir)
    write(m, file(dir, "0"), "v1\n{\"batchWatermarkMs\":0}")
    assert(names(dir) == Set("0", ".0.crc"))
    assert(read(m, file(dir, "0")) == "v1\n{\"batchWatermarkMs\":0}")
    val bytes = Files.readAllBytes(dir.resolve("0"))
    bytes(5) = (bytes(5) ^ 1).toByte
    Files.write(dir.resolve("0"), bytes)
    intercept[ChecksumException](read(m, file(dir, "0")))
  }

  test("a no-overwrite rename onto an existing file fails and keeps the file") {
    val dir = Files.createTempDirectory("lcfm-rename")
    val m = local(dir)
    write(m, file(dir, "1"), "first")
    intercept[FileAlreadyExistsException](write(m, file(dir, "1"), "second"))
    assert(read(m, file(dir, "1")) == "first")
    // the failed write's temp file stays, as under Spark's default manager
    assert(names(dir).filterNot(_.endsWith(".tmp")).filterNot(_.endsWith(".tmp.crc")) == Set("1", ".1.crc"))
    write(m, file(dir, "1"), "third", overwrite = true)
    assert(read(m, file(dir, "1")) == "third")
  }

  test("cancel leaves no temp file and no .crc") {
    val dir = Files.createTempDirectory("lcfm-cancel")
    val out = local(dir).createAtomic(file(dir, "2"), false)
    out.write("partial".getBytes(UTF_8))
    out.cancel()
    assert(names(dir).isEmpty)
  }

  test("file and directory modes equal the default manager's") {
    def modes(m: JPath => CheckpointFileManager): Seq[String] = {
      val dir = Files.createTempDirectory("lcfm-modes")
      val mgr = m(dir)
      mgr.mkdirs(file(dir, "offsets"))
      write(mgr, file(dir, "offsets/0"), "v1")
      Seq("offsets", "offsets/0", "offsets/.0.crc").map(n =>
        java.nio.file.attribute.PosixFilePermissions.toString(Files.getPosixFilePermissions(dir.resolve(n))))
    }
    assert(sparkDefault(Files.createTempDirectory("lcfm-x")).isInstanceOf[FileContextBasedCheckpointFileManager])
    assert(modes(local) == modes(sparkDefault))
  }

  test("a local path uses the java.nio file system; another scheme gets Spark's default manager") {
    val dir = Files.createTempDirectory("lcfm-scheme")
    local(dir).underlying match {
      case fsm: FileSystemBasedCheckpointFileManager =>
        val fs = classOf[FileSystemBasedCheckpointFileManager].getMethod("fs").invoke(fsm) // protected in Scala
        assert(fs.isInstanceOf[LocalCheckpointFileManager.NioLocalFileSystem])
      case other => fail(s"local path got ${other.getClass}")
    }
    val conf = new Configuration()
    conf.set("fs.fake.impl", classOf[FakeFileSystem].getName)
    conf.set("fs.AbstractFileSystem.fake.impl", classOf[FakeFs].getName)
    conf.set(ClassKey, className)
    val p = new Path(s"fake://${dir.toAbsolutePath}")
    val viaSpark = CheckpointFileManager.create(p, conf) // Spark's entry point, naming this class
    assert(viaSpark.isInstanceOf[LocalCheckpointFileManager])
    val under = viaSpark.asInstanceOf[LocalCheckpointFileManager].underlying
    conf.unset(ClassKey)
    assert(under.getClass == CheckpointFileManager.create(p, conf).getClass)
    assert(under.isInstanceOf[FileContextBasedCheckpointFileManager])
    write(viaSpark, new Path(p, "0"), "through the default manager")
    assert(read(viaSpark, new Path(p, "0")) == "through the default manager")
  }

  test("a checkpoint written by either manager resumes under the other") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    for ((first, second) <- Seq((None, Some(className)), (Some(className), None))) {
      val ck = Files.createTempDirectory("lcfm-resume")
      val stream = MemoryStream[Int]
      val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Int)]()
      def run(manager: Option[String], batches: Range): Unit = {
        manager.fold(spark.conf.unset(ClassKey))(spark.conf.set(ClassKey, _))
        val q = stream.toDF().writeStream
          .option("checkpointLocation", ck.toString)
          .foreachBatch((b: DataFrame, id: Long) => b.as[Int].collect().foreach(v => seen.add(id -> v)))
          .start()
        try batches.foreach { i => stream.addData(i * 10 until i * 10 + 10); q.processAllAvailable() }
        finally q.stop()
      }
      run(first, 0 until 3)
      run(second, 3 until 6)
      val got = seen.asScala.toSeq
      assert(got.map(_._2).sorted == (0 until 60), s"$first → $second")
      assert(got.map(_._1).distinct.sorted == (0L until 6L), s"$first → $second")
      for (log <- Seq("offsets", "commits"))
        assert((0 until 6).forall(b => names(ck.resolve(log)).contains(b.toString)), s"$log: ${names(ck.resolve(log))}")
    }
    spark.conf.unset(ClassKey)
  }

  test("20 micro-batches through KustoSparkPipeline.start start no process on the stream thread") {
    val session = spark.newSession()
    implicit val sqlCtx = session.sqlContext
    import session.implicits._
    val root = Files.createTempDirectory("lcfm-tables").toString
    val config = SinkConfig(mappings = Seq(TableMapping("t", "db", "tbl")),
      tempDir = Files.createTempDirectory("lcfm-stage").toString)
    val pipeline = new KustoSparkPipeline(config, () => new LocalTableIngestClient(root), None,
      SinkMetrics.forSpark(session))
    val stream = MemoryStream[(String, Int, Long, Array[Byte], Array[Byte])]
    val source = stream.toDF().toDF("topic", "partition", "offset", "key", "value")
    val recording = new Recording()
    recording.enable("jdk.ProcessStart")
    val dump = Files.createTempFile("process-start", ".jfr")
    recording.start()
    val batches = try {
      new ProcessBuilder("true").start().waitFor() // control: the recording sees process starts
      val q = pipeline.start(source, Files.createTempDirectory("lcfm-ck").toString)
      try {
        for (b <- 0 until 20) {
          stream.addData((0 until 5).map(i =>
            ("t", i % 2, b * 5L + i, null, s"""{"b":$b,"i":$i}""".getBytes(UTF_8))))
          q.processAllAvailable()
        }
        q.recentProgress.count(_.numInputRows > 0)
      } finally q.stop()
    } finally {
      recording.stop()
      recording.dump(dump)
      recording.close()
    }
    val starts = RecordingFile.readAllEvents(dump).asScala.filter(_.getEventType.getName == "jdk.ProcessStart")
    def thread(e: jdk.jfr.consumer.RecordedEvent) = Option(e.getThread).map(_.getJavaName).getOrElse("")
    assert(starts.exists(e => e.getString("command") == "true"), "the control process start was not recorded")
    assert(batches == 20)
    val onStream = starts.filter(e => thread(e).startsWith("stream execution thread for kusto-sink"))
    assert(onStream.isEmpty,
      s"${onStream.size} process starts on the stream thread: " +
        onStream.groupBy(_.getString("command").split(' ').head).map { case (c, es) => s"$c ×${es.size}" }.mkString(", "))
    assert(names(java.nio.file.Paths.get(root, "db", "tbl")).count(_.endsWith(".json.gz")) > 0)
  }
}

object LocalCheckpointFileManagerSpec {
  /** Local disk under another scheme name, as a FileSystem and as a
    * FileContext file system. */
  final class FakeFileSystem extends RawLocalFileSystem {
    override def getUri: URI = URI.create("fake:///")
    override def getScheme: String = "fake"
  }
  final class FakeFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new FakeFileSystem, conf, "fake", false)
}
