package perfbench

import graft.ingest.{IngestClient, IngestTarget, IngestionStatus}
import graft.sink.StagedFile
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

/** One ingest call as the timing wrapper saw it. */
final case class IngestCall(table: String, topic: String, partition: Int, lastOffset: Long,
                            records: Long, rawBytes: Long, gzBytes: Long,
                            startNs: Long, endNs: Long, endWallMs: Long, ok: Boolean) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Process-wide log of ingest calls. Spark runs in local mode, so task
  * threads and the harness share it. */
object IngestLog {
  private val calls = new ConcurrentLinkedQueue[IngestCall]
  def add(c: IngestCall): Unit = calls.add(c)
  def clear(): Unit = calls.clear()
  def all: Seq[IngestCall] = calls.asScala.toSeq
}

/** Wraps the client a pipeline ingests through, timing each call and
  * recording the staged file it was handed. Passed to the pipeline
  * through its `clientFactory`, so the pipeline code is unchanged. */
final class TimedIngestClient(under: IngestClient) extends IngestClient {
  def ingest(file: StagedFile, target: IngestTarget): IngestionStatus = {
    val gz = try java.nio.file.Files.size(java.nio.file.Path.of(file.path)) catch { case _: Exception => 0L }
    val topic = java.nio.file.Path.of(file.path).getFileName.toString
      .stripPrefix("kafka_").split("_").dropRight(2).mkString("_")
    val partition = java.nio.file.Path.of(file.path).getFileName.toString.split("_").takeRight(2).head.toInt
    val t0Us = Trace.nowUs()
    val t0 = System.nanoTime()
    var ok = false
    try {
      val st = under.ingest(file, target)
      ok = IngestionStatus.accepted(st)
      st
    } finally {
      val t1 = System.nanoTime()
      IngestLog.add(IngestCall(target.table, topic, partition, file.lastOffset, file.numRecords,
        file.rawBytes, gz, t0, t1, System.currentTimeMillis(), ok))
      Trace.record("ingest.call", Trace.ambientParent, t0Us, t0Us + (t1 - t0) / 1000,
        Map("table" -> target.table, "records" -> file.numRecords, "raw_bytes" -> file.rawBytes,
          "ok" -> ok))
    }
  }
  override def close(): Unit = under.close()
}

/** Reads Spark's public listener interfaces: scheduler events (jobs,
  * stages, tasks) and, per query execution, the Catalyst phase times from
  * `QueryPlanningTracker`. Installed only for traced passes. */
final class SparkLayer(spark: SparkSession, cores: Int)
    extends SparkListener with QueryExecutionListener {
  import SparkLayer.Phase

  val jobs, stages, tasks = new AtomicLong
  val taskCpuNs, taskRunMs, gcMs, shuffleReadB, shuffleWriteB, spillB = new AtomicLong
  val stageSlotMs, stageIdleMs = new AtomicLong
  private val stageRunMs = new ConcurrentHashMap[Int, AtomicLong]
  private val jobStarts = new ConcurrentLinkedQueue[(Long, String)]
  private val phases = new ConcurrentLinkedQueue[Phase]
  private val sentinels = ConcurrentHashMap.newKeySet[String]()
  private val jobSpanStart = new ConcurrentHashMap[Int, (Long, String)]
  private val markerJobs = new ConcurrentHashMap[Int, String]

  def install(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def reset(): Unit = {
    drain()
    Seq(jobs, stages, tasks, taskCpuNs, taskRunMs, gcMs, shuffleReadB, shuffleWriteB, spillB,
      stageSlotMs, stageIdleMs).foreach(_.set(0))
    stageRunMs.clear(); jobStarts.clear(); phases.clear()
  }

  /** Wait until every event posted so far has been delivered: the shared
    * listener queue is FIFO, so seeing a marker job's end means every
    * earlier event has been seen too. */
  def drain(): Unit = {
    val sc = spark.sparkContext
    val tag = s"perfbench-drain-${System.nanoTime()}"
    val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(tag, tag)
    try sc.parallelize(Seq(1), 1).count()
    finally {
      if (prevGroup == null) sc.clearJobGroup() else sc.setLocalProperty("spark.jobGroup.id", prevGroup)
    }
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (!sentinels.contains(tag) && System.nanoTime() < deadline) Thread.sleep(2)
  }

  /** Jobs started inside [fromMs, toMs] (epoch ms), drain markers excluded. */
  def jobsBetween(fromMs: Long, toMs: Long): Int =
    jobStarts.asScala.count { case (t, g) => t >= fromMs && t <= toMs && !isMarker(g) }

  /** Sum of each Catalyst phase over query executions that started inside
    * [fromMs, toMs]. */
  def phasesBetween(fromMs: Long, toMs: Long): Map[String, Double] =
    phases.asScala.filter(p => p.startMs >= fromMs && p.startMs <= toMs).toSeq
      .groupBy(_.name).map { case (n, ps) => n -> ps.map(p => (p.endMs - p.startMs) / 1e3).sum }

  private def isMarker(g: String) = g != null && g.startsWith("perfbench-drain-")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    if (isMarker(g)) markerJobs.put(e.jobId, g)
    else {
      jobs.incrementAndGet()
      jobStarts.add((e.time, g))
      jobSpanStart.put(e.jobId, (e.time, g))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(markerJobs.remove(e.jobId)).foreach(sentinels.add)
    Option(jobSpanStart.remove(e.jobId)).foreach { case (t0, g) =>
      Trace.record("spark.job", Trace.ambientParent, t0 * 1000, e.time * 1000,
        Map("job" -> e.jobId, "group" -> Option(g).getOrElse("")))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val run = Option(stageRunMs.remove(si.stageId)).map(_.get).getOrElse(0L)
    (si.submissionTime, si.completionTime) match {
      case (Some(s), Some(c)) if c >= s =>
        stages.incrementAndGet()
        val slots = (c - s) * cores
        stageSlotMs.addAndGet(slots)
        stageIdleMs.addAndGet(math.max(0L, slots - run))
      case _ =>
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      tasks.incrementAndGet()
      taskCpuNs.addAndGet(m.executorCpuTime)
      taskRunMs.addAndGet(m.executorRunTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleReadB.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWriteB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillB.addAndGet(m.diskBytesSpilled)
      stageRunMs.computeIfAbsent(e.stageId, _ => new AtomicLong).addAndGet(m.executorRunTime)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    qe.tracker.phases.foreach { case (name, ps) =>
      phases.add(Phase(name, ps.startTimeMs, ps.endTimeMs))
      Trace.record(s"catalyst.$name", Trace.ambientParent, ps.startTimeMs * 1000, ps.endTimeMs * 1000)
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def metrics(): Map[String, Double] = {
    val slot = stageSlotMs.get().toDouble
    Map(
      "spark.jobs" -> jobs.get().toDouble,
      "spark.stages" -> stages.get().toDouble,
      "spark.tasks" -> tasks.get().toDouble,
      "spark.task_cpu_s" -> taskCpuNs.get() / 1e9,
      "spark.task_run_s" -> taskRunMs.get() / 1e3,
      "spark.stage_idle_share" -> (if (slot > 0) stageIdleMs.get() / slot else 0.0),
      "spark.shuffle_read_mb" -> shuffleReadB.get() / 1e6,
      "spark.shuffle_write_mb" -> shuffleWriteB.get() / 1e6,
      "spark.spill_mb" -> spillB.get() / 1e6,
      "spark.gc_s" -> gcMs.get() / 1e3)
  }
}

object SparkLayer {
  final case class Phase(name: String, startMs: Long, endMs: Long)
}

/** Per-layer figures shared by the sink workloads. */
object Layers {
  /** Sink and ingest figures from the staged files the timing wrapper saw. */
  def sinkAndIngest(calls: Seq[IngestCall]): Map[String, Double] = {
    val files = calls.filter(_.ok)
    val raw = files.map(_.rawBytes).sum.toDouble
    val gz = files.map(_.gzBytes).sum.toDouble
    val ms = calls.map(_.ms)
    Map(
      "sink.files_rolled" -> files.size.toDouble,
      "sink.raw_mb" -> raw / 1e6,
      "sink.gzip_ratio" -> (if (gz > 0) raw / gz else 0.0),
      "sink.records_per_file" -> (if (files.nonEmpty) files.map(_.records).sum.toDouble / files.size else 0.0),
      "ingest.calls" -> calls.size.toDouble,
      "ingest.busy_s" -> ms.sum / 1e3,
      "ingest.call_ms_p50" -> Stats.median(ms),
      "ingest.call_ms_p99" -> Stats.quantile(ms, 0.99),
      "ingest.success_frac" -> (if (calls.nonEmpty) files.size.toDouble / calls.size else 0.0))
  }
}
