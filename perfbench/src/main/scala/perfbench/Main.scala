package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession

/** Command-line options the launcher (`run.py`) passes to the harness JVM. */
final case class Opts(
    workload: String = "",
    seed: Long = 1,
    seconds: Double = 10,
    trace: Boolean = false,
    master: String = s"local[${Runtime.getRuntime.availableProcessors}]",
    // source partitions P: one per processor, also under local[1]
    partitions: Int = Runtime.getRuntime.availableProcessors,
    out: Path = Path.of(".bench_build", "out"),
    tables: String = "",
    queries: String = "",
    baseline: Boolean = false)

/** What one workload pass measured. `e2e` holds the end-to-end metrics,
  * `layers` the per-layer ones (filled only when the pass was traced),
  * `detail` named figures printed for people (not part of the contract
  * line), `rows` the per-query or per-batch artifact rows. */
final case class Pass(
    e2e: Map[String, Double],
    layers: Map[String, Double] = Map.empty,
    detail: Seq[(String, Double, String)] = Nil,
    rows: Seq[Map[String, Any]] = Nil,
    attempted: Long,
    failed: Long,
    checks: Seq[Check])

final case class Check(name: String, ok: Boolean, info: String)

/** Shared run context: the session, options and a scratch area inside
  * the output directory. */
final class Env(val spark: SparkSession, val opts: Opts) {
  val cores: Int = spark.sparkContext.defaultParallelism
  val work: Path = opts.out.resolve("work")
  private var n = 0

  /** A new empty directory under the scratch area. */
  def fresh(name: String): Path = synchronized {
    n += 1
    val p = work.resolve(f"$n%03d-$name")
    Env.deleteTree(p)
    Files.createDirectories(p)
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  lazy val layer: SparkLayer = {
    val l = new SparkLayer(spark, cores)
    l.install()
    l
  }
}

object Env {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))

  /** Regular files left anywhere under `p`. */
  def filesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(f => Files.isRegularFile(f)).count() finally s.close()
    }
}

/** A workload: set-up (repeatable, timed by the caller) and one measured
  * pass, which is run untraced and, for a traced run, traced again.
  * `close` releases what the last set-up or pass holds; the caller runs
  * it before every set-up, untimed, and at the end. */
trait Workload {
  def setup(env: Env): Unit
  def pass(env: Env, traced: Boolean): Pass
  def close(env: Env): Unit = ()
}

object Main {
  val SetupReps = 3

  def parse(args: Array[String]): Opts = {
    def go(o: Opts, rest: List[String]): Opts = rest match {
      case Nil => o
      case "--workload" :: v :: t => go(o.copy(workload = v), t)
      case "--seed" :: v :: t => go(o.copy(seed = v.toLong), t)
      case "--seconds" :: v :: t => go(o.copy(seconds = v.toDouble), t)
      case "--trace" :: v :: t => go(o.copy(trace = v == "1"), t)
      case "--master" :: v :: t => go(o.copy(master = v), t)
      case "--out" :: v :: t => go(o.copy(out = Path.of(v)), t)
      case "--tables" :: v :: t => go(o.copy(tables = v), t)
      case "--queries" :: v :: t => go(o.copy(queries = v), t)
      case "--baseline" :: t => go(o.copy(baseline = true), t)
      case other :: _ => throw new IllegalArgumentException(s"unknown argument $other")
    }
    go(Opts(), args.toList)
  }

  def session(opts: Opts): SparkSession = {
    val spark = SparkSession.builder()
      .master(opts.master)
      .appName(s"perfbench-${opts.workload}")
      .config("spark.sql.shuffle.partitions", opts.partitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def workload(name: String): Workload = name match {
    case "sink-backfill" => new Backfill
    case "sink-stream" => new StreamSink
    case "query-suite" => new QuerySuite
    case "calibrate" => new Calibrate
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    val w = workload(opts.workload)
    Env.deleteTree(opts.out)
    Files.createDirectories(opts.out)
    Trace.runId = s"${opts.workload}-s${opts.seed}-${System.currentTimeMillis()}"
    val spark = session(opts)
    val env = new Env(spark, opts)
    try {
      val reps = if (opts.baseline) 1 else SetupReps
      val setups = (1 to reps).map { _ => w.close(env); env.timed(w.setup(env))._2 }
      val plain = w.pass(env, traced = false)
      val traced = if (opts.trace) Some(try w.pass(env, traced = true) finally Trace.enabled = false) else None
      w.close(env)
      val probe = if (opts.trace && opts.workload == "sink-stream") Some(backfillProbe(env)) else None
      System.gc()
      val heapMb = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
      val passes = plain +: (traced.toSeq ++ probe.toSeq)
      val checks = passes.flatMap(_.checks)
      val e2e = plain.e2e + ("setup_s" -> Stats.median(setups))
      val layers = traced.map { t =>
        val overhead = t.e2e.map { case (k, v) => s"trace.overhead.$k" -> (v - plain.e2e(k)) }
        t.layers ++ overhead ++ probe.map(_.layers).getOrElse(Map.empty) +
          ("jvm.heap_used_mb" -> heapMb)
      }.getOrElse(Map.empty)
      val rows = traced.getOrElse(plain).rows
      if (rows.nonEmpty) {
        val sb = new StringBuilder
        rows.foreach(r => sb.append(Json.obj(r.toSeq: _*)).append('\n'))
        Files.write(opts.out.resolve("rows.jsonl"), sb.toString.getBytes("UTF-8"))
      }
      if (opts.trace) Trace.write(opts.out.resolve("spans.jsonl"))
      val detail = (plain.detail ++
        traced.toSeq.flatMap(_.detail.map { case (k, v, u) => (s"traced.$k", v, u) }) ++
        probe.toSeq.flatMap(_.detail.map { case (k, v, u) => (s"backfill.$k", v, u) }))
        .map { case (k, v, u) => Map("name" -> k, "value" -> v, "unit" -> u) }
      val result = Json.obj(
        "workload" -> opts.workload,
        "seed" -> opts.seed,
        "master" -> opts.master,
        "cores" -> env.cores,
        "correct" -> checks.forall(_.ok),
        "attempted" -> passes.map(_.attempted).sum,
        "failed" -> passes.map(_.failed).sum,
        "setup_samples_s" -> setups,
        "e2e" -> e2e,
        "layers" -> layers,
        "detail" -> detail,
        "checks" -> checks.map(c => Map("name" -> c.name, "ok" -> c.ok, "info" -> c.info)),
        "loadavg" -> loadavg())
      Files.write(opts.out.resolve("result.json"), result.getBytes("UTF-8"))
      println("PERFBENCH_RESULT " + result)
    } finally {
      spark.stop()
      Env.deleteTree(env.work)
    }
  }

  /** The backfill probe inside a traced stream run: three measured
    * batches, traced, for the layer figures that need the per-record path
    * on its own. Its checks count like the stream's. */
  private def backfillProbe(env: Env): Pass = {
    val b = new Backfill(seconds = Some(0.0))
    b.setup(env)
    try {
      val p = try b.pass(env, traced = true) finally Trace.enabled = false
      val keep = Set("sources.scan_s", "sink.encode_stage_s.json", "sink.encode_stage_s.csv",
        "sink.encode_stage_s.avro")
      p.copy(layers = p.layers.filter { case (k, _) => keep(k) } +
        ("pipeline.backfill_records_per_s" -> p.e2e("throughput_per_s")))
    } finally b.close(env)
  }

  def loadavg(): Seq[Double] =
    try new String(Files.readAllBytes(Path.of("/proc/loadavg")), "UTF-8")
      .split("\\s+").take(3).toSeq.map(_.toDouble)
    catch { case _: Exception => Nil }
}
