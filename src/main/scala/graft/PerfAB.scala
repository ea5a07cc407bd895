package graft

import org.apache.spark.sql.SparkSession

/** Interleaved perf A/B for registered queries (perf work only — the
  * driver never runs this). Runs each named query `reps` times per
  * variant, ALTERNATING variants within one JVM so JIT/GC/load drift
  * hits both sides equally (the round-15/17 lesson: sequential A-then-B
  * comparisons recorded up to 2× phantoms). A variant is a comma-joined
  * set of `conf:<runtime SQL conf>=<value>` settings, applied over the
  * engine's session policy before each run and cleared after.
  *
  *   runMain graft.PerfAB q146 7 conf:spark.sql.adaptive.enabled=true conf:spark.sql.adaptive.enabled=false
  *
  * prints per-variant min/median plus every raw sample. Flags among the
  * variants: `--jobs` prints every Spark job's and stage's wall time
  * (the per-stage profile for loop-heavy queries); `--split` reports
  * build and execute time separately.
  */
object PerfAB {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = args(0).split(',').toSeq
    val reps = args(1).toInt
    val (flags, rest) = args.drop(2).toSeq.partition(_.startsWith("--"))
    val variants: Seq[String] = if (rest.isEmpty) Seq("") else rest
    // a variant element "conf:spark.x.y=z" sets a runtime SQLConf for the
    // run (restored after); anything else fails here, before any run
    val settings = variants.map(v => v -> v.split(',').toSeq.filter(_.nonEmpty).map { kv =>
      require(kv.startsWith("conf:") && kv.contains("="), s"variant element '$kv' is not conf:<key>=<value>")
      val Array(k, value) = kv.stripPrefix("conf:").split("=", 2)
      k -> value
    }).toMap
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // policy first: a variant then overrides it, and clearing the variant
    // restores the policy value rather than Spark's default
    Graft.prepare(spark)
    spark.sparkContext.setLogLevel("WARN")
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => names.exists(n.contains) }
    require(queries.nonEmpty, s"no query matches ${names.mkString(",")}")

    if (flags.contains("--jobs")) spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        private val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
        override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          val label = js.stageInfos.map(si => s"${si.name.takeWhile(_ != '\n').take(60)}[${si.numTasks}]")
            .mkString(" <- ")
          starts.put(js.jobId, (System.nanoTime(), label.take(200)))
        }
        override def onJobEnd(je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          Option(starts.remove(je.jobId)).foreach { case (t0, site) =>
            println(f"JOB ${je.jobId}%4d ${(System.nanoTime() - t0) / 1e9}%7.3f s  $site")
          }
        }
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val si = sc.stageInfo
          val wall = (for { s <- si.submissionTime; c <- si.completionTime } yield (c - s) / 1e3)
            .getOrElse(-1.0)
          val tm = si.taskMetrics
          println(f"STAGE ${si.stageId}%4d tasks=${si.numTasks}%3d wall=$wall%7.3f run=${tm.executorRunTime / 1e3}%7.2f cpu=${tm.executorCpuTime / 1e9}%7.2f gc=${tm.jvmGCTime / 1e3}%5.2f in=${tm.inputMetrics.recordsRead}%9d sr=${tm.shuffleReadMetrics.recordsRead}%9d sw=${tm.shuffleWriteMetrics.recordsWritten}%9d  ${si.name.takeWhile(_ != '\n').take(50)}")
        }
      })

    val savedConf = scala.collection.mutable.Map.empty[String, Option[String]]
    def applyVariant(v: String): Unit = settings(v).foreach { case (key, value) =>
      savedConf(key) = spark.conf.getOption(key)
      spark.conf.set(key, value)
    }
    def clearVariant(v: String): Unit = settings(v).foreach { case (key, _) =>
      savedConf.remove(key).foreach {
        case Some(old) => spark.conf.set(key, old)
        case None => spark.conf.unset(key)
      }
    }

    // warm-up: one run of each (query, variant) pair, unrecorded
    for ((name, fn) <- queries; v <- variants) {
      applyVariant(v)
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      finally clearVariant(v)
      val _ = name
    }
    val samples = scala.collection.mutable.Map
      .empty[(String, String), List[Double]].withDefaultValue(Nil)
    // build = compile incl. any loop actions; execute = the noop write
    val split = flags.contains("--split")
    for (_ <- 1 to reps; (name, fn) <- queries; v <- variants) {
      applyVariant(v)
      def gcMillis(): Long = {
        import scala.jdk.CollectionConverters._
        java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
          .map(_.getCollectionTime).sum
      }
      val gc0 = gcMillis()
      val t0 = System.nanoTime()
      try {
        val df = fn(spark, sfDir)
        val t1 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val t2 = System.nanoTime()
        if (split) println(f"SPLIT $name ${if (v.isEmpty) "<none>" else v} build=${(t1 - t0) / 1e9}%.3f exec=${(t2 - t1) / 1e9}%.3f gc=${(gcMillis() - gc0) / 1e3}%.3f")
      } finally clearVariant(v)
      val dt = (System.nanoTime() - t0) / 1e9
      samples((name, v)) = dt :: samples((name, v))
    }
    for ((name, _) <- queries; v <- variants) {
      val xs = samples((name, v)).sorted
      val med = xs(xs.size / 2)
      println(f"AB $name%-32s ${if (v.isEmpty) "<none>" else v}%-40s min=${xs.head}%.3f med=$med%.3f raw=${xs.map(x => f"$x%.2f").mkString(",")}")
    }
    spark.stop()
  }
}
