package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated test tables (TESTDATA.md).
  *
  * All engine queries take an `sfDir` (scale-factor directory) and read
  * parquet from it; at cluster scale the same code path reads a
  * partitioned table root, so nothing here assumes single-file inputs.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Parquet footer schemas, one entry per table path, so repeated
    * reads of the same table skip the per-read schema-INFERENCE job
    * (`spark.read.parquet` with no declared schema samples footers in a
    * driver job — 30–100 ms per call here, and a many-file listing+read
    * at a 100 TB table root). This is the in-repo equivalent of a
    * metastore-declared schema: METADATA only — no rows, no statistics,
    * no results are retained. Each entry carries the [[fingerprint]] it
    * was inferred under; a changed fingerprint re-infers and replaces
    * the entry, so the map stays bounded by the number of tables. */
  private val schemaCache = new java.util.concurrent.ConcurrentHashMap[
    String, (String, org.apache.spark.sql.types.StructType)]()

  /** (mtime, size) of a table file; for a directory-backed table, the
    * (relative name, mtime, size) of every file under it — rewriting a
    * part file in place changes neither the directory's mtime nor its
    * size. None when the path cannot be read (no caching). */
  private def fingerprint(path: String): Option[String] = try {
    import java.nio.file.{Files, Path, Paths}
    import java.nio.file.attribute.BasicFileAttributes
    def stamp(p: Path): String = {
      val a = Files.readAttributes(p, classOf[BasicFileAttributes])
      s"${a.lastModifiedTime.toMillis}:${a.size}"
    }
    val root = Paths.get(path)
    if (!Files.isDirectory(root)) Some(stamp(root))
    else {
      val walk = Files.walk(root)
      try {
        val files = walk.filter(Files.isRegularFile(_)).toArray.map(_.asInstanceOf[Path])
        Some(files.map(f => s"${root.relativize(f)}@${stamp(f)}").sorted.mkString("|"))
      } finally walk.close()
    }
  } catch { case scala.util.control.NonFatal(_) => None }

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // Older testdata vintages stored parquet TIMESTAMP(NANOS), which
    // Spark's reader rejects outright; keep reading those as a nanos long
    // (TESTDATA tables are driver-generated, not ours to rewrite).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // Engine execution policy (round 21, guide §2.2): coalesce
    // post-shuffle partitions to the advisory SIZE rather than keeping
    // ~defaultParallelism tiny tasks. Spark's `parallelismFirst=true`
    // default ignores advisoryPartitionSizeInBytes and floors partitions
    // at minPartitionSize (1 MB) to maximize parallelism — the setting
    // the docs themselves recommend turning off for resource efficiency.
    // Measured here: a 32-core run spent more wall scheduling 32 micro-
    // tasks per exchange than an 8-core run spent computing (full-suite
    // 153 s at 32c vs 123 s at 8c, median per-query 8c/32c ratio 0.80);
    // with size-first coalescing, per-query interleaved A/Bs improve up
    // to 1.44× (q226 1.41→0.98 s) across the KQL/relational families.
    // At data scale this is the guide's recommended posture outright
    // (fewer, larger reduce partitions). Sessions whose stages are
    // byte-small but CPU-superlinear (the LLM dedup/kernel module) opt
    // OUT via the marker conf set in LlmShared.registerFunctions —
    // bytes do not predict CPU for posting-list pair explodes, and
    // size-first coalescing serialized their hottest loops (measured
    // q24 2.15→3.23 s).
    if (!spark.conf.getOption("spark.graft.aqe.keepParallelismFirst").contains("true"))
      spark.conf.set("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
    // Self-install the trailing-sort projection deferral (see the rule's
    // doc) for sessions built without GraftExtensions — every engine
    // query reads through here, the NanosTimePushdown pattern. The
    // check-then-append is synchronized on the session (ADVICE r20): two
    // threads reading tables concurrently on a fresh session could both
    // pass the exists() check and register the rule twice.
    val deferRule = graft.plans.DeferProjectPastSort
    spark.synchronized {
      if (!spark.experimental.extraOptimizations.exists(_ eq deferRule))
        spark.experimental.extraOptimizations ++= Seq(deferRule)
    }
    val path = s"$sfDir/$name.parquet"
    val df = fingerprint(path) match {
      case Some(fp) =>
        val cached = schemaCache.get(path)
        val schema =
          if (cached != null && cached._1 == fp) cached._2
          else {
            val inferred = spark.read.parquet(path).schema
            schemaCache.put(path, (fp, inferred))
            inferred
          }
        spark.read.schema(schema).parquet(path)
      case None => spark.read.parquet(path)
    }
    // Current testdata stores timestamps as TIMESTAMP(MICROS) without a
    // timezone flag, which Spark surfaces as TIMESTAMP_NTZ. The engine's
    // time surface (unix_millis, window(), as-of joins, KQL datetime ring)
    // is built on TimestampType; with the session pinned to UTC the cast is
    // an identity on the underlying micros, so normalize here once.
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    val ntz = df.schema.fields.filter(_.dataType == TimestampNTZType)
    if (ntz.isEmpty) df
    else ntz.foldLeft(df)((d, f) => d.withColumn(f.name, col(f.name).cast(TimestampType)))
  }

  def lineitem(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "part")
  def nation(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "region")
  /** Surface `ts` as a proper TimestampType column regardless of how the
    * generator wrote it. Older testdata stored parquet TIMESTAMP(NANOS)
    * (read back as a nanos long via `nanosAsLong`); current testdata stores
    * TIMESTAMP(MICROS), which Spark reads natively. Branch on the actual
    * type so either vintage works. For the long form, integer `div` (not
    * `/`, which is double division and loses precision above 2^53) keeps
    * exact microseconds, and [[graft.plans.NanosTimePushdown]] keeps time
    * predicates pruning parquet row groups via the raw long.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    val df = apply(spark, sfDir, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        val rule = graft.plans.NanosTimePushdown
        spark.synchronized {
          if (!spark.experimental.extraOptimizations.exists(_ eq rule))
            spark.experimental.extraOptimizations ++= Seq(rule)
        }
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => df
    }
  }
  def documents(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "embeddings")
}
