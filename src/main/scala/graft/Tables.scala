package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated test tables (TESTDATA.md).
  *
  * All engine queries take an `sfDir` (scale-factor directory) and read
  * parquet from it; at cluster scale the same code path reads a
  * partitioned table root, so nothing here assumes single-file inputs.
  *
  * Loaders only: they read and never change the session. Engine policy
  * (conf and optimizer rules) lives in [[Graft.prepare]].
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
    * (read back as a nanos long via the `nanosAsLong` policy that
    * [[Graft.prepare]] sets); current testdata stores
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
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => df
    }
  }
  def documents(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "embeddings")
}
