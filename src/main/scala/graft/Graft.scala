package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

/** One-call session setup — the library's front door.
  *
  * `Graft.init(spark, dataDir)` registers every engine table as a temp
  * view (with the events nanos→timestamp normalization) and the native
  * text/vector SQL functions, after which the full surface is reachable
  * three ways:
  *
  *  - plain Spark SQL: `spark.sql("SELECT simhash32(text) FROM documents")`
  *  - KQL text: `Graft.kql(spark, "events | where value > 50 | count")`
  *  - the prebuilt operators: `SparkEntry.queries("q22_minhash_lsh")(spark, dir)`
  */
object Graft {

  /** The engine's optimizer rules. [[prepare]] installs them into
    * `experimental.extraOptimizations`; [[GraftExtensions]] injects the
    * same list, so the library and cluster paths cannot drift. */
  val optimizerRules: Seq[Rule[LogicalPlan]] =
    Seq(graft.plans.NanosTimePushdown, graft.plans.DeferProjectPastSort)

  /** Sessions [[prepare]] has set up, held weakly and by identity
    * (`SparkSession` does not override `equals`); also the lock. */
  private val prepared = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  /** Applies the engine's session policy once per session (thread-safe;
    * later calls do nothing, so values set after the first call — the
    * LLM opt-ins, a `PerfAB` variant — stay):
    *  - `nanosAsLong`: older testdata stored parquet TIMESTAMP(NANOS),
    *    which Spark's reader otherwise rejects ([[Tables.events]]).
    *  - size-first AQE coalescing: Spark's `parallelismFirst=true` keeps
    *    ~defaultParallelism tiny tasks per exchange, and a 32-core run
    *    spent more time scheduling them than an 8-core run computing
    *    (per-query A/Bs up to 1.44×, q226 1.41→0.98 s).
    *  - [[optimizerRules]], for sessions built without [[GraftExtensions]].
    *  - streaming checkpoints through
    *    [[graft.streaming.LocalCheckpointFileManager]], unless the session
    *    already names a manager: on local disk Spark's default starts
    *    about 20 `readlink`/`chmod` processes per micro-batch (no native
    *    Hadoop library); other schemes keep Spark's default manager. */
  def prepare(spark: SparkSession): SparkSession = {
    prepared.synchronized {
      if (prepared.add(spark)) {
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        val checkpoints = graft.streaming.LocalCheckpointFileManager.ClassKey
        if (spark.conf.getOption(checkpoints).isEmpty)
          spark.conf.set(checkpoints, classOf[graft.streaming.LocalCheckpointFileManager].getName)
        val have = spark.experimental.extraOptimizations
        spark.experimental.extraOptimizations ++= optimizerRules.filterNot(r => have.exists(_ eq r))
      }
    }
    spark
  }

  /** Applies the engine policy ([[prepare]]), then registers all tables
    * under `dataDir` as temp views plus the native functions
    * (word_shingles, word_shingle_hashes, minhash_sig, simhash32,
    * winnow_fps, dot_d). Idempotent.
    *
    * NOTE: the function registration also opts THIS session into the LLM
    * module's optimizer and coalescing settings (`InferFiltersFromGenerate`
    * excluded, `parallelismFirst=true` — see
    * [[graft.queries.LlmQueries.registerFunctions]]). The prebuilt
    * `SparkEntry.queries` never need init and keep those settings scoped
    * to their own child sessions; for function registration WITHOUT the
    * opt-ins, use `spark.sql.extensions=graft.GraftExtensions` or
    * [[graft.functions.GraftFunctions.register]]. */
  def init(spark: SparkSession, dataDir: String): SparkSession = {
    graft.queries.LlmQueries.registerFunctions(prepare(spark))
    // normalized views (events gets its timestamp column converted)
    Seq(
      "region" -> Tables.region(spark, dataDir),
      "nation" -> Tables.nation(spark, dataDir),
      "customer" -> Tables.customer(spark, dataDir),
      "supplier" -> Tables.supplier(spark, dataDir),
      "part" -> Tables.part(spark, dataDir),
      "orders" -> Tables.orders(spark, dataDir),
      "lineitem" -> Tables.lineitem(spark, dataDir),
      "events" -> Tables.events(spark, dataDir),
      "documents" -> Tables.documents(spark, dataDir),
      "embeddings" -> Tables.embeddings(spark, dataDir)
    ).foreach { case (n, df) => df.createOrReplaceTempView(n) }
    spark
  }

  /** Run KQL text against the views registered by [[init]]. */
  def kql(spark: SparkSession, query: String): DataFrame =
    graft.kql.KqlCompiler.compile(spark, query)
}
