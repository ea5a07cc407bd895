package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.queries.{KqlQueries, RelationalQueries, PipelineQueries, LlmQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(session: SparkSession): DataFrame = {
    val spark = Graft.prepare(session)
    RelationalQueries.queries("q10_pricing_summary")(spark, "/root/testdata/sf0.001")
  }

  private val modules = Seq(KqlQueries, RelationalQueries, PipelineQueries, LlmQueries)

  /** One entry per implemented operator from SURVEY.md §2. Each applies
    * the engine's session policy ([[Graft.prepare]]) before it builds. */
  val queries: Map[String, (SparkSession, String) => DataFrame] = {
    val maps = modules.map(_.queries)
    val dup = maps.flatMap(_.keys).groupBy(identity).collect { case (k, vs) if vs.size > 1 => k }
    require(dup.isEmpty, s"duplicate query keys across modules: $dup")
    maps.reduce(_ ++ _).map { case (k, f) =>
      k -> ((s: SparkSession, d: String) => f(Graft.prepare(s), d))
    }
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  val oracleSql: Map[String, String] = modules.map(_.oracles).reduce(_ ++ _)
}
