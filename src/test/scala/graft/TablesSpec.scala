package graft

import java.nio.file.{Files, Path, StandardCopyOption}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** `Tables` reads without changing the session, the engine policy
  * `Graft.prepare` applies instead, and the footer-schema cache. */
class TablesSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  override def afterAll(): Unit = spark.stop()

  /** The single parquet part file Spark wrote under `dir`. */
  private def partFile(dir: Path): Path = {
    val ls = Files.list(dir)
    try ls.toArray.map(_.asInstanceOf[Path])
      .filter(p => p.getFileName.toString.startsWith("part-")).head
    finally ls.close()
  }

  test("schema cache: a part file rewritten in place under an unchanged directory is re-inferred") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("tables-spec")
    // v1 / v2 differ by one column; copy their part files by hand so the
    // table directory holds exactly one file and no checksum sidecars
    Seq((1L, "a")).toDF("id", "v").coalesce(1).write.parquet(tmp.resolve("v1").toString)
    Seq((1L, "a", 7L)).toDF("id", "v", "extra").coalesce(1)
      .write.parquet(tmp.resolve("v2").toString)
    val table = Files.createDirectory(tmp.resolve("t.parquet"))
    val part = table.resolve("part-00000.parquet")
    Files.copy(partFile(tmp.resolve("v1")), part)
    assert(Tables(spark, tmp.toString, "t").columns.toSeq == Seq("id", "v"))
    val dirMtime = Files.getLastModifiedTime(table)
    Files.copy(partFile(tmp.resolve("v2")), part, StandardCopyOption.REPLACE_EXISTING)
    Files.setLastModifiedTime(table, dirMtime)
    val again = Tables(spark, tmp.toString, "t")
    assert(again.columns.toSeq == Seq("id", "v", "extra"))
    assert(again.collect().head.getLong(2) == 7L)
  }

  test("LLM AQE opt-out holds when Tables.apply runs before registerFunctions") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("tables-spec")
    Seq((1L, "a")).toDF("doc_id", "text").write.parquet(tmp.resolve("documents.parquet").toString)
    val key = "spark.sql.adaptive.coalescePartitions.parallelismFirst"
    val prepared = Graft.prepare(spark.newSession())
    assert(prepared.conf.get(key) == "false", "engine policy: size-first coalescing")
    val registeredFirst = Graft.prepare(spark.newSession())
    graft.queries.LlmQueries.registerFunctions(registeredFirst)
    Tables(registeredFirst, tmp.toString, "documents")
    assert(registeredFirst.conf.get(key) == "true")
    val readFirst = Graft.prepare(spark.newSession())
    Tables(readFirst, tmp.toString, "documents")
    graft.queries.LlmQueries.registerFunctions(readFirst)
    assert(readFirst.conf.get(key) == "true")
    Graft.prepare(readFirst)
    assert(readFirst.conf.get(key) == "true", "a second prepare keeps the caller's value")
  }

  test("reading every table through Tables changes no session conf and no optimizer rule") {
    val (fresh, dir) = (spark.newSession(), "/root/testdata/sf0.001")
    val conf = fresh.conf.getAll
    val rules = fresh.experimental.extraOptimizations
    Tables.names.foreach(Tables(fresh, dir, _))
    Tables.events(fresh, dir)
    assert(fresh.conf.getAll == conf)
    assert(fresh.experimental.extraOptimizations == rules)
  }
}
