package graft.pipeline

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** `KqlTransform` reads its source once per batch, and its output equals
  * the two-branch formulation (target rows transformed, union the rest
  * passed through) row for row and value for value. */
class KqlTransformSpec extends AnyFunSuite with BeforeAndAfterAll {
  import KqlTransformSpec.KRecord
  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("kql-transform")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val valueSchema = StructType(Seq(
    StructField("vtype", StringType), StructField("vlong", LongType), StructField("note", StringType)))

  private def rec(topic: String, offset: Long, value: String, key: String = null) =
    KRecord(topic, (offset % 3).toInt, offset, Option(key).map(_.getBytes(UTF_8)).orNull,
      Option(value).map(_.getBytes(UTF_8)).orNull)

  /** Target records of every shape, tombstones, and other topics. */
  private val fixture: Seq[KRecord] =
    (0 until 24).map(i => rec("t", i,
      s"""{"vtype":"${Seq("keep", "debug", "keep", "x")(i % 4)}","vlong":$i,"note":"n$i"}""", s"k$i")) ++
      Seq(
        rec("t", 100, """{"vtype":null,"vlong":null}"""), // where over null
        rec("t", 101, """{"vlong":5}"""), // vtype missing
        rec("t", 102, "not json at all"), // malformed
        rec("t", 103, "null"), // JSON null
        rec("t", 104, null), // tombstone of the target topic
        rec("t", 105, """{"vtype":"keep","vlong":4000000000000000000}"""),
        rec("other", 200, """{"vtype":"debug","vlong":1}"""), // other topic, JSON
        rec("other", 201, "a,b,c"), // other topic, CSV
        rec("other", 202, null)) // other topic tombstone

  private val transforms = Seq(
    "src | where vtype != 'debug' | extend vdouble = vlong * 2",
    "src | where isnull(vtype) or vlong > 10",
    "src | project-away note",
    "src | project-rename kind = vtype | where kind == 'keep'",
    "src | extend tag = strcat(vtype, '-', note) | project-away vlong | where tag != 'x-n3'",
    "src")

  /** The two-branch formulation `KqlTransform` replaced: the source read
    * once for the transformed target rows and once for the rest. */
  private def unionOracle(df: DataFrame, topic: String, schema: StructType, kql: String): DataFrame = {
    val meta = Seq("topic", "partition", "offset", "key", "headers").filter(df.columns.contains)
    val isTarget = col("topic") === topic && col("value").isNotNull
    val passthrough = df.filter(!coalesce(isTarget, lit(false))).select(meta.map(col) :+ col("value"): _*)
    val parsed = df.filter(isTarget)
      .withColumn("__v", from_json(col("value").cast("string"), schema))
      .select(meta.map(col) ++ schema.fieldNames.map(f => col(s"__v.$f").as(f)): _*)
    val transformed = graft.kql.KqlCompiler.compile(kql, _ => parsed)
    val valueCols = transformed.columns.filterNot(meta.contains)
    transformed.select(meta.map(col) :+ to_json(struct(valueCols.map(col): _*)).cast("binary").as("value"): _*)
      .unionByName(passthrough)
  }

  private def rows(df: DataFrame): Seq[String] =
    df.select(col("topic"), col("partition"), col("offset"),
      col("key").cast("string"), col("value").cast("string")).collect()
      .map(_.toSeq.mkString("|")).sorted.toSeq

  test("output equals the two-branch union row for row and value for value") {
    import spark.implicits._
    val df = fixture.toDF()
    for (kql <- transforms) {
      val got = KqlTransform(df, "t", valueSchema, kql)
      assert(got.columns.toSeq == Seq("topic", "partition", "offset", "key", "value"), kql)
      assert(got.schema == unionOracle(df, "t", valueSchema, kql).schema, kql)
      val (g, want) = (rows(got), rows(unionOracle(df, "t", valueSchema, kql)))
      assert(g == want, s"$kql\n got: ${g.diff(want)}\nwant: ${want.diff(g)}")
    }
    // the fixture reaches every branch: filtered-out and kept target rows,
    // tombstones and other topics passed through untouched
    val out = rows(KqlTransform(df, "t", valueSchema, transforms.head))
    assert(out.size < fixture.size && out.count(_.startsWith("other|")) == 3)
    assert(out.exists(_.endsWith("|null")) && out.contains("other|0|201|null|a,b,c"))
  }

  test("a stream batch reads each source record once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[KRecord]
    val shaped = KqlTransform(stream.toDF(), "t", valueSchema, transforms.head)
    assert(shaped.queryExecution.analyzed.collectLeaves().count(_.isStreaming) == 1,
      shaped.queryExecution.analyzed.treeString)
    val sunk = new java.util.concurrent.ConcurrentLinkedQueue[Row]()
    val q = shaped.writeStream
      .option("checkpointLocation", java.nio.file.Files.createTempDirectory("kqlx-ck").toString)
      .foreachBatch((b: DataFrame, _: Long) => b.collect().foreach(sunk.add))
      .start()
    try {
      stream.addData(fixture)
      q.processAllAvailable()
      val withRows = q.recentProgress.filter(_.numInputRows > 0)
      assert(withRows.map(_.numInputRows).toSeq == Seq(fixture.size.toLong))
      assert(q.lastProgress.numInputRows == fixture.size)
    } finally q.stop()
    assert(sunk.size == rows(unionOracle(fixture.toDF(), "t", valueSchema, transforms.head)).size)
  }

  test("the where stays above one parse: one from_json, the source's value once, the filter in codegen") {
    import org.apache.spark.sql.catalyst.expressions.{JsonToStructs, Sha1}
    import org.apache.spark.sql.execution.{FilterExec, InputAdapter, SparkPlan, WholeStageCodegenExec}
    // a computed `value`, the shape of a generated kafka source; `sha1`
    // appears in it and nowhere else, so it counts the value's copies
    val h = pmod(xxhash64(col("id")), lit(4))
    val level = element_at(array(lit("debug"), lit("info"), lit("warn")), (h + 1).cast("int"))
    val src = spark.range(0, 400, 1, 4).select(
      when(col("id") % 5 === 0, lit("other")).otherwise(lit("t")).as("topic"),
      (col("id") % 4).cast("int").as("partition"), col("id").as("offset"), lit(null).cast("binary").as("key"),
      when(h === 3, lit(null)).otherwise(to_json(struct(col("id").as("vlong"), level.as("vtype"),
        sha1(col("id").cast("string")).as("note")))).cast("binary").as("value"))
    val shaped = KqlTransform(src, "t", valueSchema, transforms.head)
    val plan = shaped.queryExecution.executedPlan
    def count(p: SparkPlan)(hit: PartialFunction[org.apache.spark.sql.catalyst.expressions.Expression, Unit]) =
      p.collect { case n => n.expressions.map(_.collect(hit).size).sum }.sum
    assert(count(plan) { case _: JsonToStructs => }  == 1, plan.treeString)
    assert(count(plan) { case _: Sha1 => } == 1, plan.treeString)
    // filters a codegen stage runs: its subtree down to its InputAdapters
    def stage(p: SparkPlan): Seq[SparkPlan] = p match {
      case _: InputAdapter => Nil
      case f: FilterExec => f +: f.children.flatMap(stage)
      case other => other.children.flatMap(stage)
    }
    val filters = plan.collect { case f: FilterExec => f }
    val inCodegen = plan.collect { case w: WholeStageCodegenExec => stage(w.child) }.flatten
    assert(filters.nonEmpty && filters.forall(f => inCodegen.exists(_ eq f)), plan.treeString)
    // and the rows are still the two-branch union's
    assert(rows(shaped) == rows(unionOracle(src, "t", valueSchema, transforms.head)))
  }

  test("a transform that is not row-wise fails at construction") {
    import spark.implicits._
    val df = fixture.toDF().drop("key")
    val agg = intercept[IllegalArgumentException](KqlTransform(df, "t", valueSchema,
      "src | summarize n = count() by topic, partition, offset, vtype"))
    assert(agg.getMessage.contains("row-wise") && agg.getMessage.contains("Aggregate"), agg.getMessage)
    val take = intercept[IllegalArgumentException](KqlTransform(df, "t", valueSchema, "src | take 5"))
    assert(take.getMessage.contains("row-wise"), take.getMessage)
  }
}

object KqlTransformSpec {
  final case class KRecord(topic: String, partition: Int, offset: Long,
                           key: Array[Byte], value: Array[Byte])
}
