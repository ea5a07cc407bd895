package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The one-call front door: after init, SQL, KQL text, and the native
  * functions all work against the registered views. */
class GraftSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  override def afterAll(): Unit = spark.stop()
  private val checkpointKey = "spark.sql.streaming.checkpointFileManagerClass"

  test("init registers every table view and the native functions") {
    Graft.init(spark, "/root/testdata/sf0.001")
    for (t <- Tables.names)
      assert(spark.sql(s"SELECT * FROM $t LIMIT 1").count() == 1, s"view $t")
    assert(spark.sql("SELECT simhash32(text) AS s FROM documents LIMIT 5").count() == 5)
    assert(spark.sql(
      "SELECT dot_d(array(1.0D, 2.0D), array(3.0D, 4.0D))").collect().head.getDouble(0) == 11.0)
    // events ts normalized to a real timestamp
    assert(spark.table("events").schema("ts").dataType.typeName == "timestamp")
  }

  test("KQL text runs against the initialized views") {
    Graft.init(spark, "/root/testdata/sf0.001")
    val n = Graft.kql(spark, "events | where value > 50 | count").collect().head.getLong(0)
    val expected = spark.sql("SELECT count(1) FROM events WHERE value > 50").collect().head.getLong(0)
    assert(n == expected && n > 0)
  }

  test("prepare applies the policy once when 8 threads build queries on a fresh session") {
    val fresh = spark.newSession()
    val names = SparkEntry.queries.keys.toSeq.sorted.take(8)
    val start = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(names.size)
    try {
      val builds = names.map(q => pool.submit(() => {
        start.await()
        SparkEntry.queries(q)(fresh, "/root/testdata/sf0.001")
      }))
      start.countDown()
      builds.foreach(_.get())
    } finally pool.shutdown()
    val rules = fresh.experimental.extraOptimizations
    for (rule <- Graft.optimizerRules)
      assert(rules.count(_ eq rule) == 1, s"${rule.ruleName} installed ${rules.count(_ eq rule)}×")
    assert(fresh.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(fresh.conf.get("spark.sql.adaptive.coalescePartitions.parallelismFirst") == "false")
    assert(fresh.conf.get(checkpointKey) == classOf[graft.streaming.LocalCheckpointFileManager].getName)
  }

  test("prepare names the local checkpoint manager unless the session already names one") {
    val fresh = spark.newSession()
    assert(fresh.conf.getOption(checkpointKey).isEmpty)
    assert(Graft.prepare(fresh).conf.get(checkpointKey) ==
      classOf[graft.streaming.LocalCheckpointFileManager].getName)
    val own = spark.newSession()
    own.conf.set(checkpointKey, "com.example.TheirCheckpointFileManager")
    assert(Graft.prepare(own).conf.get(checkpointKey) == "com.example.TheirCheckpointFileManager")
  }
}
