package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The rule REWRITES filters, so beyond the PlanShapeSpec pushdown pins it
  * needs semantic guarantees: the widened raw-long bound must be implied
  * by the original predicate on every input (boundary nanos, negative
  * epochs), and must never be derived from predicates under OR/NOT. */
class NanosTimePushdownSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  override def afterAll(): Unit = spark.stop()

  /** Parquet-backed frame with a raw nanos long + the derived ts —
    * exactly the Tables.events shape (parquet-backed so pushdown is
    * observable and nothing constant-folds away). */
  private lazy val frame = {
    import spark.implicits._
    graft.Graft.prepare(spark)
    val dir = java.nio.file.Files.createTempDirectory("nanos-push").toString
    // boundary-dense nanos: multiples of 1000 plus every remainder shape,
    // and negative (pre-1970) values where trunc-toward-zero != floor
    val nanos = Seq(-2000L, -1999L, -1500L, -1001L, -1000L, -999L, -500L, -1L,
      0L, 1L, 499L, 999L, 1000L, 1001L, 1999L, 2000L, 123456789L,
      1704067200000000000L, 1704067200000000999L, 1704067200000001000L)
    nanos.toDF("raw").write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir).withColumn("ts", timestamp_micros(expr("raw div 1000")))
  }

  private def expectMicros(pred: Long => Boolean): Set[Long] =
    frame.collect().map(_.getLong(0)).filter(n => pred(n / 1000)).toSet
  // NOTE: Scala / truncates toward zero, same as Spark's `div`

  private def got(cond: String): Set[Long] =
    frame.filter(cond).select("raw").collect().map(_.getLong(0)).toSet

  test("widened bounds keep exact semantics on boundary and negative nanos") {
    // ts >= epoch 0 micros
    assert(got("ts >= timestamp_micros(0)") == expectMicros(_ >= 0))
    // ts >= 1 micro: nanos 1000..1999 truncate to 1
    assert(got("ts >= timestamp_micros(1)") == expectMicros(_ >= 1))
    // ts < 0 micros: only nanos <= -1000 truncate below zero
    assert(got("ts < timestamp_micros(0)") == expectMicros(_ < 0))
    // ts <= -1: trunc(-1500/1000) = -1 (toward zero), trunc(-999/1000) = 0
    assert(got("ts <= timestamp_micros(-1)") == expectMicros(_ <= -1))
    // equality hits every nanos remainder of one micro
    assert(got("ts = timestamp_micros(1704067200000000)") ==
      Set(1704067200000000000L, 1704067200000000999L))
    // conjunction of both directions
    assert(got("ts >= timestamp_micros(-1) AND ts < timestamp_micros(2)") ==
      expectMicros(m => m >= -1 && m < 2))
  }

  test("bounds are pushed for conjuncts and the scan prunes on them") {
    val plan = frame.filter(
        "ts >= timestamp_micros(1704067200000000) AND ts < timestamp_micros(1704067200000001)")
      .queryExecution.executedPlan.toString
    assert(plan.contains("GreaterThanOrEqual(raw"), s"no raw lower bound pushed:\n$plan")
    assert(plan.contains("LessThanOrEqual(raw"), s"no raw upper bound pushed:\n$plan")
  }

  test("predicates under OR derive NO bound (it would not be implied)") {
    // a bound from the left OR-branch would wrongly exclude raw=0
    val cond = "ts >= timestamp_micros(1704067200000000) OR raw = 0"
    assert(got(cond).contains(0L), "OR semantics broken by an unsound bound")
    val plan = frame.filter(cond).queryExecution.executedPlan.toString
    assert(!plan.contains("PushedFilters: [GreaterThanOrEqual(raw"),
      s"bound derived from an OR branch:\n$plan")
  }

  test("unix_micros(timestamp_micros(x)) simplifies to x (timespan arithmetic folds)") {
    // now - ts >= 1s over the derived column: exact identity rewrite keeps
    // values; nanos 0..999999 are within 1s of micros 1000000
    val r = frame.filter(s"unix_micros(timestamp_micros(1)) - unix_micros(ts) >= 1")
      .select("raw").collect().map(_.getLong(0)).toSet
    assert(r == expectMicros(m => 1 - m >= 1))
    val analyzed = frame.filter("unix_micros(ts) = 0").queryExecution.optimizedPlan.toString
    assert(!analyzed.contains("unix_micros(timestamp_micros"),
      s"identity not simplified:\n$analyzed")
  }
}
