package graft.kql

import graft.kql.KqlCompiler.KqlParseException
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** String-level KQL compiler: every operator/scalar the reference emits
  * (SURVEY §2.2), parsed from text and checked against the equivalent
  * DataFrame plan. */
class KqlCompilerSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  override def afterAll(): Unit = spark.stop()

  private lazy val df = {
    import spark.implicits._
    Seq(
      (1L, "alpha", 10.0, "err-timeout"),
      (2L, "beta", 55.0, "ok"),
      (3L, "alpha", 95.0, "err-refused"),
      (4L, "gamma", 20.0, "retry"),
      (5L, "beta", 70.0, "ok"))
      .toDF("id", "name", "value", "status")
  }
  private def run(kql: String) = ExprBudget.check(KqlCompiler.compile(kql, _ => df))

  test("count yields KQL's Count column") {
    val out = run("t | count").collect()
    assert(out.head.schema.fieldNames.toSeq == Seq("Count"))
    assert(out.head.getLong(0) == 5)
  }

  test("where: comparisons, in, startswith, contains, and/or/not") {
    assert(run("t | where value >= 20 and value < 95").count() == 3)
    assert(run("t | where name in ('alpha', 'gamma')").count() == 3)
    assert(run("t | where status startswith 'err'").count() == 2)
    assert(run("t | where status contains 'time'").count() == 1)
    assert(run("t | where not(status == 'ok') or value == 55").count() == 4)
    // Kusto string predicates are case-INSENSITIVE; _cs variants and ==
    // are sensitive; =~/!~ are insensitive equality
    assert(run("t | where status startswith 'ERR'").count() == 2)
    assert(run("t | where status startswith_cs 'ERR'").count() == 0)
    assert(run("t | where status contains 'TIME'").count() == 1)
    assert(run("t | where status contains_cs 'TIME'").count() == 0)
    assert(run("t | where status endswith 'OUT'").count() == 1)
    assert(run("t | where status endswith_cs 'OUT'").count() == 0)
    assert(run("t | where status =~ 'OK'").count() == 2)
    assert(run("t | where status == 'OK'").count() == 0)
    assert(run("t | where status !~ 'OK'").count() == 3)
  }

  test("project with aliases and pack_all") {
    val out = run("t | project id, double_v = value * 2 | order by id asc")
    assert(out.columns.toSeq == Seq("id", "double_v"))
    assert(out.collect().map(_.getDouble(1)).toSeq == Seq(20.0, 110.0, 190.0, 40.0, 140.0))
    val packed = run("t | where id == 1 | project j = pack_all()").collect().head.getString(0)
    assert(packed.contains("\"name\":\"alpha\"") && packed.contains("\"value\":10.0"))
  }

  test("extend: case, iff, strcat, bin") {
    val out = run(
      """t | extend bucket = case(value < 30, 'low', value < 80, 'mid', 'high'),
        |      tag = strcat(name, ':', iff(status == 'ok', 'y', 'n')), b = bin(value, 25)
        | | project id, bucket, tag, b | order by id asc""".stripMargin).collect()
    assert(out.map(_.getString(1)).toSeq == Seq("low", "mid", "high", "low", "mid"))
    assert(out.map(_.getString(2)).toSeq ==
      Seq("alpha:n", "beta:y", "alpha:n", "gamma:n", "beta:y"))
    assert(out.map(_.getLong(3)).toSeq == Seq(0L, 50L, 75L, 0L, 50L))
  }

  test("summarize: named + unnamed aggregates, arg_max, dcount, by keys") {
    val out = run(
      """t | summarize n = count(), top_status = arg_max(value, status), mx = max(value) by name
        | | order by name asc""".stripMargin).collect()
    assert(out.map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getDouble(3))).toSeq ==
      Seq(("alpha", 2L, "err-refused", 95.0), ("beta", 2L, "ok", 70.0), ("gamma", 1L, "retry", 20.0)))
    // unnamed aggregates get KQL's default names: fn_ for no args,
    // fn_col for a bare column argument; global summarize (no by)
    val g = run("t | summarize count(), dcount(name)")
    assert(g.columns.toSeq == Seq("count_", "dcount_name"))
    assert(g.collect().head.getLong(1) == 3)
  }

  test("order by defaults DESCENDING (KQL semantics); top n by; take") {
    assert(run("t | order by value | project id").collect().map(_.getLong(0)).toSeq ==
      Seq(3L, 5L, 2L, 4L, 1L))
    assert(run("t | top 2 by value | project id").collect().map(_.getLong(0)).toSeq ==
      Seq(3L, 5L))
    assert(run("t | top 2 by value asc | project id").collect().map(_.getLong(0)).toSeq ==
      Seq(1L, 4L))
    assert(run("t | order by id asc | take 3").count() == 3)
  }

  test("distinct, bare and projected") {
    assert(run("t | project name | distinct").count() == 3)
    assert(run("t | distinct name, status").count() == 4)
  }

  test("the reference's E2E assertion query shape compiles from text") {
    // it/KustoSinkIT.java:269-271: TBL | where vtype == 'x' | project vlong, vresult = pack_all()
    val out = run("t | where name == 'beta' | project id, vresult = pack_all() | order by id asc")
    assert(out.columns.toSeq == Seq("id", "vresult"))
    assert(out.count() == 2)
  }

  test("has (whole-term), between, null/empty predicates, coalesce, abs") {
    // 'err' is a term in 'err-timeout'/'err-refused' but 'time' is not a whole term of any status
    assert(run("t | where status has 'err'").count() == 2)
    assert(run("t | where status has 'time'").count() == 0)
    assert(run("t | where status has 'timeout'").count() == 1)
    assert(run("t | where status has_any ('timeout', 'refused')").count() == 2)
    assert(run("t | where status has_any ('time', 'nope')").count() == 0)
    assert(run("t | where value between (20 .. 70)").count() == 3)
    assert(run("t | where value between (20..70)").count() == 3, "range op without spaces")
    assert(run("t | where value between (19.5..70.5)").count() == 3, "decimal range bounds")
    assert(run("t | where isnotempty(status)").count() == 5)
    assert(run("t | where isnull(status)").count() == 0)
    assert(run("t | extend d = abs(value - 60), c = coalesce(status, 'none') | where d < 11").count() == 2)
  }

  test("project-away, project-rename, mv-expand") {
    assert(run("t | project-away status, value").columns.toSeq == Seq("id", "name"))
    val renamed = run("t | project-rename label = name, v = value")
    assert(renamed.columns.toSeq == Seq("id", "label", "v", "status"))
    import spark.implicits._
    val arrDf = Seq((1L, Seq("a", "b")), (2L, Seq("c")), (3L, Seq.empty[String]))
      .toDF("id", "xs")
    val expanded = KqlCompiler.compile("t | mv-expand xs", _ => arrDf).collect()
    assert(expanded.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a"), (1L, "b"), (2L, "c")), "inner semantics: empty arrays drop the row")
    assert(intercept[KqlParseException](run("t | project-frobnicate x")).getMessage.contains("project-frobnicate"))
  }

  test("scalar surface: substring, split, strcat_delim, trim, replace_string, reverse") {
    // Kusto substring is 0-based; 2-arg form runs to end of string
    assert(run("t | where substring(status, 0, 3) == 'err'").count() == 2)
    assert(run("t | where substring(status, 4) == 'timeout'").count() == 1)
    // split takes a PLAIN delimiter (the '-' must not be a regex range)
    assert(run("t | where strlen(tostring(split(status, '-'))) > 0 | count")
      .head().getLong(0) == 5)
    assert(run("t | extend j = strcat_delim('|', name, status) | where j == 'alpha|err-timeout'")
      .count() == 1)
    assert(run("t | extend c = trim('e', 'eexamplee') | where c == 'xampl'").count() == 5)
    assert(run("t | extend r = replace_string(status, 'err', 'E') | where r == 'E-timeout'")
      .count() == 1)
    assert(run("t | extend v = reverse(name) | where v == 'ahpla'").count() == 2)
  }

  test("conditional aggregates: sumif, avgif, minif, maxif, dcountif") {
    val row = run(
      """t | summarize s = sumif(value, status == 'ok'),
        |               a = avgif(value, status == 'ok'),
        |               mn = minif(value, name == 'alpha'),
        |               mx = maxif(value, name == 'alpha'),
        |               d = dcountif(name, value > 15)""".stripMargin.replace("\n", " "))
      .head()
    assert(row.getDouble(0) == 125.0) // 55 + 70
    assert(row.getDouble(1) == 62.5)
    assert(row.getDouble(2) == 10.0 && row.getDouble(3) == 95.0)
    assert(row.getLong(4) == 3)      // beta(55,70), alpha(95), gamma(20)
  }

  test("dynamic access: parse_json + dot path + tolong/toint/todouble") {
    import spark.implicits._
    val j = Seq(
      (1L, """{"k": 7, "nest": {"d": 1.5}, "s": "x"}"""),
      (2L, """{"k": 99, "nest": {"d": 2.5}, "s": "y"}"""),
      (3L, """{"other": 1}"""))
      .toDF("id", "props")
    val out = KqlCompiler.compile(
      "t | extend k = tolong(parse_json(props).k) | where k >= 7 | project id, k | order by id asc",
      _ => j).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq == Seq((1L, 7L), (2L, 99L)))
    // nested path in one probe; todynamic is an alias; toint casts
    val nested = KqlCompiler.compile(
      "t | extend d = todouble(todynamic(props).nest.d) | project id, d | order by id asc",
      _ => j).collect().map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getDouble(1)))
    assert(nested.toSeq == Seq((1L, 1.5), (2L, 2.5), (3L, null)))
    assert(KqlCompiler.compile("t | extend k = toint(parse_json(props).k) | where isnotnull(k)",
      _ => j).count() == 2)
    // missing key is null, dot access works directly on a string column
    assert(KqlCompiler.compile("t | where isnull(props.k)", _ => j).count() == 1)
  }

  test("join kinds, let bindings, and union compile and evaluate") {
    import spark.implicits._
    val owners = Seq((1L, "ana"), (3L, "bo"), (9L, "cy")).toDF("id", "owner")
    val resolve: String => org.apache.spark.sql.DataFrame =
      { case "t" => df; case "owners" => owners }

    // inner join keeps matching keys only
    val inner = KqlCompiler.compile(
      "t | join kind=inner (owners) on id | project id, name, owner | order by id asc", resolve)
    assert(inner.collect().map(r => (r.getLong(0), r.getString(2))).toSeq ==
      Seq((1L, "ana"), (3L, "bo")))
    // leftouter fills nulls; default kind is inner
    assert(KqlCompiler.compile("t | join (owners) on id", resolve).count() == 2)
    val lo = KqlCompiler.compile(
      "t | join kind=leftouter (owners) on id | where isnull(owner) | count", resolve)
    assert(lo.head().getLong(0) == 3)
    // leftanti / leftsemi
    assert(KqlCompiler.compile("t | join kind=leftanti (owners) on id", resolve).count() == 3)
    assert(KqlCompiler.compile("t | join kind=leftsemi (owners) on id", resolve).count() == 2)
    // let bindings shadow tables and compose; join against a bare let name
    val withLet = KqlCompiler.compile(
      """let big = t | where value >= 55;
         let named = owners | project-rename k = id;
         big | join kind=inner (named | project-rename id = k) on id | project id, owner""",
      resolve)
    assert(withLet.collect().map(_.getString(1)).toSeq == Seq("bo"))
    // union merges by name, missing columns become null
    val u = KqlCompiler.compile(
      "t | project id, name | union (owners) | count", resolve)
    assert(u.head().getLong(0) == 8)
  }

  test("join ring 2: rightsemi/rightanti kinds and strategy hints") {
    import spark.implicits._
    val owners = Seq((1L, "ana"), (3L, "bo"), (9L, "cy")).toDF("id", "owner")
    val resolve: String => org.apache.spark.sql.DataFrame =
      { case "t" => df; case "owners" => owners }
    // rightsemi: right rows WITH a left match, right columns preserved
    val rs = KqlCompiler.compile("t | join kind=rightsemi (owners) on id", resolve)
    assert(rs.columns.toSeq == Seq("id", "owner"))
    assert(rs.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L))
    // rightanti: right rows with NO left match
    val ra = KqlCompiler.compile("t | join kind=rightanti (owners) on id", resolve)
    assert(ra.collect().map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((9L, "cy")))
    // hint.strategy=broadcast broadcasts the LEFT side (Kusto semantics)
    val bc = KqlCompiler.compile(
      "t | join kind=inner hint.strategy=broadcast (owners) on id", resolve)
    assert(bc.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
    assert(bc.count() == 2)
    // hints and kind compose in either order; shuffle pins a shuffled hash join
    val sh = KqlCompiler.compile(
      "t | join hint.strategy=shuffle kind=inner (owners) on id", resolve)
    assert(sh.queryExecution.executedPlan.toString.contains("ShuffledHashJoin"))
    assert(sh.count() == 2)
    // hint.shufflekey implies the shuffle strategy (key comes from `on`)
    assert(KqlCompiler.compile(
      "t | join hint.shufflekey=id (owners) on id", resolve).count() == 2)
    // unknown strategy / hint fail loudly
    intercept[KqlParseException](KqlCompiler.compile(
      "t | join hint.strategy=cartesian (owners) on id", resolve))
    intercept[KqlParseException](KqlCompiler.compile(
      "t | join hint.remote=left (owners) on id", resolve))
  }

  test("datetime surface: datetime literals, now(), ago(), timespan bin()") {
    import spark.implicits._
    val fixedNow = java.time.Instant.parse("2024-03-01T12:00:00Z")
    val ts = Seq(
      (1L, java.sql.Timestamp.from(java.time.Instant.parse("2024-03-01T09:15:30Z")), 10.0),
      (2L, java.sql.Timestamp.from(java.time.Instant.parse("2024-03-01T10:45:00Z")), 20.0),
      (3L, java.sql.Timestamp.from(java.time.Instant.parse("2024-03-01T11:59:59Z")), 30.0),
      (4L, java.sql.Timestamp.from(java.time.Instant.parse("2024-02-28T23:00:00Z")), 40.0))
      .toDF("id", "ts", "v")
    def runT(kql: String) = KqlCompiler.compile(kql, _ => ts, fixedNow)

    // unquoted ISO literal (the lexer re-concatenates the token run)
    assert(runT("t | where ts >= datetime(2024-03-01T10:00:00Z)").count() == 2)
    // quoted form allows the space-separated flavor; bare dates hit midnight
    assert(runT("t | where ts >= datetime('2024-03-01 10:00:00')").count() == 2)
    assert(runT("t | where ts >= datetime(2024-03-01)").count() == 3)
    // ago() is relative to the injected fixed now (Kusto: fixed per query)
    assert(runT("t | where ts >= ago(2h)").count() == 2)
    assert(runT("t | where ts >= ago(1d)").count() == 3) // cutoff = Feb 29 noon (leap year)
    assert(runT("t | where ts >= ago(2d)").count() == 4)
    assert(runT("t | where ts < now()").count() == 4)
    // timespan bin: epoch-aligned hour buckets
    val binned = runT("t | summarize n = count() by b = bin(ts, 1h) | order by b asc").collect()
    assert(binned.map(r => (r.getTimestamp(0).toInstant.toString, r.getLong(1))).toSeq == Seq(
      ("2024-02-28T23:00:00Z", 1L), ("2024-03-01T09:00:00Z", 1L),
      ("2024-03-01T10:00:00Z", 1L), ("2024-03-01T11:00:00Z", 1L)))
    // numeric bin unchanged by the timespan special case
    assert(runT("t | summarize n = count() by b = bin(v, 15)").collect().length == 3)
    // decimal timespans and sub-second units
    assert(runT("t | where ts >= ago(2.75h)").count() == 3)
    assert(runT("t | where ts >= ago(500ms)").count() == 0)
    // bad inputs are loud
    assert(intercept[KqlParseException](runT("t | where ts >= ago(3w)"))
      .getMessage.contains("unsupported timespan unit"))
    assert(intercept[KqlParseException](runT("t | where ts >= datetime(bogus)"))
      .getMessage.contains("unparseable datetime"))
  }

  test("datetime breadth: startof*, between on datetimes, timespan algebra, todatetime") {
    import spark.implicits._
    val fixedNow = java.time.Instant.parse("2024-03-01T12:00:00Z") // a Friday
    val ts = Seq(
      (1L, java.sql.Timestamp.from(java.time.Instant.parse("2024-03-01T09:15:30Z")), 10.0),
      (2L, java.sql.Timestamp.from(java.time.Instant.parse("2024-03-01T10:45:00Z")), 20.0),
      (3L, java.sql.Timestamp.from(java.time.Instant.parse("2024-03-01T11:59:59Z")), 30.0),
      (4L, java.sql.Timestamp.from(java.time.Instant.parse("2024-02-28T23:00:00Z")), 40.0))
      .toDF("id", "ts", "v")
    def runT(kql: String) = KqlCompiler.compile(kql, _ => ts, fixedNow)

    // start-of-period truncations; Kusto weeks start SUNDAY (Mar 1 2024 is
    // a Friday, so its week began Sunday Feb 25)
    val so = runT("""t | where id == 1
                     | project d = startofday(ts), w = startofweek(ts),
                               m = startofmonth(ts), y = startofyear(ts)""").head()
    assert(so.getTimestamp(0).toInstant == java.time.Instant.parse("2024-03-01T00:00:00Z"))
    assert(so.getTimestamp(1).toInstant == java.time.Instant.parse("2024-02-25T00:00:00Z"))
    assert(so.getTimestamp(2).toInstant == java.time.Instant.parse("2024-03-01T00:00:00Z"))
    assert(so.getTimestamp(3).toInstant == java.time.Instant.parse("2024-01-01T00:00:00Z"))
    // a Sunday is its own week start
    val sun = runT("t | where id == 1 | project w = startofweek(datetime(2024-02-25T18:30:00Z))").head()
    assert(sun.getTimestamp(0).toInstant == java.time.Instant.parse("2024-02-25T00:00:00Z"))

    // between over datetime() / ago() / now() bounds, inclusive both ends
    assert(runT("t | where ts between (datetime(2024-03-01T09:15:30Z) .. datetime(2024-03-01T10:45:00Z))")
      .count() == 2)
    assert(runT("t | where ts between (ago(3h) .. now())").count() == 3)

    // datetime ± timespan shifts by exact micros
    assert(runT("t | where ts + 1h >= datetime(2024-03-01T12:00:00Z)").count() == 1)
    assert(runT("t | where ts - 30m > datetime(2024-03-01T10:30:00Z)").count() == 1)
    // timespan + datetime commutes
    assert(runT("t | where 1h + ts >= datetime(2024-03-01T12:00:00Z)").count() == 1)

    // datetime - datetime yields a timespan comparable to timespan literals
    assert(runT("t | where now() - ts < 2h").count() == 2)
    // ...which bins on a micros grid: ages 2:44:30, 1:15:00, 0:00:01 → 2h/1h/0
    val hb = runT("""t | extend age = now() - ts | where age < 1d
                     | project id, hb = bin(age, 1h) | order by id asc""").collect()
    assert(hb.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 7200000000L), (2L, 3600000000L), (3L, 0L)))

    // todatetime casts; signed ago() reaches into the future
    assert(runT("t | extend d = todatetime('2024-03-01 10:00:00') | where ts >= d").count() == 2)
    assert(runT("t | where ts < ago(-1h)").count() == 4)

    // loud, datetime-specific error for an unterminated literal
    assert(intercept[KqlParseException](runT("t | where ts >= datetime(2024-03-01"))
      .getMessage.contains("unterminated datetime"))
  }

  test("scalar ring 16: basic math, isascii, rand range, parse_csv RFC vectors") {
    val m = run(
      """t | where id == 2
        | | extend e = round(exp(1.0), 9), l = round(log(exp(1.0)), 9),
        |          l2 = log2(8.0), l10 = log10(1000.0), e2 = exp2(10.0),
        |          sq = sqrt(16.0), pw = pow(2.0, 10.0),
        |          s0 = sin(0.0), c0 = cos(0.0), sg = sign(-3.5),
        |          dgr = degrees(pi()), rdn = round(radians(180.0) - pi(), 9),
        |          ct = round(cot(pi() / 4.0), 9),
        |          at2 = round(atan2(1.0, 1.0) - pi() / 4.0, 9),
        |          ia = isascii('plain'), ib = isascii('café')
        | | project e, l, l2, l10, e2, sq, pw, s0, c0, sg, dgr, rdn, ct, at2, ia, ib""".stripMargin).head()
    assert(m.getDouble(0) == 2.718281828 && m.getDouble(1) == 1.0)
    assert(m.getDouble(2) == 3.0 && m.getDouble(3) == 3.0 && m.getDouble(4) == 1024.0)
    assert(m.getDouble(5) == 4.0 && m.getDouble(6) == 1024.0)
    assert(m.getDouble(7) == 0.0 && m.getDouble(8) == 1.0 && m.getDouble(9) == -1.0)
    assert(m.getDouble(10) == 180.0 && m.getDouble(11) == 0.0)
    assert(m.getDouble(12) == 1.0 && m.getDouble(13) == 0.0)
    assert(m.getBoolean(14) && !m.getBoolean(15))
    // rand(): range-only (nondeterministic by definition, never gated)
    val r = run("t | extend r = rand(), rn = rand(10) | project r, rn").collect()
    assert(r.forall(x => x.getDouble(0) >= 0.0 && x.getDouble(0) < 1.0))
    assert(r.forall(x => x.getLong(1) >= 0L && x.getLong(1) < 10L))
    // parse_csv: plain fields, quoted comma, "" escape, trailing empty,
    // lenient text-after-quote, first-record-only on embedded newline
    val c = run(
      """t | where id == 1
        | | extend a = parse_csv('x,y,z'),
        |          b = parse_csv('a,"b,c",d'),
        |          q = parse_csv('"he said ""hi"" ok",2'),
        |          tr = parse_csv('a,b,'),
        |          lx = parse_csv('"q"tail,2')
        | | project n1 = array_length(a), b1 = tostring(b[1]),
        |           q0 = tostring(q[0]), n3 = array_length(tr), t2 = tostring(tr[2]),
        |           lx0 = tostring(lx[0])""".stripMargin).head()
    assert(c.getLong(0) == 3L)
    assert(c.getString(1) == "b,c")
    assert(c.getString(2) == "he said \"hi\" ok")
    assert(c.getLong(3) == 3L && c.getString(4) == "")
    assert(c.getString(5) == "qtail")
    import spark.implicits._
    val nl = KqlCompiler.compile("t | project n = array_length(parse_csv(s))",
      _ => Seq(("x,y\nz,w,v")).toDF("s")).head()
    assert(nl.getLong(0) == 2L)
    // rand arity is loud; cidr parse rejects non-ASCII Unicode digits
    assertThrows[KqlCompiler.KqlParseException](run("t | project r = rand(1, 2)"))
    val uni = run(
      """t | where id == 1 | project bad = isnull(ipv4_range_to_cidr_list('10.٣.0.0', '10.3.0.255')),
        |  lz = isnull(ipv4_range_to_cidr_list('01.2.3.4', '1.2.3.9'))""".stripMargin)
      .head()
    assert(uni.getBoolean(0))
    assert(uni.getBoolean(1), "leading-zero octets are rejected (Kusto stance)")
  }

  test("make_bag_if and buildschema aggregates") {
    val out = run(
      """t | extend b = pack('k', name, 'n', id)
        | | summarize mb = make_bag_if(pack('v', value), value > 60),
        |             sc = buildschema(b)
        |""".stripMargin).head()
    // only rows with value > 60 contribute (ids 3, 5); first-wins over
    // sorted bags → min value wins
    assert(out.getString(0) == """{"v":70.0}""")
    assert(out.getString(1) == """{"k":"string","n":"long"}""")
    // conflicting member types surface as "conflict"; nested + arrays
    val c = run(
      """t | extend d = iff(id % 2 == 0, '{"x":1,"y":{"z":"s"},"a":[1]}', '{"x":"t","y":{"z":"u"},"a":[2]}')
        | | summarize sc = buildschema(d)""".stripMargin).head()
    assert(c.getString(0) == """{"a":["long"],"x":"conflict","y":{"z":"string"}}""")
    // scalar + object mix → conflict at the top
    val s2 = run(
      """t | extend d = iff(id == 1, '7', '{"x":1}')
        | | summarize sc = buildschema(d)""".stripMargin).head()
    assert(s2.getString(0) == "\"conflict\"")
  }

  test("dynamic_to_json canonical keys; series_stats_dynamic bag") {
    val out = run(
      """t | where id == 1
        | | extend d = dynamic_to_json('{"b":2,"a":{"z":1,"y":[{"q":1,"p":2}]}}'),
        |          sc = dynamic_to_json('7'), st = dynamic_to_json('plain'),
        |          sd = series_stats_dynamic(pack_array(4.0, 1.0, 7.0, 4.0))
        | | extend mn = todouble(extract_json('$.min', sd)),
        |          mni = tolong(extract_json('$.min_idx', sd)),
        |          mx = todouble(extract_json('$.max', sd)),
        |          mxi = tolong(extract_json('$.max_idx', sd)),
        |          av = todouble(extract_json('$.avg', sd)),
        |          vr = todouble(extract_json('$.variance', sd))
        | | project d, sc, st, mn, mni, mx, mxi, av, vr""".stripMargin).head()
    assert(out.getString(0) == """{"a":{"y":[{"p":2,"q":1}],"z":1},"b":2}""")
    assert(out.getString(1) == "7" && out.getString(2) == "\"plain\"")
    assert(out.getDouble(3) == 1.0 && out.getLong(4) == 1L)
    assert(out.getDouble(5) == 7.0 && out.getLong(6) == 2L)
    assert(out.getDouble(7) == 4.0 && out.getDouble(8) == 6.0)
  }

  test("scalar ring 2: matches regex, extract, has_cs, date parts, bin_at") {
    import spark.implicits._
    val fixedNow = java.time.Instant.parse("2024-03-01T12:00:00Z")
    val t = Seq(
      (1L, "err-timeout retry", java.sql.Timestamp.from(java.time.Instant.parse("2024-03-01T09:15:30Z"))),
      (2L, "ok fast", java.sql.Timestamp.from(java.time.Instant.parse("2024-03-01T10:45:00Z"))),
      (3L, "err-refused", java.sql.Timestamp.from(java.time.Instant.parse("2024-02-28T23:00:00Z"))))
      .toDF("id", "msg", "ts")
    def runT(kql: String) = KqlCompiler.compile(kql, _ => t, fixedNow)

    // matches regex (RE2-compatible pattern)
    assert(runT("t | where msg matches regex 'err-(timeout|refused)'").count() == 2)
    // extract: group 1, and group 0 = whole match
    val ex = runT("t | where id == 1 | project a = extract('err-(\\\\w+)', 1, msg), b = extract('err-\\\\w+', 0, msg)").head()
    assert(ex.getString(0) == "timeout" && ex.getString(1) == "err-timeout")
    // has_cs: case-sensitive whole-term
    assert(runT("t | where msg has_cs 'retry'").count() == 1)
    assert(runT("t | where msg has_cs 'RETRY'").count() == 0)
    assert(runT("t | where msg has_cs 'retr'").count() == 0, "whole terms only")
    // date parts are UTC longs
    val dp = runT("t | where id == 3 | project y = getyear(ts), m = getmonth(ts), d = dayofmonth(ts), h = hourofday(ts)").head()
    assert((dp.getLong(0), dp.getLong(1), dp.getLong(2), dp.getLong(3)) == ((2024L, 2L, 28L, 23L)))
    // bin_at: 1d bins anchored at 06:00 — 09:15 falls in the bin that
    // STARTED Mar 1 06:00; 23:00 Feb 28 floors to the Feb 28 06:00 bin
    // (pre-anchor values floor, they don't truncate toward the anchor)
    val ba = runT("t | project id, b = bin_at(ts, 1d, datetime(2024-03-01T06:00:00Z)) | order by id asc").collect()
    assert(ba.map(_.getTimestamp(1).toInstant.toString).toSeq == Seq(
      "2024-03-01T06:00:00Z", "2024-03-01T06:00:00Z", "2024-02-28T06:00:00Z"))
    // numeric bin_at
    val nb = runT("t | project id, b = bin_at(id * 10, 7, 3) | order by id asc").collect()
    assert(nb.map(_.getLong(1)).toSeq == Seq(10L, 17L, 24L)) // 3 + floor((x-3)/7)*7
  }

  test("parse operator: literals anchor, captures extract lazily, types cast, * skips") {
    import spark.implicits._
    val logs = Seq(
      (1L, "took 42 ms on node-a (attempt 3)"),
      (2L, "took 7 ms on node-b (attempt 1)"))
      .toDF("id", "msg")
    def runL(kql: String) = KqlCompiler.compile(kql, _ => logs)

    val p = runL("""t | parse msg with 'took ' dur:long ' ms on ' node ' (attempt ' att:long ')'
                    | project id, dur, node, att | order by id asc""").collect()
    assert(p.map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3))).toSeq ==
      Seq((1L, 42L, "node-a", 3L), (2L, 7L, "node-b", 1L)))
    // '*' skips without capturing; trailing capture runs to end of string
    val q = runL("t | parse msg with * 'on ' rest | project rest | order by rest asc").collect()
    assert(q.map(_.getString(0)).toSeq == Seq("node-a (attempt 3)", "node-b (attempt 1)"))
    // parsed columns compose with where/summarize downstream
    assert(runL("t | parse msg with 'took ' dur:long ' ms' rest | where dur > 10 | count")
      .head().getLong(0) == 1)
  }

  test("percentile() in summarize: exact interpolated, composes with round") {
    // values 10,55,95,20,70 → p50 = 55; p100 = 95; p0 = 10
    val out = run("""t | summarize p0 = percentile(value, 0), p50 = percentile(value, 50),
                       p100 = percentile(value, 100), n = count()""").head()
    assert(out.getDouble(0) == 10.0 && out.getDouble(1) == 55.0 && out.getDouble(2) == 95.0)
    assert(out.getLong(3) == 5)
    assert(intercept[KqlParseException](run("t | summarize p = percentile(value, 101)"))
      .getMessage.contains("0..100"))
  }

  test("KQL text compiles over a STREAMING DataFrame (dashboards on live streams)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, String, Double)]
    val sdf = stream.toDF().toDF("id", "name", "value")
    // stateless ops (where/extend/project/parse-free scalars) lower to
    // stream-safe plans; the compiled frame IS a streaming DataFrame
    val compiled = KqlCompiler.compile(
      "s | where value >= 20 | extend tier = case(value < 60, 'mid', 'high') | project id, tier",
      _ => sdf)
    assert(compiled.isStreaming, "compiled KQL must preserve streaming-ness")
    val q = compiled.writeStream.format("memory").queryName("kql_stream_out").start()
    stream.addData((1L, "a", 10.0), (2L, "b", 25.0), (3L, "c", 80.0))
    q.processAllAvailable(); q.stop()
    val rows = spark.table("kql_stream_out").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(rows.toSeq == Seq((2L, "mid"), (3L, "high")))
  }

  test("compiled KQL windowed aggregate runs on a WATERMARKED stream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(java.sql.Timestamp, Double)]
    def ts(m: String) = java.sql.Timestamp.from(java.time.Instant.parse(s"2024-03-01T$m:00Z"))
    // watermark applies on the SOURCE frame; the compiled bin()+summarize
    // then runs as a standard streaming aggregation in update mode — the
    // live-dashboard shape (Grafana panel over a stream)
    val sdf = stream.toDF().toDF("ts", "v").withWatermark("ts", "1 hour")
    val compiled = KqlCompiler.compile(
      "s | summarize n = count(), sv = sum(v) by tb = bin(ts, 1h)", _ => sdf)
    assert(compiled.isStreaming, "compiled aggregate must stay streaming")
    val q = compiled.writeStream.format("memory")
      .queryName("kql_win_out").outputMode("update").start()
    stream.addData((ts("10:10"), 1.0), (ts("10:40"), 2.0), (ts("11:05"), 3.0))
    q.processAllAvailable(); q.stop()
    val rows = spark.table("kql_win_out").collect()
      .map(r => (r.getTimestamp(0).toInstant.toString, r.getLong(1), r.getDouble(2)))
      .sortBy(_._1)
    assert(rows.toSeq == Seq(
      ("2024-03-01T10:00:00Z", 2L, 3.0),
      ("2024-03-01T11:00:00Z", 1L, 3.0)))
  }

  test("make-series: gap-filled axis, default fill, keyed and keyless forms") {
    import spark.implicits._
    val fixedNow = java.time.Instant.parse("2024-03-01T12:00:00Z")
    val t = Seq(
      ("a", java.sql.Timestamp.from(java.time.Instant.parse("2024-03-01T00:30:00Z")), 10.0),
      ("a", java.sql.Timestamp.from(java.time.Instant.parse("2024-03-01T00:45:00Z")), 20.0),
      ("a", java.sql.Timestamp.from(java.time.Instant.parse("2024-03-01T03:10:00Z")), 30.0),
      ("b", java.sql.Timestamp.from(java.time.Instant.parse("2024-03-01T01:30:00Z")), 40.0))
      .toDF("k", "ts", "v")
    def runT(kql: String) = KqlCompiler.compile(kql, _ => t, fixedNow)

    // keyed: 4 hourly bins from 00:00; empty bins fill with 0
    val s = runT("""t | make-series n = count() default = 0 on ts from datetime(2024-03-01) to datetime(2024-03-01T04:00:00Z) step 1h by k
                    | order by k asc""").collect()
    assert(s.map(_.getString(0)).toSeq == Seq("a", "b"))
    assert(s(0).getSeq[Long](1) == Seq(2L, 0L, 0L, 1L))
    assert(s(1).getSeq[Long](1) == Seq(0L, 1L, 0L, 0L))
    // the axis column carries the literal grid
    val axis = s(0).getSeq[java.sql.Timestamp](2).map(_.toInstant.toString)
    assert(axis == Seq("2024-03-01T00:00:00Z", "2024-03-01T01:00:00Z",
      "2024-03-01T02:00:00Z", "2024-03-01T03:00:00Z"))
    // keyless form + sum aggregate + ago()/now() bounds: all rows land in
    // the first 6h bin; the empty second bin zero-fills
    val g = runT("t | make-series total = sum(v) default = 0 on ts from ago(12h) to now() step 6h").head()
    assert(g.getSeq[Double](0) == Seq(100.0, 0.0))
    // a partial trailing bin still appears (axis is ceil((to-from)/step));
    // rows at/after `to` are excluded (03:10 is outside [00:00, 03:00))
    val p = runT("t | make-series n = count() default = 0 on ts from datetime(2024-03-01) to datetime(2024-03-01T03:00:00Z) step 2h").head()
    assert(p.getSeq[Long](0) == Seq(3L, 0L))
    assert(intercept[KqlParseException](
      runT("t | make-series n = count() on ts from datetime(2024-03-02) to datetime(2024-03-01) step 1h"))
      .getMessage.contains("to > from"))
    // scaffold keys come from the window-FILTERED rows (Kusto): a key
    // whose rows ALL fall outside [from, to) emits NO all-default series —
    // 'b' (01:30) is outside [00:00, 01:00), 'a' has two in-range rows
    val oor = runT("""t | make-series n = count() default = 0 on ts from datetime(2024-03-01) to datetime(2024-03-01T01:00:00Z) step 1h by k
                      | order by k asc""").collect()
    assert(oor.map(_.getString(0)).toSeq == Seq("a"), "out-of-range key must not emit a series")
    assert(oor(0).getSeq[Long](1) == Seq(2L))
    // tostring() over the array outputs: canonical JSON text, datetime
    // axes in ISO-8601 tick form (the gate-compatible declaration shape)
    val j = runT("""t | make-series n = count() default = 0 on ts from datetime(2024-03-01) to datetime(2024-03-01T02:00:00Z) step 1h
                    | project n = tostring(n), ts = tostring(ts)""").head()
    assert(j.getString(0) == "[2,1]")
    assert(j.getString(1) ==
      """["2024-03-01T00:00:00.0000000Z","2024-03-01T01:00:00.0000000Z"]""")
  }

  test("table generators: range (numeric + datetime), print, datatable") {
    // generator-rooted queries pass the session explicitly (no table to
    // derive one from)
    def runG(kql: String) = KqlCompiler.compile(kql, _ => df, java.time.Instant.now(), spark)
    // numeric range is stop-INCLUSIVE (Kusto)
    val r = runG("range x from 1 to 10 step 3 | summarize n = count(), s = sum(x), mx = max(x)").head()
    assert(r.getLong(0) == 4 && r.getLong(1) == 22 && r.getLong(2) == 10) // 1,4,7,10
    // real step → double axis
    val rd = runG("range x from 0.5 to 2.0 step 0.5 | summarize n = count(), s = sum(x)").head()
    assert(rd.getLong(0) == 4 && math.abs(rd.getDouble(1) - 5.0) < 1e-9)
    // datetime axis with a timespan step
    val rt = runG(
      "range t from datetime(2024-03-01) to datetime(2024-03-02) step 6h | summarize n = count(), mx = max(t)").head()
    assert(rt.getLong(0) == 5)
    assert(rt.getTimestamp(1).toInstant.toString == "2024-03-02T00:00:00Z")
    // a TABLE named range still resolves (lookahead disambiguation)
    assert(KqlCompiler.compile("range | count", { case "range" => df }).head().getLong(0) == 5)
    // print: one computed row; unnamed items get print_N names
    val p = runG("print a = strcat('x', 'y'), 41 + 1").head()
    assert(p.schema.fieldNames.toSeq == Seq("a", "print_1"))
    assert(p.getString(0) == "xy" && p.getLong(1) == 42L)
    // datatable: inline literal rows, declared types, datetime values
    val d = runG("""datatable(id: long, tag: string, w: real, ok: bool, ts: datetime)[
                     1, 'a', 1.5, true, datetime(2024-03-01),
                     2, 'b', -2.5, false, datetime(2024-03-02)]
                   | order by id asc""").collect()
    assert(d.length == 2)
    assert(d(0).getLong(0) == 1 && d(0).getString(1) == "a" && d(0).getDouble(2) == 1.5)
    assert(d(0).getBoolean(3) && !d(1).getBoolean(3))
    assert(d(1).getTimestamp(4).toInstant.toString == "2024-03-02T00:00:00Z")
    // datatable composes in let bindings + joins (the enrichment shape)
    val e = runG("""let dims = datatable(name: string, team: string)['alpha', 'x', 'beta', 'y'];
                   t | join kind=leftouter (dims) on name | where isnotnull(team)
                   | summarize n = count() by team | order by team asc""").collect()
    assert(e.map(r => (r.getString(0), r.getLong(1))).toSeq == Seq(("x", 2L), ("y", 2L)))
  }

  test("top-hitters: exact heavy hitters, Kusto naming, deterministic ties") {
    val h = run("t | top-hitters 2 of name").collect()
    assert(h.head.schema.fieldNames.toSeq == Seq("name", "approximate_count_name"))
    assert(h.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("alpha", 2L), ("beta", 2L))) // tie with beta broken key-asc
    val hv = run("t | top-hitters 1 of name by value").head()
    assert(hv.getString(0) == "beta" && hv.getDouble(1) == 125.0) // 55+70
  }

  test("row_cumsum over the serialized order") {
    val c = run("""t | project id, value | order by id asc | serialize cs = row_cumsum(value)
                   | order by id asc""").collect()
    assert(c.map(_.getDouble(2)).toSeq == Seq(10.0, 65.0, 160.0, 180.0, 250.0))
  }

  test("series arithmetic + series_stats multi-assign extend") {
    import spark.implicits._
    val arr = Seq((1L, Seq(4.0, 1.0, 7.0, 4.0))).toDF("id", "xs")
    def runA(kql: String) = KqlCompiler.compile(kql, _ => arr)
    // element-wise: array ⊕ array and array ⊕ scalar
    val ew = runA("""a | extend s = series_add(xs, xs), m = series_multiply(xs, 2),
                        d = series_divide(xs, 2), sub = series_subtract(xs, 1)""").head()
    assert(ew.getSeq[Double](2) == Seq(8.0, 2.0, 14.0, 8.0))
    assert(ew.getSeq[Double](3) == Seq(8.0, 2.0, 14.0, 8.0))
    assert(ew.getSeq[Double](4) == Seq(2.0, 0.5, 3.5, 2.0))
    assert(ew.getSeq[Double](5) == Seq(3.0, 0.0, 6.0, 3.0))
    // series_stats: (min, min_idx, max, max_idx, avg, stdev, variance)
    val st = runA("a | extend (mn, mni, mx, mxi, av, sd, vr) = series_stats(xs)").head()
    assert(st.getDouble(2) == 1.0 && st.getLong(3) == 1L)
    assert(st.getDouble(4) == 7.0 && st.getLong(5) == 2L)
    assert(math.abs(st.getDouble(6) - 4.0) < 1e-12)          // avg
    assert(math.abs(st.getDouble(8) - 6.0) < 1e-12)          // var_samp of 4,1,7,4
    assert(math.abs(st.getDouble(7) - math.sqrt(6.0)) < 1e-12)
    // constant series: variance clamps at 0, stdev 0 (never -0.0/NaN)
    val cst = KqlCompiler.compile("a | extend (mn, mni, mx, mxi, av, sd, vr) = series_stats(xs)",
      _ => Seq((1L, Seq(5.0, 5.0, 5.0))).toDF("id", "xs")).head()
    assert(cst.getDouble(7) == 0.0 && cst.getDouble(8) == 0.0)
    assert(!(1.0 / cst.getDouble(8)).isNegInfinity, "variance must not be -0.0")
  }

  test("materialize/toscalar let bindings, multi-table union withsource") {
    import spark.implicits._
    // materialize: the bound plan persists, so N references = 1 evaluation
    val m = run("""let cached = materialize(t | where value >= 50);
                   cached | summarize a = count() | extend tag = 'x'
                   | join kind=inner (cached | summarize b = max(value) | extend tag = 'x') on tag
                   | project a, b""").head()
    assert(m.getLong(0) == 3 && m.getDouble(1) == 95.0)
    // toscalar: compile-time scalar from a subquery, usable in predicates
    val ts = run("""let hi = toscalar(t | summarize max(value));
                    t | where value == hi | project id""").collect()
    assert(ts.map(_.getLong(0)).toSeq == Seq(3L))
    // union withsource over multiple named tables
    val u = Seq((10L, "u")).toDF("id", "extra")
    val resolve2: String => org.apache.spark.sql.DataFrame =
      { case "t" => df; case "other" => u }
    val uni = KqlCompiler.compile(
      "t | project id | union withsource=src other | summarize n = count() by src | order by src asc",
      resolve2).collect()
    // left leg began from the bare table name 't' → labeled 't', as
    // Kusto labels rows with their source table
    assert(uni.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("other", 1L), ("t", 5L)))
    // an anonymous left leg (generator head) keeps the 'union' fallback
    val gen = KqlCompiler.compile(
      """range x from 1 to 3 step 1
        | | union withsource=src other
        | | summarize n = count() by src | order by src asc""".stripMargin,
      resolve2, java.time.Instant.EPOCH, spark).collect()
    assert(gen.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("other", 1L), ("union", 3L)))
  }

  test("datetime_add / datetime_diff (boundary semantics) / datetime_part") {
    val r = run("""t | where id == 1
      | extend base = datetime(2024-01-31T22:30:00Z)
      | project a1 = datetime_add('month', 1, base),
                a2 = datetime_add('day', 2, base),
                a3 = datetime_add('hour', 3, base),
                d1 = datetime_diff('hour', datetime(2024-02-01T00:10:00Z), base),
                d2 = datetime_diff('day', datetime(2024-02-01T00:10:00Z), base),
                d3 = datetime_diff('month', datetime(2024-03-02), datetime(2024-02-27)),
                d4 = datetime_diff('year', datetime(2025-01-01), datetime(2024-12-31)),
                p1 = datetime_part('month', base), p2 = datetime_part('hour', base),
                my = monthofyear(base), dy = dayofyear(base), wy = week_of_year(base)""").head()
    def ts(i: Int) = r.getTimestamp(i).toInstant.toString
    assert(ts(0) == "2024-02-29T22:30:00Z") // month add clamps end-of-month
    assert(ts(1) == "2024-02-02T22:30:00Z" && ts(2) == "2024-02-01T01:30:00Z")
    // boundary semantics: 22:30 → 00:10 crosses 2 hour boundaries, 1 day boundary
    assert(r.getLong(3) == 2L && r.getLong(4) == 1L)
    assert(r.getLong(5) == 1L && r.getLong(6) == 1L) // month/year boundary counts
    assert(r.getLong(7) == 1L && r.getLong(8) == 22L)
    assert(r.getLong(9) == 1L && r.getLong(10) == 31L && r.getLong(11) == 5L)
  }

  test("parse-where drops non-matching rows; row_rank_min/dense") {
    // only err-* statuses match → 2 rows survive with typed captures
    val p = run("""t | parse-where status with 'err-' kind:string
                   | project id, kind | order by id asc""").collect()
    assert(p.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "timeout"), (3L, "refused")))
    // plain parse keeps all 5 rows (empty capture for non-matches)
    assert(run("t | parse status with 'err-' kind:string").count() == 5)
    // regex-mode parse-where with a lookahead constraint
    val lw = run("""t | parse-where kind=regex status with 'err-(?=t)' kind:string
                    | project kind""").collect()
    assert(lw.map(_.getString(0)).toSeq == Seq("timeout"))
    // ranks: values 10,55,95,20,70 → name groups alpha(2),beta(2),gamma(1)
    val r = run("""t | order by name asc, id asc | serialize
                   | extend rm = row_rank_min(name), rd = row_rank_dense(name)
                   | project name, rm, rd | order by rm asc, name asc""").collect()
    assert(r.map(x => (x.getString(0), x.getLong(1), x.getLong(2))).distinct.toSeq ==
      Seq(("alpha", 1L, 1L), ("beta", 3L, 2L), ("gamma", 5L, 3L)))
  }

  test("top-nested with others + evaluate narrow") {
    // names by count: alpha 2, beta 2, gamma 1 → top 2 = alpha/beta, others = gamma
    val t2 = run("""t | top-nested 2 of name with others = 'rest' by cnt = count()
                    | order by name asc""").collect()
    assert(t2.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("alpha", 2L), ("beta", 2L), ("rest", 1L)))
    // sum aggregate composes too
    val s2 = run("""t | top-nested 1 of name with others = 'rest' by v = sum(value)
                    | order by name asc""").collect()
    assert(s2.map(r => (r.getString(0), r.getDouble(1))).toSeq ==
      Seq(("beta", 125.0), ("rest", 125.0))) // beta 55+70; alpha 105 + gamma 20
    // avg is EXACT over the rolled-up raw rows (the round-15 rewrite
    // re-aggregates the working frame instead of composing group aggs)
    val a2 = run("""t | top-nested 1 of name with others = 'rest' by a = avg(value)
                    | order by name asc""").collect()
    assert(a2.map(r => (r.getString(0), r.getDouble(1))).toSeq ==
      Seq(("beta", 62.5), ("rest", (10.0 + 95.0 + 20.0) / 3))) // beta avg(55,70); rest avg(alpha+gamma rows)
    // non-last-level others: the bucket nests like any parent — statuses
    // within 'rest' get their own top-1 rows
    val nested = run(
      """t | top-nested 1 of name with others = 'rest' by v = sum(value),
        |     top-nested 1 of status by sv = sum(value)
        | | order by name asc, status asc""".stripMargin).collect()
    val byName = nested.map(r => (r.getString(0), r.getString(2))).toMap
    assert(byName.keySet == Set("beta", "rest"), s"got ${nested.mkString(";")}")
    assert(byName("beta") == "ok", "beta's top status")
    assert(byName("rest") == "err-refused", "the rolled-up bucket breaks down by its own top status (95.0)")
    // narrow: (Row, Column, Value) strings over the serialized order
    val n = run("""t | where id <= 2 | project id, name | order by id asc
                   | evaluate narrow() | order by Row asc, Column asc""").collect()
    assert(n.map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq ==
      Seq((0L, "id", "1"), (0L, "name", "alpha"), (1L, "id", "2"), (1L, "name", "beta")))
    assertThrows[KqlParseException](run("t | evaluate narrow()"))
  }

  test("hll / hll_merge / dcount_hll: mergeable cardinality sketches") {
    // small exact cardinalities: HLL at lgConfigK>=12 is exact-ish here
    val r = run("""t | summarize h = hll(name) by status
                   | summarize total = dcount_hll(hll_merge(h)), groups = count()""").head()
    assert(r.getLong(0) == 3L && r.getLong(1) == 4L) // 3 names across 4 statuses
    val acc = run("t | summarize e = dcount_hll(hll(id, 4))").head()
    assert(acc.getLong(0) == 5L)
    assertThrows[KqlParseException](run("t | summarize e = hll(id, 9)"))
  }

  test("series ring 2: unary math, series_pow, series_fir") {
    val r = run("""t | where id == 1
      | extend s = pack_array(1, 4, 9)
      | project ab = series_abs(series_subtract(s, 5)),
                sq = series_sqrt(s),
                pw = series_pow(s, 2),
                sg = series_sign(series_subtract(s, 4))""").head()
    assert(r.getSeq[Double](0) == Seq(4.0, 1.0, 4.0))
    assert(r.getSeq[Double](1) == Seq(1.0, 2.0, 3.0))
    assert(r.getSeq[Double](2) == Seq(1.0, 16.0, 81.0))
    assert(r.getSeq[Double](3) == Seq(-1.0, 0.0, 1.0))
    // fir: normalized [1,1] = trailing 2-point moving average, zero-padded head
    val f = run("""t | where id == 1
      | extend s = pack_array(2, 4, 6, 8)
      | project f1 = series_fir(s, pack_array(1, 1), true),
                f2 = series_fir(s, pack_array(1, 1), false),
                f3 = series_fir(s, pack_array(2, 2))""").head()
    assert(f.getSeq[Double](0) == Seq(1.0, 3.0, 5.0, 7.0))   // (x[i]+x[i-1])/2
    assert(f.getSeq[Double](1) == Seq(2.0, 6.0, 10.0, 14.0)) // unnormalized sum
    // default normalize: all-positive filter → normalized (same as f1)
    assert(f.getSeq[Double](2) == Seq(1.0, 3.0, 5.0, 7.0))
  }

  test("ring 6: parse kind=regex, mv-expand extensions, bitwise family") {
    // regex-mode parse: fragments are raw regex, captures still typed
    val p = run("""t | where status startswith 'err'
                   | parse kind=regex status with 'err-' kind:string '\\z'
                   | project id, kind | order by id asc""").collect()
    assert(p.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "timeout"), (3L, "refused")))
    // a fragment with its OWN capturing group must not shift named captures
    val g = run("""t | where id == 1 | parse kind=regex status with '(e|E)rr-' kind:string ''
                   | project kind""").head()
    assert(g.getString(0) == "timeout")
    // mv-expand: with_itemindex + to typeof + per-row limit
    val m = run("""t | where id <= 2 | extend a = split(status, '-')
                   | mv-expand with_itemindex=ix a to typeof(string) limit 2
                   | project id, ix, a | order by id asc, ix asc""").collect()
    assert(m.map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq ==
      Seq((1L, 0L, "err"), (1L, 1L, "timeout"), (2L, 0L, "ok")))
    // bitwise
    val b = run("""t | where id == 3
                   | project a = binary_and(id, 1), o = binary_or(id, 4), x = binary_xor(id, 1),
                             n = binary_not(0), sl = binary_shift_left(id, 2),
                             sr = binary_shift_right(12, 2), bc = bitset_count_ones(7)""").head()
    assert(b.getLong(0) == 1L && b.getLong(1) == 7L && b.getLong(2) == 2L)
    assert(b.getLong(3) == -1L && b.getLong(4) == 12L && b.getLong(5) == 3L && b.getLong(6) == 3L)
  }

  test("lambda lets + invoke, dynamic object literals") {
    // tabular lambda applied mid-pipeline; outer scope stays resolvable
    val r = run("""let big = (T:(*)) { T | where value >= 50 | extend tag = strcat(name, '!') };
                   t | invoke big() | summarize n = count(), mx = max(value)""").head()
    assert(r.getLong(0) == 3 && r.getDouble(1) == 95.0)
    // lambda body can reference outer tables (resolve fallthrough)
    val j = run("""let withT = (X:(*)) { X | join kind=leftsemi (t | where value > 90) on id };
                   t | invoke withT() | project id""").collect()
    assert(j.map(_.getLong(0)).toSeq == Seq(3L))
    // invoke of an unknown name is loud
    assertThrows[KqlParseException](run("t | invoke nope()"))
    // dynamic OBJECT literal (braces) reconstructs JSON; postfix access works
    val d = run("""t | where id == 1 | extend k = tolong(dynamic({"a": 7}).a) | project k""").head()
    assert(d.getLong(0) == 7L)
  }

  test("evaluate bag_unpack: sample-inferred schema, prefix, collision guard") {
    import spark.implicits._
    val bags = Seq(
      (1L, """{"a": 1, "b": "x"}"""),
      (2L, """{"a": 2, "c": 3.5}"""),
      (3L, """{"b": "y"}"""))
      .toDF("id", "props")
    val out = KqlCompiler.compile(
      "t | evaluate bag_unpack(props) | order by id asc", _ => bags)
    assert(out.columns.toSeq == Seq("id", "a", "b", "c")) // union of keys, bag dropped
    val rows = out.collect()
    assert(rows(0).getLong(1) == 1L && rows(0).getString(2) == "x" && rows(0).isNullAt(3))
    assert(rows(1).getLong(1) == 2L && rows(1).isNullAt(2) && rows(1).getDouble(3) == 3.5)
    assert(rows(2).isNullAt(1) && rows(2).getString(2) == "y")
    // prefix form
    val pre = KqlCompiler.compile("t | evaluate bag_unpack(props, 'p_')", _ => bags)
    assert(pre.columns.toSeq == Seq("id", "p_a", "p_b", "p_c"))
    // collision with an existing column fails loudly
    val clash = bags.withColumnRenamed("id", "a")
    assertThrows[KqlParseException](
      KqlCompiler.compile("t | evaluate bag_unpack(props)", _ => clash))
  }

  test("sample and sample-distinct: deterministic pseudorandom subsets") {
    // sample N: exactly N rows, a subset of the input, stable across runs
    val s1 = run("t | sample 3").collect()
    val s2 = run("t | sample 3").collect()
    assert(s1.length == 3 && s1.map(_.getLong(0)).toSet.subsetOf(Set(1L, 2L, 3L, 4L, 5L)))
    assert(s1.map(_.getLong(0)).sorted.toSeq == s2.map(_.getLong(0)).sorted.toSeq)
    // N >= rows returns everything
    assert(run("t | sample 99").count() == 5)
    // sample-distinct: distinct values of the column, single-column output
    val d = run("t | sample-distinct 2 of name").collect()
    assert(d.length == 2 && d.map(_.getString(0)).distinct.length == 2)
    assert(d.map(_.getString(0)).toSet.subsetOf(Set("alpha", "beta", "gamma")))
    val all = run("t | sample-distinct 10 of name | order by name asc").collect()
    assert(all.map(_.getString(0)).toSeq == Seq("alpha", "beta", "gamma"))
  }

  test("percentiles(): tuple-named and auto-named multi-column summarize") {
    // values 10,55,95,20,70 → p0=10, p50=55, p100=95 (exact interpolated)
    val r = run("t | summarize (lo, mid, hi) = percentiles(value, 0, 50, 100), percentiles(value, 25)").head()
    assert(r.schema.fieldNames.toSeq == Seq("lo", "mid", "hi", "percentile_value_25"))
    assert(r.getDouble(0) == 10.0 && r.getDouble(1) == 55.0 && r.getDouble(2) == 95.0)
    assert(r.getDouble(3) == 20.0) // interpolated p25 of sorted [10,20,55,70,95]
    // grouped form + mixing with plain aggregates
    val g = run("t | summarize n = count(), (m) = percentiles(value, 50) by name | order by name asc").collect()
    assert(g.map(x => (x.getString(0), x.getLong(1))).toSeq ==
      Seq(("alpha", 2L), ("beta", 2L), ("gamma", 1L)))
    // arity mismatch is loud
    assertThrows[KqlParseException](run("t | summarize (a, b) = percentiles(value, 50)"))
    // fractional P keeps Kusto's name mangling (dots → underscores)
    val f = run("t | summarize percentiles(value, 99.9)").schema.fieldNames.toSeq
    assert(f == Seq("percentile_value_99_9"))
  }

  test("scalar ring 5: url/hash/array-set family") {
    val r = run("""t | where id == 1
      | extend b64 = base64_encode_tostring(name),
               rt = base64_decode_tostring(base64_encode_tostring(name)),
               md = hash_md5('abc'),
               sha = hash_sha256(''),
               ue = url_encode('a b&c'), uc = url_encode_component('a b&c'),
               ud = url_decode(url_encode('a b&c'))
      | project b64, rt, md, sha, ue, uc, ud""").head()
    assert(r.getString(0) == java.util.Base64.getEncoder.encodeToString("alpha".getBytes))
    assert(r.getString(1) == "alpha")
    assert(r.getString(2) == "900150983cd24fb0d6963f7d28e17f72") // md5("abc")
    assert(r.getString(3) == "e3b0c44298fc1c149afbf4c8996fb92427ae41e4649b934ca495991b7852b855")
    assert(r.getString(4) == "a+b%26c" && r.getString(5) == "a%20b%26c" && r.getString(6) == "a b&c")
    val a = run("""t | where id == 1
      | extend arr = pack_array(3, 1, 2, 3)
      | project sl = array_slice(arr, 1, 2), sln = array_slice(arr, 0, -2),
                sp = array_split(arr, 2),
                rl = array_rotate_left(arr, 1), rr = array_rotate_right(arr, 1),
                shl = array_shift_left(arr, 1), shr = array_shift_right(arr, 1, 0),
                su = set_union(arr, pack_array(9)), si = set_intersect(arr, pack_array(3, 9)),
                sd = set_difference(arr, pack_array(3)),
                ji = jaccard_index(arr, pack_array(1, 9)),
                zp = zip(pack_array(1, 2), pack_array(3, 4)),
                rp = repeat(7, 3),
                scd = strcat_delim('-', 'a', 'b', 'c')""").head()
    def seq(i: Int) = a.getSeq[Long](i)
    assert(seq(0) == Seq(1L, 2L))                  // [1..2] inclusive
    assert(seq(1) == Seq(3L, 1L, 2L))              // 0..-2 wraps to size-2
    assert(a.getSeq[Seq[Long]](2) == Seq(Seq(3L, 1L), Seq(2L, 3L)))
    assert(seq(3) == Seq(1L, 2L, 3L, 3L) && seq(4) == Seq(3L, 3L, 1L, 2L))
    assert(a.getSeq[Any](5) == Seq(1L, 2L, 3L, null) && seq(6) == Seq(0L, 3L, 1L, 2L))
    assert(seq(7) == Seq(1L, 2L, 3L, 9L) && seq(8) == Seq(3L))
    assert(seq(9) == Seq(1L, 2L))
    assert(a.getDouble(10) == 0.25)                // {1,2,3} vs {1,9}: 1/4
    assert(a.getSeq[Seq[Long]](11) == Seq(Seq(1L, 3L), Seq(2L, 4L)))
    assert(seq(12) == Seq(7L, 7L, 7L))
    assert(a.getString(13) == "a-b-c")
  }

  test("fork legs and facet by: merged pipeline form + compileMulti tables") {
    // fork: merged single-DataFrame form labels rows with fork_source
    val f = run("""t | fork hi = (where value >= 55 | summarize n = count())
                            lo = (where value < 55 | summarize n = count())
                   | order by fork_source asc""").collect()
    assert(f.map(r => (r.getAs[String]("fork_source"), r.getAs[Long]("n"))).toSeq ==
      Seq(("hi", 3L), ("lo", 2L)))
    // compileMulti: each leg is its own typed DataFrame, names preserved
    val m = KqlCompiler.compileMulti(
      "t | fork (count) picked = (where name == 'alpha' | project id)", _ => df)
    assert(m.map(_._1) == Seq("fork_1", "picked"))
    assert(m.head._2.head().getLong(0) == 5L)
    assert(m(1)._2.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L))
    // facet by: per-column value/count tables, merged as strings
    val fc = KqlCompiler.compileMulti("t | facet by name, status with (summarize count())", _ => df)
    assert(fc.map(_._1) == Seq("name", "status", "facet_with"))
    val nameCounts = fc.head._2.collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(nameCounts == Map("alpha" -> 2L, "beta" -> 2L, "gamma" -> 1L))
    assert(run("t | facet by name").columns.toSeq == Seq("facet_column", "value", "count_"))
    // a no-multi query through compileMulti yields the single "result"
    val single = KqlCompiler.compileMulti("t | count", _ => df)
    assert(single.map(_._1) == Seq("result") && single.head._2.head().getLong(0) == 5L)
  }

  test("as binding, partition-by top-k, search across string columns") {
    // `as` binds mid-pipeline; the bound name joins back later
    val a = run("""t | where value >= 50 | as big
                   | summarize n = count()""").head()
    assert(a.getLong(0) == 3)
    val a2 = run("""t | where value >= 50 | as big | count | extend tag = 'x'
                    | join kind=inner (big | summarize m = max(value) | extend tag = 'x') on tag
                    | project Count, m""").head()
    assert(a2.getLong(0) == 3 && a2.getDouble(1) == 95.0)
    // partition by: per-key top-k via ONE window (no per-value subplans)
    val p = run("""t | partition by name ( top 1 by value ) | order by name asc""").collect()
    assert(p.map(r => (r.getString(1), r.getDouble(2))).toSeq ==
      Seq(("alpha", 95.0), ("beta", 70.0), ("gamma", 20.0)))
    // search: case-insensitive substring across all string columns
    assert(run("t | search 'TIMEOUT'").count() == 1)   // status err-timeout
    assert(run("t | search 'alpha'").count() == 2)     // name column
    assert(run("t | search 'zzz'").count() == 0)
  }

  test("evaluate pivot and evaluate funnel plugins") {
    import spark.implicits._
    // pivot with explicit output columns: no distinct scan, stable schema
    val p = run("""t | project name, value
                   | evaluate pivot(name, sum(value), 'alpha', 'beta', 'gamma')""").head()
    assert(p.schema.fieldNames.toSeq == Seq("alpha", "beta", "gamma"))
    assert(p.getDouble(0) == 105.0 && p.getDouble(1) == 125.0 && p.getDouble(2) == 20.0)
    // pivot keeps the non-consumed columns as group keys
    val pk = run("""t | extend parity = id % 2 | project parity, name
                    | evaluate pivot(name, count(), 'alpha', 'beta')
                    | order by parity asc""").collect()
    assert(pk.map(_.getLong(0)).toSeq == Seq(0L, 1L))
    // Kusto's default form: column set INFERRED from the data (bounded
    // distinct, sorted → deterministic schema)
    val pi = run("""t | project name, value
                    | evaluate pivot(name, sum(value))""").head()
    assert(pi.schema.fieldNames.toSeq == Seq("alpha", "beta", "gamma"))
    assert(pi.getDouble(0) == 105.0 && pi.getDouble(1) == 125.0 && pi.getDouble(2) == 20.0)
    // funnel: sequence matching over an ordered step list
    val ev = Seq(
      (1L, 10L, "a"), (1L, 20L, "b"), (2L, 10L, "b"), (2L, 20L, "a"))
      .map { case (u, t, e) => (u, new java.sql.Timestamp(t * 1000), e) }
      .toDF("uid", "ts", "step")
    val f = KqlCompiler.compile(
      "e | evaluate funnel(uid, ts, step, 'a', 'b') | order by k asc", _ => ev).collect()
    assert(f.map(r => (r.getLong(0), r.getBoolean(3))).toSeq ==
      Seq((1L, true), (2L, false))) // user 2's 'b' precedes its 'a'
    // unknown plugin is loud
    assert(intercept[KqlParseException](run("t | evaluate mystery(id)"))
      .getMessage.contains("unsupported evaluate plugin"))
  }

  test("scalar ring 4: strcmp, translate, trim_start/trim_end, hash") {
    val r = run("""t | where id == 1 | project a = strcmp(name, 'alpha'), b = strcmp(name, 'beta'),
                     c = strcmp('zeta', name), d = translate('ah', 'AH', name),
                     e = trim_start('a', name), f = trim_end('a', name),
                     g = trim_start('(al)', name)""").head()
    assert(r.getLong(0) == 0L && r.getLong(1) == -1L && r.getLong(2) == 1L)
    assert(r.getString(3) == "AlpHA")   // a→A, h→H in 'alpha'
    assert(r.getString(4) == "lpha")    // leading 'a' stripped
    assert(r.getString(5) == "alph")    // trailing 'a' stripped
    assert(r.getString(6) == "pha")     // repeated leading group: 'al' once here
    // take_any pins Kusto's "arbitrary value" to MIN (deterministic);
    // bag_keys over dynamic JSON text yields sorted keys
    val ta = run("""t | extend j = pack('z', id, 'a', name)
                    | summarize v = take_any(name), w = any(status) by k = strlen(name)
                    | order by k asc""").collect()
    assert(ta.map(_.getString(1)).toSeq == Seq("beta", "alpha")) // min within each group
    val bk = run("""t | where id == 1 | extend j = pack('z', id, 'a', name)
                    | project ks = bag_keys(j)""").head()
    assert(bk.getSeq[String](0) == Seq("a", "z"))
    // dcount(x, accuracy): Kusto's approximate form — tiny domains are
    // exact at every accuracy level; out-of-range levels are loud
    val da = run("t | summarize a0 = dcount(name, 0), a4 = dcount(name, 4)").head()
    assert(da.getLong(0) == 3L && da.getLong(1) == 3L)
    assert(intercept[KqlParseException](run("t | summarize a = dcount(name, 9)"))
      .getMessage.contains("0..4"))
    // hash: deterministic xxhash64, distinct across distinct inputs
    val h = run("t | summarize n = dcount(hash(name)), m = dcount(name)").head()
    assert(h.getLong(0) == h.getLong(1), "hash must be injective on this tiny domain")
    val h2 = run("t | where id == 1 | project x = hash(name)").head()
    val h3 = run("t | where id == 3 | project x = hash(name)").head()
    assert(h2.getLong(0) == h3.getLong(0), "equal inputs hash equal (both 'alpha')")
  }

  test("tostring: scalars cast, arrays/dynamic serialize to canonical JSON text") {
    // scalar: plain string cast (unchanged semantics)
    val s = run("t | where id == 1 | project a = tostring(value), b = tostring(id)").head()
    assert(s.getString(0) == "10.0" && s.getString(1) == "1")
    // array: JSON text with no spaces, string elements quoted
    val a = run("t | where id == 1 | project j = tostring(split(status, '-'))").head()
    assert(a.getString(0) == """["err","timeout"]""")
    // aggregate-valued: make_set serializes sorted (gate shape for q74)
    val ag = run("t | summarize s = tostring(make_set(name))").head()
    assert(ag.getString(0) == """["alpha","beta","gamma"]""")
  }

  test("serialize + row_number/prev/next over the declared order") {
    // df: ids 1..5, values 10,55,95,20,70 (name/status vary)
    val s = run("""t | project id, value | order by value asc
                   | serialize rn = row_number()
                   | extend d = value - prev(value), nx = next(id)
                   | order by rn asc""").collect()
    // columns: id(0), value(1), rn(2), d(3), nx(4)
    // ascending by value: 10(id1), 20(id4), 55(id2), 70(id5), 95(id3)
    assert(s.map(_.getLong(2)).toSeq == (1L to 5L))
    assert(s.head.isNullAt(3), "prev of the first row is null")
    assert(s.map(r => if (r.isNullAt(3)) -1.0 else r.getDouble(3)).toSeq ==
      Seq(-1.0, 10.0, 35.0, 15.0, 25.0))
    assert(s.last.isNullAt(4), "next of the last row is null")
    assert(s.map(r => if (r.isNullAt(4)) -1L else r.getLong(4)).toSeq ==
      Seq(4L, 2L, 5L, 3L, -1L))
    // prev with an explicit offset
    val p2 = run("""t | project value | order by value asc | serialize p = prev(value, 2)
                    | order by value asc""").collect()
    assert(p2.map(r => if (r.isNullAt(1)) -1.0 else r.getDouble(1)).toSeq ==
      Seq(-1.0, -1.0, 10.0, 20.0, 55.0))
    // loud without a declared order
    assert(intercept[KqlParseException](run("t | serialize rn = row_number()"))
      .getMessage.contains("order by"))
  }

  test("scalar/aggregate ring 3: indexof, strcat_array, base64, min_of, stdev, make_set, lookup") {
    import spark.implicits._
    // indexof 0-based / -1 absent; strrep; strcat_array; array_length
    val sc = run("""t | where id == 1 | extend parts = split(status, '-')
                    | project a = indexof(status, 'timeout'), b = indexof(status, 'zzz'),
                              c = strrep(name, 2), d = strcat_array(parts, '_'),
                              e = array_length(parts), f = min_of(id, 0, 7), g = max_of(id, 99)""").head()
    assert(sc.getLong(0) == 4L && sc.getLong(1) == -1L)
    assert(sc.getString(2) == "alphaalpha" && sc.getString(3) == "err_timeout")
    assert(sc.getLong(4) == 2L && sc.getLong(5) == 0L && sc.getLong(6) == 99L)
    // base64 round trip
    val b64 = run("t | where id == 1 | project e = base64_encode_tostring(name)," +
      " r = base64_decode_tostring(base64_encode_tostring(status))").head()
    assert(b64.getString(0) == java.util.Base64.getEncoder.encodeToString("alpha".getBytes("UTF-8")))
    assert(b64.getString(1) == "err-timeout")
    // stdev/variance (sample), sorted make_set, make_list length
    val ag = run("""t | summarize sd = round(stdev(value), 6), vr = round(variance(value), 6),
                      s = make_set(name), l = make_list(value)""").head()
    assert(math.abs(ag.getDouble(1) - 1237.5) < 1e-9) // var_samp of 10,55,95,20,70
    assert(math.abs(ag.getDouble(0) - math.sqrt(1237.5)) < 1e-6)
    assert(ag.getSeq[String](2) == Seq("alpha", "beta", "gamma"))
    assert(ag.getSeq[Double](3).sorted == Seq(10.0, 20.0, 55.0, 70.0, 95.0))
    // lookup: broadcast dimension join, leftouter default
    val owners = Seq((1L, "bo"), (3L, "cat")).toDF("id", "owner")
    val resolve2: String => org.apache.spark.sql.DataFrame =
      { case "t" => df; case "owners" => owners }
    val lk = KqlCompiler.compile("t | lookup (owners) on id | project id, owner | order by id asc", resolve2)
    assert(lk.count() == 5) // leftouter keeps unmatched
    assert(lk.collect().map(r => if (r.isNullAt(1)) "-" else r.getString(1)).toSeq ==
      Seq("bo", "-", "cat", "-", "-"))
    assert(KqlCompiler.compile("t | lookup kind=inner (owners) on id", resolve2).count() == 2)
    val analyzed = lk.queryExecution.analyzed.toString
    assert(analyzed.contains("ResolvedHint") || lk.queryExecution.sparkPlan.toString.contains("Broadcast"),
      "lookup dimension must carry the broadcast hint")
  }

  test("top-nested: hierarchical top-k with per-parent windows") {
    import spark.implicits._
    val t = Seq(
      ("a", "x", 10.0), ("a", "x", 10.0), ("a", "y", 5.0), ("a", "z", 1.0),
      ("b", "p", 100.0), ("b", "q", 2.0),
      ("c", "r", 3.0)) // c: 1 row — fewest, drops at level 1
      .toDF("grp", "sub", "v")
    val out = KqlCompiler.compile(
      "t | top-nested 2 of grp by n = count(), top-nested 2 of sub by s = sum(v)" +
        " | order by grp asc, s desc", _ => t).collect()
    // level 1 keeps a (4 rows) and b (2 rows); level 2 keeps top-2 subs by sum
    assert(out.map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getDouble(3))).toSeq ==
      Seq(("a", 4L, "x", 20.0), ("a", 4L, "y", 5.0), ("b", 2L, "p", 100.0), ("b", 2L, "q", 2.0)))
    // single level works too, ties break on the key ascending
    val one = KqlCompiler.compile("t | top-nested 2 of grp by n = count() | order by n desc, grp asc", _ => t)
    assert(one.collect().map(_.getString(0)).toSeq == Seq("a", "b"))
  }

  test("dynamic array indexing: .arr[0].k paths lower to one json probe") {
    import spark.implicits._
    val t = Seq(
      (1L, """{"arr": [{"k": 7}, {"k": 9}], "plain": 3}"""),
      (2L, """{"arr": [{"k": 5}], "plain": 4}"""))
      .toDF("id", "props")
    def runJ(kql: String) = KqlCompiler.compile(kql, _ => t)
    val r = runJ("""t | extend first = tolong(parse_json(props).arr[0].k), p = tolong(parse_json(props).plain)
                    | project id, first, p | order by id asc""").collect()
    assert(r.map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSeq ==
      Seq((1L, 7L, 3L), (2L, 5L, 4L)))
    // out-of-range index is null, filterable with isnull
    assert(runJ("t | where isnull(parse_json(props).arr[3]) | count").head().getLong(0) == 2)
  }

  test("mv-apply: array lambdas — filtered expansion and per-row aggregates, no shuffle") {
    import spark.implicits._
    val t = Seq(
      (1L, Seq(1.0, 5.0, 9.0, 2.0)),
      (2L, Seq(10.0, 20.0)),
      (3L, Seq.empty[Double]))
      .toDF("id", "vals")
    def runA(kql: String) = KqlCompiler.compile(kql, _ => t)

    // summarize form: one row per input row, aggregates over elements
    val ag = runA("t | mv-apply v = vals on ( where v >= 2.0 |" +
      " summarize n = count(), s = sum(v), m = max(v), a = avg(v) ) | order by id asc").collect()
    assert(ag.map(r => (r.getLong(0), r.getLong(2), r.getDouble(3))).toSeq ==
      Seq((1L, 3L, 16.0), (2L, 2L, 30.0), (3L, 0L, 0.0)))
    assert(ag(0).getDouble(4) == 9.0 && ag(2).isNullAt(4), "max of empty filter is null")
    assert(math.abs(ag(1).getDouble(5) - 15.0) < 1e-9)
    // expansion form: one row per surviving element (Kusto row-per-element)
    val ex = runA("t | mv-apply v = vals on ( where v >= 5.0 ) | project id, v | order by id asc, v asc")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(ex.toSeq == Seq((1L, 5.0), (1L, 9.0), (2L, 10.0), (2L, 20.0)))
    // `to typeof(...)` is accepted; nested element expressions compose
    assert(runA("t | mv-apply v = vals to typeof(real) on ( where v * 2 >= 10.0 | summarize n = count() ) | summarize total = sum(n)")
      .head().getLong(0) == 4L) // 5,9 from row 1 + 10,20 from row 2
    // +/- on element lambdas (the type-adaptive dispatch must fall back
    // instead of trying to resolve a lambda variable standalone)
    assert(runA("t | mv-apply v = vals on ( where v + 1.0 >= 6.0 | summarize n = count() ) | summarize total = sum(n)")
      .head().getLong(0) == 4L) // same cut: v >= 5
    // the whole thing is map-only: no exchange before the final sort
    val plan = runA("t | mv-apply v = vals on ( where v >= 2.0 | summarize n = count() )")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"mv-apply must not shuffle:\n$plan")
  }

  test("make-series and top-nested keep NULL-keyed groups (null-safe joins)") {
    import spark.implicits._
    val fixedNow = java.time.Instant.parse("2024-03-01T12:00:00Z")
    val t = Seq(
      (Some("a"), "x", java.sql.Timestamp.from(java.time.Instant.parse("2024-03-01T00:30:00Z")), 1.0),
      (None, "x", java.sql.Timestamp.from(java.time.Instant.parse("2024-03-01T00:40:00Z")), 2.0),
      (None, "y", java.sql.Timestamp.from(java.time.Instant.parse("2024-03-01T01:30:00Z")), 3.0))
      .toDF("k", "sub", "ts", "v")
    // make-series: the null-keyed series must carry ITS counts, not defaults
    val ms = KqlCompiler.compile(
      "t | make-series n = count() default = 0 on ts from datetime(2024-03-01) to datetime(2024-03-01T02:00:00Z) step 1h by k",
      _ => t, fixedNow).collect()
    val byKey = ms.map(r => Option(r.getString(0)) -> r.getSeq[Long](1)).toMap
    assert(byKey(Some("a")) == Seq(1L, 0L))
    assert(byKey(None) == Seq(1L, 1L), "null-keyed series lost its data")
    // top-nested: a null parent group must keep its children
    val tn = KqlCompiler.compile(
      "t | top-nested 2 of k by n = count(), top-nested 2 of sub by s = sum(v) | order by s desc",
      _ => t).collect()
    val nullRows = tn.filter(_.isNullAt(0))
    assert(nullRows.length == 2, s"null parent dropped: ${tn.mkString(", ")}")
    assert(nullRows.map(r => (r.getString(2), r.getDouble(3))).toSet == Set(("x", 2.0), ("y", 3.0)))
  }

  test("in family (!in, in~, !in~) and has_all") {
    assert(run("t | where name in ('alpha', 'gamma')").count() == 3)
    assert(run("t | where name !in ('alpha', 'gamma')").count() == 2)
    assert(run("t | where name in~ ('ALPHA', 'Gamma')").count() == 3)
    assert(run("t | where name !in~ ('ALPHA', 'Gamma')").count() == 2)
    assert(run("t | where status has_all ('err', 'timeout')").count() == 1)
    assert(run("t | where status has_any ('err', 'timeout')").count() == 2)
  }

  test("project-keep/-reorder wildcards, distinct *, getschema, dynamic literals") {
    // df columns: id, name, value, status
    val keep = run("t | project-keep name, va*")
    assert(keep.columns.toSeq == Seq("name", "value"), "table order preserved")
    val re = run("t | project-reorder status, i*")
    assert(re.columns.toSeq == Seq("status", "id", "name", "value"))
    assert(intercept[KqlParseException](run("t | project-keep zz*"))
      .getMessage.contains("matched no columns"))
    assert(run("t | distinct *").count() == 5)
    val schema = run("t | getschema").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    assert(schema.toSeq == Seq(("id", 0L, "bigint"), ("name", 1L, "string"),
      ("value", 2L, "double"), ("status", 3L, "string")))
    // dynamic array literal + postfix index access
    val dyn = run("t | where id == 1 | project a = dynamic([1, 2, 3])[1], s = dynamic(['x', 'y'])[0]").head()
    assert(dyn.getString(0) == "2" && dyn.getString(1) == "x")
  }

  test("dayofweek timespan, endof* periods, format_datetime") {
    import spark.implicits._
    val fixedNow = java.time.Instant.parse("2024-03-01T12:00:00Z")
    val t = Seq((1L, java.sql.Timestamp.from(java.time.Instant.parse("2024-03-01T09:15:30Z"))))
      .toDF("id", "ts") // 2024-03-01 is a Friday
    def runT(kql: String) = KqlCompiler.compile(kql, _ => t, fixedNow)

    // dayofweek = timespan since Sunday: Friday = 5 days, in micros
    val dw = runT("t | project d = dayofweek(ts), fri = dayofweek(ts) == 5d").head()
    assert(dw.getLong(0) == 5L * 86400000000L && dw.getBoolean(1))
    // endof*: last micro of the containing period
    val eo = runT("t | project ed = endofday(ts), ew = endofweek(ts), em = endofmonth(ts), ey = endofyear(ts)").head()
    assert(eo.getTimestamp(0).toInstant == java.time.Instant.parse("2024-03-01T23:59:59.999999Z"))
    assert(eo.getTimestamp(1).toInstant == java.time.Instant.parse("2024-03-02T23:59:59.999999Z"), "week ends Saturday")
    assert(eo.getTimestamp(2).toInstant == java.time.Instant.parse("2024-03-31T23:59:59.999999Z"))
    assert(eo.getTimestamp(3).toInstant == java.time.Instant.parse("2024-12-31T23:59:59.999999Z"))
    // format_datetime with Kusto patterns (tt and fff normalized)
    val fd = runT("t | project a = format_datetime(ts, 'yyyy-MM-dd HH:mm:ss'), b = format_datetime(ts, 'hh:mm tt')").head()
    assert(fd.getString(0) == "2024-03-01 09:15:30")
    assert(fd.getString(1) == "09:15 AM")
  }

  test("split index, countof overlapping, string_size, tobool, tohex, isnan/isinf") {
    val r = run("""t | where id == 1 | project a = split(status, '-', 0), b = split(status, '-', 1),
                     c = split(status, '-', 9), n = countof(status, 't'),
                     z = countof('aaa', 'aa'), re = countof(status, 'e.', 'regex'),
                     sz = string_size(name), hx = tohex(id), bl = tobool('true')""").head()
    assert(r.getString(0) == "err" && r.getString(1) == "timeout")
    assert(r.isNullAt(2), "out-of-range split index is null")
    assert(r.getLong(3) == 2L) // err-Timeout: 't' twice (timeout)
    assert(r.getLong(4) == 2L, "countof counts OVERLAPPING occurrences")
    assert(r.getLong(5) == 2L) // regex kind: 'e.' matches 'er' and 'eo'
    assert(r.getLong(6) == 5L && r.getString(7) == "1" && r.getBoolean(8))
    val nan = run("t | where id == 1 | project a = isnan(todouble('NaN')), b = isinf(value), c = isnan(value)").head()
    assert(nan.getBoolean(0) && !nan.getBoolean(1) && !nan.getBoolean(2))
  }

  test("array scalars, extract_all, bag_pack alias") {
    val r = run("""t | where id == 1 | extend parts = split(status, '-')
                   | project first = array_index_of(parts, 'timeout'),
                             missing = array_index_of(parts, 'zzz'),
                             rev = strcat_array(array_reverse(parts), '_'),
                             cat = array_length(array_concat(parts, parts)),
                             ea = extract_all('([a-z]+)-', strcat(status, '-')),
                             bp = bag_pack('a', id)""").head()
    assert(r.getLong(0) == 1L && r.getLong(1) == -1L)
    assert(r.getString(2) == "timeout_err")
    assert(r.getLong(3) == 4L)
    assert(r.getSeq[String](4) == Seq("err", "timeout"))
    assert(r.getString(5).contains("\"a\":1"))
    // numeric array functions over a split-derived double array
    val n = run("""t | extend xs = split('4;1;3', ';')
                   | where id == 1
                   | project s = array_sum(xs), a = array_avg(xs),
                             mn = array_min(xs), mx = array_max(xs),
                             srt = strcat_array(array_sort_asc(xs), '')""").head()
    assert(n.getDouble(0) == 8.0 && math.abs(n.getDouble(1) - 8.0 / 3) < 1e-12)
    assert(n.getString(2) == "1" && n.getString(3) == "4")
    assert(n.getString(4) == "134")
  }

  test("parse errors are loud and specific") {
    assert(intercept[KqlParseException](run("t | explode x")).getMessage.contains("unsupported operator"))
    assert(intercept[KqlParseException](run("t | where name == 'unterminated")).getMessage.contains("unterminated"))
    assert(intercept[KqlParseException](run("t | project x = arg_max(value)")).getMessage.contains("expects 2"))
    assert(intercept[KqlParseException](run("t | count extra")).getMessage.contains("trailing"))
    assert(intercept[KqlParseException](run("t | extend y = frobnicate(1)")).getMessage.contains("unsupported function"))
  }

  test("scan: declare defaults, step sequence, per-step assignments") {
    val out = run(
      """t | order by id asc
        | | scan declare (first_alpha:long = 0, nm:string) with (
        |     step s1: name == 'alpha' => first_alpha = id, nm = status;
        |     step s2: name == 'beta';
        |   )
        | | project id, first_alpha, nm""".stripMargin)
      .orderBy(col("id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), Option(r.getString(2))))
    // repeated-match machine: alpha id=1 starts seq 1 (assigns from its
    // row), beta id=2 completes it; alpha id=3 starts seq 2, beta id=5
    // completes it — BOTH alpha→beta chains are found (Kusto scan
    // restarts after each completion), each carrying its own assignments
    assert(out.toSeq == Seq(
      (1L, 1L, Some("err-timeout")), (2L, 1L, Some("err-timeout")),
      (3L, 3L, Some("err-refused")), (5L, 3L, Some("err-refused"))))
  }

  test("scan: untyped-default declare is null until assigned; stall emits prefix only") {
    val out = run(
      """t | order by id asc
        | | scan declare (v:real) with (
        |     step s1: name == 'gamma';
        |     step s2: value > 1000 => v = value;
        |   )
        | | project id, v""".stripMargin).collect()
    // gamma is id=4; nothing after it has value > 1000 → only the s1 row,
    // with the unassigned declare still null
    assert(out.map(r => (r.getLong(0), r.isNullAt(1))).toSeq == Seq((4L, true)))
  }

  test("render is a validated presentation no-op") {
    val out = run("t | summarize n = count() by name | order by name asc | render barchart")
      .collect()
    assert(out.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("alpha", 2L), ("beta", 2L), ("gamma", 1L)))
    // with-properties are client-side and skipped as a balanced group
    assert(run("t | render table with (title = 'All rows', xcolumn = id)").count() == 5)
    assert(intercept[KqlParseException](run("t | render sparkline"))
      .getMessage.contains("chart kind"))
    // Kusto requires render to be the final operator
    assert(intercept[KqlParseException](run("t | render table | count"))
      .getMessage.contains("trailing"))
  }

  test("scan requires a preceding order by") {
    assert(intercept[KqlParseException](
      run("t | scan with (step s1: value > 0;)")).getMessage.contains("order by"))
  }

  test("scan single-step running form: Kusto's canonical cumulative sum") {
    val out = KqlCompiler.compile(
      """range x from 1 to 5 step 1
        | | order by x asc
        | | scan declare (s:long = 0) with (step step1: true => s = x + s;)""".stripMargin,
      _ => df, java.time.Instant.EPOCH, spark).collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 1L), (2L, 3L), (3L, 6L), (4L, 10L), (5L, 15L)))
  }

  test("scan single-step: filtered accumulation + row-only assignment together") {
    val out = run(
      """t | order by id asc
        | | scan declare (tot:real = 0.0, nm:string) with (
        |     step s: value >= 20 => tot = tot + value, nm = name;
        |   )
        | | project id, tot, nm""".stripMargin).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
    // ids 2(55), 3(95), 4(20), 5(70) match; tot accumulates over matched
    // rows only, nm is each consuming row's own value
    assert(out.toSeq == Seq(
      (2L, 55.0, "beta"), (3L, 150.0, "alpha"), (4L, 170.0, "gamma"), (5L, 240.0, "beta")))
  }

  test("scan with_match_id labels the single supported instance") {
    val out = run(
      """t | order by id asc
        | | scan with_match_id=m declare (s:long = 0) with (step s1: name == 'alpha' => s = s + 1;)
        | | project id, s, m""".stripMargin).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((1L, 1L, 1L), (3L, 2L, 1L)))
    assert(intercept[KqlParseException](run(
      """t | order by id asc
        | | scan with_match_id=id with (step s1: value > 0;)""".stripMargin))
      .getMessage.contains("collides"))
  }

  test("parse-kv: anchored typed key extraction, missing keys, no substring-key bleed") {
    val out = run(
      """t | extend kv = strcat('uid', '=', tostring(id), ',xval=9,val=', tostring(id * 10))
        | | parse-kv kv as (val:long, uid:long) with (pair_delimiter=',', kv_delimiter='=')
        | | project kv, val, uid""".stripMargin).collect()
    // 'val' must not match inside 'xval'; declared keys extract typed
    assert(out.map(r => (r.getLong(1), r.getLong(2))).toSeq ==
      Seq((10L, 1L), (20L, 2L), (30L, 3L), (40L, 4L), (50L, 5L)))
    // missing key -> null after the long cast; string key -> empty
    val miss = run(
      """t | where id == 1 | extend kv = 'a=1'
        | | parse-kv kv as (b:long, c:string) with (pair_delimiter=',', kv_delimiter='=')
        | | project b, c""".stripMargin).head()
    assert(miss.isNullAt(0) && miss.getString(1) == "")
    assert(intercept[KqlParseException](run(
      "t | extend kv = 'a=1' | parse-kv kv as (a:long) with (pair_delimiter=', ', kv_delimiter='=')"))
      .getMessage.contains("single characters"))
    assert(intercept[KqlParseException](run(
      "t | parse-kv name as (value:string) with (pair_delimiter=',', kv_delimiter='=')"))
      .getMessage.contains("collides"))
  }

  test("find in (...): cross-scope search with source_ label and projection") {
    val out = run(
      """let hi = t | where value >= 70;
        |let ok = t | where status == 'ok';
        |find in (hi, ok) where name == 'beta' project id, name
        | | order by id asc, source_ asc""".stripMargin).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    // beta rows: id 2 (55, ok), id 5 (70, ok): hi holds only id 5; ok both
    assert(out.toSeq == Seq(("ok", 2L, "beta"), ("hi", 5L, "beta"), ("ok", 5L, "beta")))
  }

  test("evaluate basket: exact frequent-pattern lattice with wildcard rows") {
    // 5 rows: name alpha×2, beta×2, gamma×1; threshold 0.4 → support ≥ 2
    val out = run(
      """t | project name, ok = tostring(value >= 50)
        | | evaluate basket(0.4)
        | | order by Count desc, name asc, ok asc""".stripMargin).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    // singletons: alpha(2), beta(2), ok=true(3), ok=false(2); pairs with
    // support 2: (alpha,*)... full pairs: (alpha: 55?,95 -> true,true)=2,
    // beta: 55(true),70(true) -> (beta,true)=2
    assert(out.contains(("*", "true", 3L, 60.0)))
    assert(out.contains(("alpha", "*", 2L, 40.0)))
    assert(out.contains(("beta", "true", 2L, 40.0)))
    // gamma has support 1 < 2: no gamma rows anywhere
    assert(!out.exists(_._1 == "gamma"))
    // the grand-total (all-wildcard) row is excluded
    assert(!out.contains(("*", "*", 5L, 100.0)))
    assert(intercept[KqlParseException](run("t | evaluate basket(1.5)"))
      .getMessage.contains("(0, 1)"))
  }

  test("scan step output modes: last keeps the final state row, none suppresses") {
    // running form, output=last: only the final consumed record emits,
    // carrying the completed accumulation (Kusto's summarize-by-scan idiom)
    val last = run(
      """t | order by id asc
        | | scan declare (tot:real = 0.0) with (step s output=last: value >= 20 => tot = tot + value;)
        | | project id, tot""".stripMargin).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(last.toSeq == Seq((5L, 240.0)))
    // multi-step, output=none on step 1: the alpha rows are consumed
    // (state assigned, sequence advances) but not emitted — both
    // completions still surface with their own sequence's assignment
    val none = run(
      """t | order by id asc
        | | scan declare (first_alpha:long = 0) with (
        |     step s1 output=none: name == 'alpha' => first_alpha = id;
        |     step s2: name == 'beta';
        |   )
        | | project id, first_alpha""".stripMargin).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(none.toSeq == Seq((2L, 1L), (5L, 3L)))
    assert(intercept[KqlParseException](run(
      "t | order by id asc | scan with (step s output=sometimes: value > 0;)"))
      .getMessage.contains("output mode"))
  }

  test("scan repeated-match machine: with_match_id numbers each sequence") {
    val out = run(
      """t | order by id asc
        | | scan with_match_id=mid declare (a_id:long = 0) with (
        |     step sa: name == 'alpha' => a_id = id;
        |     step sb: name == 'beta';
        |   )
        | | project id, a_id, mid""".stripMargin).orderBy(col("id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((1L, 1L, 1L), (2L, 1L, 1L), (3L, 3L, 2L), (5L, 3L, 2L)))
  }

  test("scan full machine: promote, greedy extend, replacement, restart") {
    // A A B B C C A C B C A B A B C — exercises every rule: greedy step
    // extension (rows 2, 4), completion + restart (rows 5, 10, 15), a
    // non-matching record mid-sequence (row 8), and promotion REPLACING
    // a waiting sequence (row 14 replaces the 11-12 pair at step 2 —
    // rows 11-12 were already emitted with their own match id, Kusto's
    // emit-at-match-time rule).
    val out = KqlCompiler.compile(
      """datatable(id: long, t: string)[
        |  1,'A', 2,'A', 3,'B', 4,'B', 5,'C', 6,'C', 7,'A', 8,'C',
        |  9,'B', 10,'C', 11,'A', 12,'B', 13,'A', 14,'B', 15,'C']
        | | order by id asc
        | | scan with_match_id=mid declare (a:long = 0, b:long = 0) with (
        |     step sa: t == 'A' => a = id;
        |     step sb: t == 'B' => b = id;
        |     step sc: t == 'C';
        |   )
        | | project id, a, b, mid""".stripMargin,
      _ => df, java.time.Instant.now(), spark).orderBy(col("id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      (1L, 1L, 0L, 1L), (2L, 2L, 0L, 1L), (3L, 2L, 3L, 1L), (4L, 2L, 4L, 1L),
      (5L, 2L, 4L, 1L), (7L, 7L, 0L, 2L), (9L, 7L, 9L, 2L), (10L, 7L, 9L, 2L),
      (11L, 11L, 0L, 3L), (12L, 11L, 12L, 3L), (13L, 13L, 0L, 4L),
      (14L, 13L, 14L, 4L), (15L, 13L, 14L, 4L)))
  }

  test("unkeyed scan/serialize warn about the global partition; keyed do not") {
    val (_, w1) = KqlCompiler.compileWithWarnings(
      "t | order by id asc | scan with (step s1: name == 'alpha'; step s2: name == 'beta';)",
      _ => df)
    assert(w1.exists(_.contains("partition by Key")))
    val (_, w2) = KqlCompiler.compileWithWarnings(
      """t | order by id asc
        | | partition by name ( scan declare (tot:real = 0.0) with (step s: value > 15 => tot = tot + value;) )""".stripMargin,
      _ => df)
    assert(!w2.exists(_.contains("ONE global partition")))
    val (_, w3) = KqlCompiler.compileWithWarnings(
      "t | order by id asc | serialize rn = row_number()", _ => df)
    assert(w3.exists(_.contains("global partition")))
  }

  test("partition by key (scan …): keyed running scan, one exchange, no global window") {
    val out = run(
      """t | order by id asc
        | | partition by name ( scan declare (tot:real = 0.0) with (step s: value > 15 => tot = tot + value;) )
        | | project id, name, tot""".stripMargin)
    val rows = out.orderBy(col("id")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    // per-name accumulation: alpha 95 (id 3); beta 55 (2), 125 (5); gamma 20 (4)
    assert(rows.toSeq == Seq(
      (2L, "beta", 55.0), (3L, "alpha", 95.0), (4L, "gamma", 20.0), (5L, "beta", 125.0)))
    val p = out.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // one exchange for the preceding global order by, one hash exchange
    // for the keyed windows — and crucially NO SinglePartition window
    assert("\\(\\d+\\) Exchange".r.findAllIn(p).size <= 2,
      s"keyed scan must not shuffle per step:\n$p")
    assert(!p.contains("SinglePartition"),
      s"keyed scan must not collapse to a global window:\n$p")
  }

  // ------------------------------------------------ round-13 ring

  test("join kind=innerunique dedups the left side to the MIN full row per key") {
    // two 'alpha' rows (ids 1, 3): innerunique keeps id 1 (min struct)
    val out = run(
      """t | join kind=innerunique (t | summarize mx = max(value) by name) on name
        | | project name, id, mx
        | | order by name asc""".stripMargin).collect()
    assert(out.map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq ==
      Seq(("alpha", 1L, 95.0), ("beta", 2L, 70.0), ("gamma", 4L, 20.0)))
  }

  test("reduce by: digit-bearing tokens wildcard to '*', min representative") {
    val out = run(
      """t | reduce by status
        | | order by Count desc, Pattern asc""".stripMargin).collect()
    // statuses: err-timeout, ok, err-refused, retry, ok → patterns unchanged
    // (no digits); now force digits through strcat
    assert(out.map(_.getString(0)).toSeq == Seq("ok", "err-refused", "err-timeout", "retry"))
    val dig = run(
      """t | reduce by strcat('u', tostring(id), '-', status)
        | | order by Count desc, Pattern asc""".stripMargin).collect()
    // u1-err-timeout → *-err-timeout; u2-ok/u5-ok collapse to *-ok (count 2)
    assert(dig.map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq == Seq(
      ("*-ok", 2L, "u2-ok"),
      ("*-err-refused", 1L, "u3-err-refused"),
      ("*-err-timeout", 1L, "u1-err-timeout"),
      ("*-retry", 1L, "u4-retry")))
  }

  private def runG2(kql: String) =
    KqlCompiler.compile(kql, _ => df, java.time.Instant.now(), spark)

  test("make-graph + graph-match: fixed 2-hop lowers to equi-joins") {
    val out = runG2(
      """let E = datatable(src: string, dst: string, w: long)[
        |  'a', 'b', 1, 'b', 'c', 2, 'b', 'd', 3, 'x', 'b', 9];
        | E | make-graph src --> dst
        | | graph-match (p)-[e1]->(q)-[e2]->(r)
        |   where p.node_id == 'a'
        |   project tail = r.node_id, w2 = e2.w
        | | order by tail asc""".stripMargin).collect()
    assert(out.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("c", 2L), ("d", 3L)))
  }

  test("graph-match: with-nodes properties, backward arrow, repeated alias (cycle)") {
    val g =
      """let E = datatable(src: string, dst: string)[
        |  'a', 'b', 'b', 'c', 'c', 'a', 'b', 'd'];
        | let N = datatable(id: string, kind: string)[
        |  'a', 'root', 'b', 'mid', 'c', 'mid', 'd', 'leaf'];
        | E | make-graph src --> dst with N on id
        |""".stripMargin
    // node properties through the with-nodes table
    val props = runG2(g +
      """|| graph-match (x)-[e]->(y)
         |   where y.kind == 'leaf'
         |   project from_ = x.id, fk = x.kind
         |""".stripMargin).collect()
    assert(props.map(r => (r.getString(0), r.getString(1))).toSeq == Seq(("b", "mid")))
    // backward arrow: (x)<-[e]-(y) means edge y→x
    val back = runG2(g +
      """|| graph-match (x)<-[e]-(y)
         |   where x.id == 'b'
         |   project src_ = y.id
         || order by src_ asc""".stripMargin).collect()
    assert(back.map(_.getString(0)).toSeq == Seq("a"))
    // repeated node alias closes the cycle: a→b→c→a
    val cyc = runG2(g +
      """|| graph-match (p)-[e1]->(q)-[e2]->(r)-[e3]->(p)
         |   project n1 = p.id, n2 = q.id, n3 = r.id
         || order by n1 asc""".stripMargin).collect()
    assert(cyc.length == 3) // the 3 rotations of the a-b-c cycle
    assert(cyc.map(_.getString(0)).toSeq == Seq("a", "b", "c"))
  }

  test("graph-match: variable-length edge binds the hop-edge ARRAY") {
    val out = runG2(
      """let E = datatable(src: string, dst: string, w: long)[
        |  'a', 'b', 1, 'b', 'c', 2, 'c', 'd', 3];
        | E | make-graph src --> dst
        | | graph-match (p)-[e*1..3]->(q)
        |   where p.node_id == 'a'
        |   project q = q.node_id, hops = array_length(e), w0 = e[0].w
        | | order by hops asc""".stripMargin).collect()
    assert(out.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq(("b", 1L, 1L), ("c", 2L, 1L), ("d", 3L, 1L)))
  }

  test("graph-shortest-paths: min-hop winnow, output=any vs all") {
    // diamond + long way: a→b→d (2 hops, two routes b/c) and a→e→f→d (3)
    val g =
      """let E = datatable(src: string, dst: string)[
        |  'a', 'b', 'a', 'c', 'b', 'd', 'c', 'd',
        |  'a', 'e', 'e', 'f', 'f', 'd'];
        | E | make-graph src --> dst
        |""".stripMargin
    // any: ONE shortest a→d path, pinned to the min node-sequence (via b)
    val any = runG2(g +
      """|| graph-shortest-paths (s)-[e*1..4]->(t)
         |   where s.node_id == 'a' and t.node_id == 'd'
         |   project hops = array_length(e), mid = e[0].dst
         |""".stripMargin).collect()
    assert(any.map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((2L, "b")))
    // all: BOTH 2-hop paths survive, the 3-hop one never
    val all = runG2(g +
      """|| graph-shortest-paths output=all (s)-[e*1..4]->(t)
         |   where s.node_id == 'a' and t.node_id == 'd'
         |   project hops = array_length(e), mid = e[0].dst
         || order by mid asc""".stripMargin).collect()
    assert(all.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((2L, "b"), (2L, "c")))
    // unconstrained: every reachable pair gets its shortest hop count
    val pairs = runG2(g +
      """|| graph-shortest-paths (s)-[e*1..4]->(t)
         |   project s = s.node_id, t = t.node_id, hops = array_length(e)
         || where s == 'a'
         || order by t asc""".stripMargin).collect()
    assert(pairs.map(r => (r.getString(1), r.getLong(2))).toSeq ==
      Seq(("b", 1L), ("c", 1L), ("d", 2L), ("e", 1L), ("f", 2L)))
  }

  test("graph-shortest-paths: driver-local BFS == distributed loop (round 21 parity)") {
    // cycles, a hub, parallel routes, and an unconstrained multi-source
    // sweep — the shapes where a local replay could diverge from the
    // per-level join/dedup/anti-join loop (sig tie-breaks, settle
    // rounds, self-reach via cycles)
    val g =
      """let E = datatable(src: string, dst: string)[
        |  'a', 'b', 'b', 'c', 'c', 'a', 'a', 'h', 'b', 'h', 'c', 'h',
        |  'h', 'z', 'a', 'c', 'z', 'a'];
        | E | make-graph src --> dst
        |""".stripMargin
    for (mode <- Seq("", "output=all ")) {
      val q = g +
        s"""|| graph-shortest-paths $mode(s)-[e*1..4]->(t)
            |   project s = s.node_id, t = t.node_id, hops = array_length(e),
            |           sig = tostring(e)
            || order by s asc, t asc, hops asc, sig asc""".stripMargin
      val local = runG2(q).collect().map(_.toSeq).toSeq
      val dist = KqlCompiler.compile(q, _ => df, java.time.Instant.now(), spark,
        localGraph = false).collect().map(_.toSeq).toSeq
      assert(local == dist, s"mode='$mode'")
      assert(local.nonEmpty)
    }
  }

  test("graph-shortest-paths: loop caches are released — no CacheManager entry outlives the query") {
    // The BFS loop caches (edge projection + node set) ride the
    // materialize() query-duration lifecycle: persisted through compile
    // and the first execution of the result (persist-speed columnar
    // reads for the loop and the endpoint bind), then retired by the
    // QueryExecutionListener — async on the listener bus, so poll. A
    // session-lifetime CacheManager entry (the round-16 leak) would
    // never empty out.
    spark.catalog.clearCache()
    val out = runG2(
      """let E = datatable(src: string, dst: string)[
        |  'a', 'b', 'b', 'c', 'a', 'c', 'c', 'd'];
        | E | make-graph src --> dst
        | | graph-shortest-paths (s)-[e*1..4]->(t)
        |   where s.node_id == 'a' and t.node_id == 'd'
        |   project hops = array_length(e)""".stripMargin)
    assert(out.collect().map(_.getLong(0)).toSeq == Seq(2L))
    var i = 0
    while (i < 100 && !spark.sharedState.cacheManager.isEmpty) { Thread.sleep(100); i += 1 }
    assert(spark.sharedState.cacheManager.isEmpty,
      "shortest-paths left a persisted plan in the CacheManager after its query executed")
  }

  test("graph-shortest-paths: BFS lowering handles ranges beyond the chain cap, cycles, edge-filter fallback") {
    // a 40-node chain with a *1..40 range: the chain lowering would blow
    // the 32-chain cap — only the frontier-BFS path can run this.
    // Also: early-exit (frontier dries up at hop 39).
    val chainEdges = (0 until 39).map(i => s"'n${"%02d".format(i)}', 'n${"%02d".format(i + 1)}'").mkString(", ")
    val longG =
      s"""let E = datatable(src: string, dst: string)[$chainEdges];
         | E | make-graph src --> dst
         | | graph-shortest-paths (s)-[e*1..40]->(t)
         |   where s.node_id == 'n00'
         |   project t = t.node_id, hops = array_length(e)
         | | summarize n = count(), mx = max(hops)
         |""".stripMargin
    val out = runG2(longG).collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((39L, 39L)))
    // cycle pattern (s)-[e*1..4]->(s): min cycle length back to self
    val cyc = runG2(
      """let E = datatable(src: string, dst: string)[
        |  'a', 'b', 'b', 'c', 'c', 'a', 'a', 'x'];
        | E | make-graph src --> dst
        | | graph-shortest-paths (s)-[e*1..4]->(s)
        |   where s.node_id == 'a'
        |   project s = s.node_id, hops = array_length(e)
        |""".stripMargin).collect()
    assert(cyc.map(r => (r.getString(0), r.getLong(1))).toSeq == Seq(("a", 3L)))
    // a where conjunct on the EDGE alias must ride the chain lowering
    // (min length depends on path content): heavy edges only — the
    // 1-hop a→d light edge is filtered out, the 2-hop heavy route wins
    val eFil = runG2(
      """let E = datatable(src: string, dst: string, w: long)[
        |  'a', 'd', 1, 'a', 'b', 5, 'b', 'd', 5];
        | E | make-graph src --> dst
        | | graph-shortest-paths (s)-[e*1..4]->(t)
        |   where s.node_id == 'a' and t.node_id == 'd' and e[0].w > 2
        |   project hops = array_length(e)
        |""".stripMargin).collect()
    assert(eFil.map(_.getLong(0)).toSeq == Seq(2L))
  }

  // An explicit `with` node table keeps shortest paths on the
  // distributed BFS loop, whose per-level counts run while the query
  // compiles.
  private val withNodesBfs =
    """let E = datatable(src: string, dst: string)[
      |  'a', 'b', 'b', 'c', 'c', 'a', 'b', 'd', 'd', 'e'];
      | let N = datatable(id: string, kind: string)[
      |  'a', 'root', 'b', 'mid', 'c', 'mid', 'd', 'mid', 'e', 'leaf'];
      | E | make-graph src --> dst with N on id
      | | graph-shortest-paths (s)-[e*1..4]->(t)
      |   project s = s.id, t = t.id, hops = array_length(e)
      | | order by s asc, t asc""".stripMargin

  test("graph-shortest-paths: the compile-time BFS loop leaves whole-stage codegen on in every job") {
    // Every SQL job carries the session's SQL confs in its properties,
    // so a loop that switched codegen off on the (shared) session shows
    // here as "false"
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import scala.jdk.CollectionConverters._
    val key = "spark.sql.codegen.wholeStage"
    val sc = spark.sparkContext
    org.apache.spark.ListenerBusDrain(sc)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties).flatMap(p => Option(p.getProperty(key))).getOrElse("unset"))
    }
    sc.addSparkListener(listener)
    val (compileJobs, out) = try {
      val df = runG2(withNodesBfs)
      org.apache.spark.ListenerBusDrain(sc)
      (seen.size, df.collect())
    } finally {
      org.apache.spark.ListenerBusDrain(sc)
      sc.removeSparkListener(listener)
    }
    assert(compileJobs > 0, "the BFS loop ran no job while compiling")
    assert(out.map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq == Seq(
      ("a", "a", 3L), ("a", "b", 1L), ("a", "c", 2L), ("a", "d", 2L), ("a", "e", 3L),
      ("b", "a", 2L), ("b", "b", 3L), ("b", "c", 1L), ("b", "d", 1L), ("b", "e", 2L),
      ("c", "a", 1L), ("c", "b", 2L), ("c", "c", 3L), ("c", "d", 3L), ("c", "e", 4L),
      ("d", "e", 1L)))
    val props = seen.asScala.toSeq
    assert(!props.contains("false"), s"$key per job: ${props.mkString(", ")}")
  }

  test("graph-shortest-paths: a BFS and an ungated aggregate on one session at once match serial runs") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    def bfs() = runG2(withNodesBfs).collect().map(_.toSeq).toSeq
    def agg() = run("t | summarize n = count(), total = sum(value) by name | order by name asc")
      .collect().map(_.toSeq).toSeq
    val serial = (bfs(), agg())
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try for (_ <- 1 to 3) {
      val both = Future(bfs()).zip(Future(agg()))
      assert(Await.result(both, 2.minutes) == serial)
    } finally pool.shutdown()
  }

  test("graph-mark-components: weak components, min-id label, isolated nodes") {
    // two chains (a-b-c, d-e) + isolated node z (in the nodes table only)
    val out = runG2(
      """let E = datatable(src: string, dst: string)[
        |  'b', 'a', 'b', 'c', 'd', 'e'];
        | let N = datatable(id: string, k: long)[
        |  'a', 1, 'b', 2, 'c', 3, 'd', 4, 'e', 5, 'z', 6];
        | E | make-graph src --> dst with N on id
        | | graph-mark-components with_component_id=comp
        | | graph-to-table nodes
        | | order by id asc""".stripMargin).collect()
    assert(out.map(r => (r.getString(0), r.getString(2))).toSeq == Seq(
      ("a", "a"), ("b", "a"), ("c", "a"), ("d", "d"), ("e", "d"), ("z", "z")))
    // the component is a node PROPERTY for a following graph-match
    val m = runG2(
      """let E = datatable(src: string, dst: string)['b', 'a', 'b', 'c', 'd', 'e'];
        | E | make-graph src --> dst
        | | graph-mark-components
        | | graph-match (x)-[e]->(y)
        |   where x.ComponentId == 'a'
        |   project x = x.node_id, y = y.node_id
        | | order by y asc""".stripMargin).collect()
    assert(m.map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("b", "a"), ("b", "c")))
    // only weak|strong are accepted
    assert(intercept[KqlParseException](runG2(
      """let E = datatable(src: string, dst: string)['a', 'b'];
        | E | make-graph src --> dst | graph-mark-components kind=tangled
        | | graph-to-table nodes""".stripMargin))
      .getMessage.contains("weak or strong"))
  }

  test("graph-mark-components kind=strong: SCCs, min-id label, DAG tails are singletons") {
    // 3-cycle {a,b,c} → bridge → 2-cycle {d,e} → tail f; z isolated
    val out = runG2(
      """let E = datatable(src: string, dst: string)[
        |  'a', 'b', 'b', 'c', 'c', 'a', 'c', 'd',
        |  'd', 'e', 'e', 'd', 'e', 'f'];
        | let N = datatable(id: string)['a', 'b', 'c', 'd', 'e', 'f', 'z'];
        | E | make-graph src --> dst with N on id
        | | graph-mark-components kind=strong with_component_id=comp
        | | graph-to-table nodes
        | | order by id asc""".stripMargin).collect()
    assert(out.map(r => (r.getString(0), r.getString(1))).toSeq == Seq(
      ("a", "a"), ("b", "a"), ("c", "a"), ("d", "d"), ("e", "d"),
      ("f", "f"), ("z", "z")))
    // weak merges everything reachable; strong must not
    val weak = runG2(
      """let E = datatable(src: string, dst: string)[
        |  'a', 'b', 'b', 'c', 'c', 'a', 'c', 'd', 'd', 'e', 'e', 'd', 'e', 'f'];
        | E | make-graph src --> dst
        | | graph-mark-components kind=weak with_component_id=comp
        | | graph-to-table nodes | summarize n = dcount(comp)""".stripMargin).head()
    assert(weak.getLong(0) == 1L)
    // a pure DAG: every node is its own strong component
    val dag = runG2(
      """let E = datatable(src: string, dst: string)[
        |  'p', 'q', 'q', 'r', 'p', 'r', 'r', 's'];
        | E | make-graph src --> dst
        | | graph-mark-components kind=strong with_component_id=comp
        | | graph-to-table nodes | summarize n = dcount(comp)""".stripMargin).head()
    assert(dag.getLong(0) == 4L)
    // edge-free graph (all edges filtered): isolated nodes label
    // themselves, no crash (regression: empty.reduce)
    val empty = runG2(
      """let E = datatable(src: string, dst: string)['a', 'b'];
        | let N = datatable(id: string)['a', 'b', 'z'];
        | E | where src == 'nope' | make-graph src --> dst with N on id
        | | graph-mark-components kind=strong with_component_id=comp
        | | graph-to-table nodes | order by id asc""".stripMargin).collect()
    assert(empty.map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("a", "a"), ("b", "b"), ("z", "z")))
  }

  test("replace_regex, ceiling, countof_regex, to_utf8 (round-15 stray scalars)") {
    val r = run(
      """t | where id == 1 | project
        |  rr = replace_regex(status, @'([aeiou])', @'<\1>'),
        |  rr0 = replace_regex(status, @'t\w+', @'[\0]'),
        |  rrd = replace_regex('cost: 5', @'(\d)', @'$\1'),
        |  ce = ceiling(value / 3.0), cl = ceiling(id * 2 - 1),
        |  cr = countof_regex('aaaa', 'aa'),
        |  cro = countof('aaaa', 'aa'),
        |  u8 = strcat_array(to_utf8('aé€'), ',')""".stripMargin).head()
    assert(r.getString(0) == "<e>rr-t<i>m<e><o><u>t")
    assert(r.getString(1) == "err-[timeout]", "\\0 is the whole match")
    assert(r.getString(2) == "cost: $5", "literal $ survives the rewrite translation")
    assert(r.getDouble(3) == 4.0, "ceiling(real) stays real")
    assert(r.getLong(4) == 1L, "ceiling(long) stays long")
    assert(r.getLong(5) == 2L, "countof_regex does NOT overlap")
    assert(r.getLong(6) == 3L, "plain countof DOES overlap")
    // 'a' = 1 byte, 'é' = 2 bytes (U+00E9), '€' = 3 bytes (U+20AC)
    assert(r.getString(7) == "97,195,169,226,130,172")
  }

  test("replace_strings, treepath (round-15 stray ring 3)") {
    val r = run(
      """t | where id == 1 | project
        |  rs = replace_strings('abb', dynamic(['ab', 'b']), dynamic(['X', 'Y'])),
        |  rsn = replace_strings('abb', dynamic(['a']), dynamic([])),
        |  rse = replace_strings('abb', dynamic(['', 'b']), dynamic(['Z', 'Y'])),
        |  tp1 = strcat_array(treepath(dynamic({"a":"b","c":123})), ';'),
        |  tp2 = strcat_array(treepath(dynamic({"prop1":[1,2,3,4],"prop2":"v"})), ';'),
        |  tp3 = strcat_array(treepath(dynamic({"listProperty":[100,200,300,"abcde",{"x":"y"}]})), ';'),
        |  tps = strcat_array(treepath(dynamic(7)), ';'),
        |  tpn = treepath('{oops')""".stripMargin).head()
    assert(r.getString(0) == "XY", "pairs apply IN ORDER ('ab' first, then 'b' on the rewrite)")
    assert(r.isNullAt(1), "length mismatch is null")
    assert(r.getString(2) == "aYY", "empty lookup leaves text unchanged, later pairs still apply")
    assert(r.getString(3) == "['a'];['c']")
    assert(r.getString(4) == "['prop1'];['prop1'][0];['prop2']",
      "array elements collapse to one generic [0] indexer")
    assert(r.getString(5) == "['listProperty'];['listProperty'][0];['listProperty'][0]['x']",
      "the documented doc example")
    assert(r.getString(6) == "", "a bare scalar has no paths")
    assert(r.isNullAt(7), "malformed JSON is null")
  }

  test("series_fit_line_dynamic / series_fit_2lines_dynamic / series_periods_validate") {
    val r = run(
      """t | where id == 1
        | | extend arr = pack_array(2.0, 3.0, 4.0, 5.0, 22.0, 26.0, 30.0, 34.0)
        | | extend fl = series_fit_line_dynamic(pack_array(1.0, 3.0, 5.0, 7.0)),
        |          f2 = series_fit_2lines_dynamic(arr),
        |          f2n = series_fit_2lines_dynamic(pack_array(1.0, 2.0, 3.0))
        | | extend (vp, vs) = series_periods_validate(pack_array(9.0, 1.0, 1.0, 1.0, 9.0, 1.0, 1.0, 1.0, 9.0, 1.0, 1.0, 1.0), 4, 6, 200)
        | | project
        |  flm = todouble(parse_json(fl).slope), flb = todouble(parse_json(fl).interception),
        |  flr = todouble(parse_json(fl).rsquare),
        |  sp = tolong(parse_json(f2).split_idx),
        |  lm = todouble(parse_json(f2).left.slope), lb = todouble(parse_json(f2).left.interception),
        |  rm = todouble(parse_json(f2).right.slope), rb = todouble(parse_json(f2).right.interception),
        |  f2n,
        |  p0 = todouble(vp[0]), s0 = todouble(vs[0]), s1 = todouble(vs[1]), s2 = todouble(vs[2])""".stripMargin).head()
    assert(r.getDouble(0) == 2.0 && r.getDouble(1) == 1.0 && r.getDouble(2) == 1.0)
    assert(r.getLong(3) == 4L, "changepoint at the right-segment start")
    assert(r.getDouble(4) == 1.0 && r.getDouble(5) == 2.0, "left sub-line: slope 1, icept 2")
    assert(r.getDouble(6) == 4.0 && r.getDouble(7) == 22.0,
      "right sub-line uses the segment-LOCAL x (interception = value at segment start)")
    assert(r.isNullAt(8), "series shorter than 4 is a null bag")
    assert(r.getDouble(9) == 4.0, "periods echo back")
    // exactly periodic series: acf(period) = (8 of 12 centered squares)/(all 12) = 2/3
    assert(math.abs(r.getDouble(10) - 2.0 / 3.0) < 1e-12)
    assert(r.getDouble(11) == 0.0, "half-phase lag scores negative -> clamped 0")
    assert(r.getDouble(12) == 0.0, "out-of-range lag scores 0")
  }

  test("parse_ipv6: embedded dotted-IPv4 tail canonicalizes; zones and bad octets are null") {
    val r = run(
      """t | where id == 1 | project
        |  a = parse_ipv6('::ffff:192.168.1.1'),
        |  b = parse_ipv6('64:ff9b::1.2.3.4'),
        |  c = parse_ipv6('2001:db8::'),
        |  zone = parse_ipv6('fe80::1%eth0'),
        |  bad = parse_ipv6('::ffff:300.1.1.1')""".stripMargin).head()
    assert(r.getString(0) == "0000:0000:0000:0000:0000:ffff:c0a8:0101")
    assert(r.getString(1) == "0064:ff9b:0000:0000:0000:0000:0102:0304")
    assert(r.getString(2) == "2001:0db8:0000:0000:0000:0000:0000:0000")
    assert(r.isNullAt(3), "zone suffix is loudly null")
    assert(r.isNullAt(4), "octet > 255 is loudly null")
  }

  test("ip any-range, parse_ipv4_mask, guid base64 pair, column_ifexists, percentile_array_tdigest") {
    val r = run(
      """t | where id == 1 | project
        |  a4 = ipv4_is_in_any_range('192.168.1.7', '10.0.0.0/8', '192.168.0.0/16'),
        |  b4 = ipv4_is_in_any_range('8.8.8.8', '10.0.0.0/8', '192.168.0.0/16'),
        |  n4 = ipv4_is_in_any_range('8.8.8.8', 'nope', '192.168.0.0/16'),
        |  t4 = ipv4_is_in_any_range('192.168.1.7', 'nope', '192.168.0.0/16'),
        |  a6 = ipv6_is_in_any_range('2001:db8::5', '2001:db8::/32', 'fe80::/10'),
        |  b6 = ipv6_is_in_any_range('2001:db9::5', '2001:db8::/64', 'fe80::/10'),
        |  m1 = parse_ipv4_mask('127.0.0.1', 24), m2 = parse_ipv4_mask('127.0.255.1/16', 24),
        |  m3 = isnull(parse_ipv4_mask('1.2.3.4', 0)),
        |  ge = base64_encode_fromguid('ae3133f2-6e22-49ae-b06a-16e6a9b212eb'),
        |  gd = base64_decode_toguid('8jMxriJurkmwahbmqbIS6w=='),
        |  gn = isnull(base64_decode_toguid('shortb64')),
        |  ce = column_ifexists('status', 'fallback'), cm = column_ifexists('nope', strcat(name, '!'))""".stripMargin)
      .head()
    assert(r.getBoolean(0), "in the second range")
    assert(!r.getBoolean(1), "in neither range")
    assert(r.isNullAt(2), "malformed range + no match is null")
    assert(r.getBoolean(3), "a TRUE match wins over another range's parse failure")
    assert(r.getBoolean(4) && !r.getBoolean(5))
    assert(r.getLong(6) == 2130706432L, "127.0.0.0")
    assert(r.getLong(7) == 2130706432L,
      "embedded /16 composes by min-prefix: 127.0.255.1/16 @24 is 127.0.0.0, not 127.0.255.0")
    assert(r.getBoolean(8), "prefix 0 is outside the documented 1..32")
    // the published doc vector for the .NET guid byte order, both ways
    assert(r.getString(9) == "8jMxriJurkmwahbmqbIS6w==")
    assert(r.getString(10) == "ae3133f2-6e22-49ae-b06a-16e6a9b212eb")
    assert(r.getBoolean(11))
    assert(r.getString(12) == "err-timeout" && r.getString(13) == "alpha!")
    // percentile_array_tdigest: array reads equal the scalar reads
    val pa = run(
      """t | summarize s = tdigest(value)
        | | project arr = percentile_array_tdigest(s, 25.0, 50.0, 75.0),
        |           p25 = percentile_tdigest(s, 25.0), p50 = percentile_tdigest(s, 50.0),
        |           p75 = percentile_tdigest(s, 75.0)""".stripMargin).head()
    val arr = pa.getSeq[Double](0)
    assert(arr == Seq(pa.getDouble(1), pa.getDouble(2), pa.getDouble(3)))
  }

  test("extract_groups and parse_command_line (windows argv rules)") {
    val r = run(
      """t | where id == 1 | project
        |  g = strcat_array(extract_groups(@'(\w+)-(\w+)', status), '|'),
        |  gn = isnull(extract_groups(@'(\d+)x(\d+)', status)),
        |  a1 = strcat_array(parse_command_line('prog.exe -a "hello world" -b', 'windows'), '|'),
        |  a2 = strcat_array(parse_command_line('c:\\path\\prog "a\\"b" x\\\\', 'windows'), '|'),
        |  a3 = strcat_array(parse_command_line('x "she said ""hi"" ok" y', 'windows'), '|'),
        |  a4 = array_length(parse_command_line('   ', 'windows'))""".stripMargin).head()
    assert(r.getString(0) == "err|timeout")
    assert(r.getBoolean(1), "no match is null, not empty-string groups")
    assert(r.getString(2) == "prog.exe|-a|hello world|-b")
    // KQL '\\' in a plain string is one backslash: the command line is
    //   c:\path\prog "a\"b" x\\
    // → arg2 quotes 'a"b' (odd backslash escapes the quote); trailing
    //   \\ has no quote after it, so both backslashes are literal
    assert(r.getString(3) == "c:\\path\\prog|a\"b|x\\\\")
    // "" inside a quoted span is a literal quote
    assert(r.getString(4) == "x|she said \"hi\" ok|y")
    assert(r.getLong(5) == 0L, "blank command line has no args")
    assert(intercept[KqlParseException](
      run("t | project x = parse_command_line(status, 'posix')"))
      .getMessage.contains("windows"))
  }

  test("star predicates, typed extract, array_index_of start, pivot group-by columns") {
    // * has / * contains search every column (cast to string)
    assert(run("t | where * has 'alpha' | count").head().getLong(0) == 2L)
    assert(run("t | where * contains 'TIME' | count").head().getLong(0) == 1L)
    assert(run("t | where * contains '95' | count").head().getLong(0) == 1L, "numeric columns searched as strings")
    val r = run(
      """t | where id == 1 | project
        |  e1 = extract(@'(\d+)', 1, 'ab 42 cd', typeof(long)),
        |  e2 = isnull(extract(@'(\d+)', 1, 'no digits', typeof(long))),
        |  a1 = array_index_of(pack_array('a','b','a'), 'a', 1),
        |  a2 = array_index_of(pack_array('a','b'), 'z', 0)""".stripMargin).head()
    assert(r.getLong(0) == 42L && r.getBoolean(1))
    assert(r.getLong(2) == 2L, "start=1 skips index 0, finds the later 'a'")
    assert(r.getLong(3) == -1L)
    // pivot with explicit group-by columns (Kusto form): only the named
    // key survives alongside the pivoted columns
    val p = run("t | evaluate pivot(name, sum(value), status) | order by status asc")
    assert(p.columns.toSeq.head == "status" && p.columns.length >= 3)
  }

  test("mv-apply extended sub-pipeline: extend, sort by, top, take") {
    // top 2 by computed key, descending (the per-row top-k idiom)
    val r = run(
      """t | where id == 1
        | | extend a = pack_array(3, 1, 7, 5)
        | | mv-apply e = a to typeof(long) on (top 2 by e desc | summarize s = make_list(e))
        | | project s""".stripMargin).head()
    assert(r.getSeq[Long](0) == Seq(7L, 5L))
    // extend feeds later where and sort; row-per-element output carries
    // the extended column
    val e = run(
      """t | where id == 1
        | | extend a = pack_array(3, 1, 7, 5)
        | | mv-apply e = a to typeof(long) on (extend sq = e * e | where sq > 4 | sort by sq asc)
        | | project e, sq""".stripMargin).collect()
    assert(e.map(x => (x.getLong(0), x.getLong(1))).toSeq == Seq((3L, 9L), (5L, 25L), (7L, 49L)))
    // take truncates after sort
    val t2 = run(
      """t | where id == 1
        | | extend a = pack_array(9, 2, 5)
        | | mv-apply e = a to typeof(long) on (sort by e asc | take 2 | summarize m = max(e))
        | | project m""".stripMargin).head()
    assert(t2.getLong(0) == 5L)
  }

  test("prev/next default argument, bracket-quoted identifiers") {
    val r = run(
      """t | order by id asc
        | | extend p = prev(value, 1, -1.0), nx = next(value, 2, -2.0)
        | | project id, p, nx | order by id asc""".stripMargin).collect()
    assert(r.head.getDouble(1) == -1.0, "edge row gets the default")
    assert(r(1).getDouble(1) == 10.0, "interior rows get the shifted value")
    assert(r.last.getDouble(2) == -2.0 && r(2).getDouble(2) == 70.0)
    val b = run(
      """t | where id == 1
        | | extend ['my col'] = value * 2
        | | project ['my col'], n2 = ['my col'] + 1""".stripMargin).head()
    assert(b.schema.fieldNames.toSeq == Seq("my col", "n2"))
    assert(b.getDouble(0) == 20.0 && b.getDouble(1) == 21.0)
  }

  test("scalar user functions, literal lets, in (subquery), string +") {
    // scalar let-lambdas: body re-parsed at the call site with params
    // bound through the lambda scope; nesting composes
    val f = run(
      """let double_it = (x: long) { x * 2 };
        | let clamp = (x: long, m: long) { iff(x > m, m, x) };
        | t | extend y = clamp(double_it(id), 7) | project y | order by y asc""".stripMargin)
      .collect().map(_.getLong(0)).toSeq
    assert(f == Seq(2L, 4L, 6L, 7L, 7L))
    // literal lets bind anywhere an expression or a take/top count goes
    val lets = run(
      """let lim = 2; let who = 'beta'; let w = 12345;
        | t | where name == who | extend k = id + w | take lim""".stripMargin).collect()
    assert(lets.length == 2 && lets.forall(_.getLong(4) > 12345L))
    // in (subquery): first column, semi-filter semantics; !in negates;
    // a let-bound table works as the bare operand
    assert(run("t | where id in (t | where value > 50 | project id) | count").head().getLong(0) == 3L)
    assert(run("t | where name !in (t | where value > 90 | project name) | count").head().getLong(0) == 3L)
    assert(run(
      """let big = t | where value > 50;
        | t | where id in (big | project id) | count""".stripMargin).head().getLong(0) == 3L)
    // string + string concatenates (Kusto operator form)
    assert(run("t | where id == 1 | project s = 'x' + name").head().getString(0) == "xalpha")
    // arity mismatch on a user function is loud
    assert(intercept[KqlParseException](
      run("let f = (x: long) { x }; t | extend y = f(id, 2)").collect())
      .getMessage.contains("expects 1"))
  }

  test("arg_max/arg_min star and multi-column forms expand to row columns") {
    // arg_max(v, *): the whole winning row, group keys deduped
    val star = run("t | summarize arg_max(value, *) by name | order by name asc").collect()
    assert(star.head.schema.fieldNames.toSeq == Seq("name", "value", "id", "status"))
    assert(star.map(r => (r.getString(0), r.getDouble(1), r.getLong(2), r.getString(3))).toSeq ==
      Seq(("alpha", 95.0, 3L, "err-refused"), ("beta", 70.0, 5L, "ok"), ("gamma", 20.0, 4L, "retry")))
    // multi-column form returns the maximized column plus the named ones
    val multi = run("t | summarize arg_min(value, id, status)").head()
    assert(multi.schema.fieldNames.toSeq == Seq("value", "id", "status"))
    assert((multi.getDouble(0), multi.getLong(1), multi.getString(2)) == ((10.0, 1L, "err-timeout")))
  }

  test("Kusto default aggregate names; make_list/make_set caps; percentiles_array") {
    val n = run("t | summarize sum(value), dcount(name), percentile(value, 50), countif(value > 20) by status")
    assert(n.columns.toSeq == Seq("status", "sum_value", "dcount_name", "percentile_value_50", "countif_"))
    val caps = run("t | summarize l = make_list(name, 2), s = make_set(id, 3)").head()
    assert(caps.getSeq[String](0).length == 2 && caps.getSeq[Long](1).length == 3)
    val pa = run(
      """t | summarize p = percentiles_array(value, 25, 50, 75),
        |              p25 = percentile(value, 25), p50 = percentile(value, 50), p75 = percentile(value, 75)""".stripMargin)
      .head()
    assert(pa.getSeq[Double](0) == Seq(pa.getDouble(1), pa.getDouble(2), pa.getDouble(3)))
  }

  test("nulls first/last, !between, hash mod, scalar range, zip coercion, negative index, indexof windows") {
    assert(run("t | order by value desc nulls first | project id").collect().map(_.getLong(0)).toSeq ==
      Seq(3L, 5L, 2L, 4L, 1L))
    assert(run("t | where value !between (20.0 .. 94.0) | project id | order by id asc")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 3L))
    val r = run(
      """t | where id == 1 | project
        |  h = hash(name, 100),
        |  r1 = strcat_array(range(1, 5), ','), r2 = strcat_array(range(0, 10, 5), ','),
        |  z = tostring(zip(pack_array(1, 2), pack_array('a', 'b'))),
        |  last = pack_array(10, 20, 30)[-1], oob = isnull(pack_array(10, 20)[-5]),
        |  i1 = indexof('hello world hello', 'hello', 3),
        |  i2 = indexof('hello world hello', 'hello', 0, -1, 2),
        |  i3 = indexof('hello world hello', 'hello', 0, 8),
        |  i4 = indexof('abc', 'z', 0),
        |  i5 = indexof(strrep('ab', 20), 'ab', 0, -1, 18),
        |  i6 = indexof('hello', 'l', 0, -1, 3),
        |  i7 = isnull(indexof('hello', 'l', -1)),
        |  i8 = indexof('hello world hello', 'hello', 1, 15)""".stripMargin).head()
    assert(r.getLong(0) >= 0 && r.getLong(0) < 100, "hash mod stays in [0, mod)")
    assert(r.getString(1) == "1,2,3,4,5" && r.getString(2) == "0,5,10", "range stop is inclusive")
    assert(r.getString(3) == """[["1","a"],["2","b"]]""", "heterogeneous zip coerces to strings")
    assert(r.getLong(4) == 30L && r.getBoolean(5), "negative index from the end, out-of-range null")
    assert(r.getLong(6) == 12L, "start skips the first occurrence")
    assert(r.getLong(7) == 12L, "occurrence=2 finds the second match")
    assert(r.getLong(8) == 0L, "window [0,8) still contains the first match")
    assert(r.getLong(9) == -1L)
    assert(r.getLong(10) == 34L, "no occurrence cap: the 18th match")
    assert(r.getLong(11) == -1L, "fewer matches than the occurrence asked for")
    assert(r.getBoolean(12), "negative start is null")
    assert(r.getLong(13) == -1L, "a match must end inside the window [start, start + length)")
  }

  test("mv-expand aliased expression form") {
    val r = run(
      """t | where id <= 2
        | | mv-expand v = pack_array(id, id * 10) to typeof(long)
        | | project id, v | order by id asc, v asc""".stripMargin).collect()
    assert(r.map(x => (x.getLong(0), x.getLong(1))).toSeq ==
      Seq((1L, 1L), (1L, 10L), (2L, 2L), (2L, 20L)))
    // aliased + plain mixed in the zipped multi-column form
    val z = run(
      """t | where id == 1
        | | extend a = pack_array(1, 2)
        | | mv-expand with_itemindex=ix a to typeof(long), b = pack_array('x', 'y') to typeof(string)
        | | project ix, a, b | order by ix asc""".stripMargin).collect()
    assert(z.map(x => (x.getLong(0), x.getLong(1), x.getString(2))).toSeq ==
      Seq((0L, 1L, "x"), (1L, 2L, "y")))
  }

  test("toX conversion family: unparseable input is null, never an ANSI error") {
    val r = run(
      """t | where id == 1 | project
        |  a = tolong('abc'), b = toint(name), c = todouble('1.2.3'),
        |  d = todatetime('not a date'), e = tobool('maybe'),
        |  f = todecimal('x'), g = tolong('1.5'),
        |  ok1 = tolong('42'), ok2 = todouble('1.5'), ok3 = tobool('true')""".stripMargin).head()
    (0 to 6).foreach(i => assert(r.isNullAt(i), s"col $i should be null"))
    assert(r.getLong(7) == 42L && r.getDouble(8) == 1.5 && r.getBoolean(9))
  }

  test("parse: non-matching and non-conforming rows null-fill typed captures; kind=relaxed") {
    // '-v=abc' has the literal but a non-numeric payload: the TYPE-AWARE
    // capture pattern fails the whole match, so the row null-fills
    // instead of detonating the ANSI cast — the Kusto contract for both
    // simple and relaxed kinds
    val out = runG2(
      """let d = datatable(s: string)['x-v=12-end', 'x-v=abc-end', 'nope'];
        | d | parse kind=relaxed s with * 'v=' n:long '-end' | order by s asc""".stripMargin)
      .collect()
    assert(out.length == 3)
    val byS = out.map(r => r.getString(0) -> (if (r.isNullAt(1)) null else r.getLong(1))).toMap
    assert(byS("x-v=12-end") == 12L)
    assert(byS("x-v=abc-end") == null, "non-numeric payload null-fills, no ANSI crash")
    assert(byS("nope") == null)
    // plain simple mode gets the same null-fill guard
    val simple = runG2(
      """let d = datatable(s: string)['a 1.5', 'a x'];
        | d | parse s with 'a ' v:real | order by s asc""".stripMargin).collect()
    assert(simple(0).getDouble(1) == 1.5 && simple(1).isNullAt(1))
  }

  test("geo centroids: line length-weighted, polygon shoelace with holes, degenerate nulls") {
    val r = run(
      """t | where id == 1 | project
        |  lc = geo_line_centroid('{"type":"LineString","coordinates":[[0.0,0.0],[10.0,0.0]]}'),
        |  lcw = geo_line_centroid('{"type":"LineString","coordinates":[[0.0,0.0],[0.0,10.0],[4.0,10.0]]}'),
        |  pc = geo_polygon_centroid('{"type":"Polygon","coordinates":[[[0.0,0.0],[4.0,0.0],[4.0,2.0],[0.0,2.0],[0.0,0.0]]]}'),
        |  ph = geo_polygon_centroid('{"type":"Polygon","coordinates":[[[0.0,0.0],[10.0,0.0],[10.0,10.0],[0.0,10.0],[0.0,0.0]],[[6.0,4.0],[6.0,6.0],[8.0,6.0],[8.0,4.0],[6.0,4.0]]]}'),
        |  dg = isnull(geo_polygon_centroid('{"type":"Polygon","coordinates":[[[1.0,1.0],[1.0,1.0],[1.0,1.0]]]}')),
        |  bad = isnull(geo_line_centroid('nope'))""".stripMargin).head()
    def xy(s: String): (Double, Double) = {
      val c = s.split("\\[")(1).split("\\]")(0).split(",")
      (c(0).toDouble, c(1).toDouble)
    }
    assert(xy(r.getString(0)) == ((5.0, 0.0)), "straight equator segment centers at its midpoint")
    // two legs: 10-unit vertical (midpoint (0,5)) and 4-unit horizontal
    // at lat 10 (midpoint (2,10), shorter AND length-shrunk by cos(lat))
    val (wx, wy) = xy(r.getString(1))
    assert(wx > 0.5 && wx < 1.2 && wy > 6.0 && wy < 7.0,
      s"length-weighted centroid leans toward the long leg, got ($wx,$wy)")
    assert(xy(r.getString(2)) == ((2.0, 1.0)), "rectangle centroid is exact (planar shoelace)")
    // 10x10 square (centroid 5,5, area 100) minus 2x2 hole centered at
    // (7,5), area 4: cx = (100*5 - 4*7)/96 = 4.9166..., cy = 5
    val (hx, hy) = xy(r.getString(3))
    assert(math.abs(hx - 4.916666666666667) < 1e-9 && math.abs(hy - 5.0) < 1e-9,
      s"hole subtracts from the centroid, got ($hx,$hy)")
    assert(r.getBoolean(4), "zero-area polygon is null")
    assert(r.getBoolean(5))
  }

  test("geo cell neighbors: geohash 8/5-cell, s2 same-level cross-face, symmetry") {
    val r = run(
      """t | where id == 1
        | | extend gh = geo_point_to_geohash(13.4, 52.5, 6), s2 = geo_point_to_s2cell(13.4, 52.5, 12)
        | | project
        |  ghn = geo_geohash_neighbors(gh), gh0 = gh,
        |  ghp = geo_geohash_neighbors(geo_point_to_geohash(0.0, 89.99, 3)),
        |  s2n = geo_s2cell_neighbors(s2), s2c = s2,
        |  f2n = geo_s2cell_neighbors('1'),
        |  bad = isnull(geo_s2cell_neighbors('zz'))""".stripMargin).head()
    val ghn = r.getSeq[String](0)
    assert(ghn.length == 8 && ghn.distinct.length == 8 && !ghn.contains(r.getString(1)))
    assert(ghn.forall(_.length == 6))
    // every neighbor is itself adjacent back (symmetry through centers)
    val ghBack = run(
      s"""t | where id == 1 | project ok = array_length(set_intersect(
         |  geo_geohash_neighbors('${ghn.head}'), pack_array('${r.getString(1)}')))""".stripMargin).head()
    assert(ghBack.getLong(0) == 1L, "geohash neighbor relation is symmetric")
    // near the pole the 3 northern neighbors are dropped
    assert(r.getSeq[String](2).length == 5, "pole row drops the out-of-range latitude neighbors")
    val s2n = r.getSeq[String](3)
    assert(s2n.length == 8 && s2n.distinct.length == 8 && !s2n.contains(r.getString(4)))
    // all neighbors are valid same-level cells: each decodes and its
    // center is within ~3 cell diagonals of the source center
    val s2sym = run(
      s"""t | where id == 1
         | | extend c = geo_s2cell_to_central_point('${r.getString(4)}')
         | | extend narr = pack_array(${s2n.map("'" + _ + "'").mkString(", ")})
         | | mv-expand narr to typeof(string)
         | | extend p = geo_s2cell_to_central_point(narr)
         | | extend near = geo_distance_2points(todouble(p.coordinates[0]), todouble(p.coordinates[1]),
         |                                      todouble(c.coordinates[0]), todouble(c.coordinates[1])) < 20000.0,
         |          back = array_length(set_intersect(geo_s2cell_neighbors(narr), pack_array('${r.getString(4)}'))) == 1
         | | summarize n_ = count(), ok = countif(near and back)""".stripMargin).head()
    assert(s2sym.getLong(0) == 8L && s2sym.getLong(1) == 8L,
      "s2 neighbors decode nearby and are symmetric")
    // a level-0 face cell's neighbors are the 4 adjacent faces (edge
    // neighbors dedupe to 4 distinct cells at the cube level)
    val f2n = r.getSeq[String](5)
    assert(f2n.distinct.length == 4 && !f2n.contains("1"),
      s"face cell has 4 distinct face neighbors, got $f2n")
    assert(r.getBoolean(6))
  }

  test("cell-to-polygon round trips; geo_distance_point_to_polygon") {
    val r = run(
      """t | where id == 1
        | | extend gh = geo_point_to_geohash(13.4, 52.5, 5), s2 = geo_point_to_s2cell(13.4, 52.5, 10)
        | | extend ghp = geo_geohash_to_polygon(gh), s2p = geo_s2cell_to_polygon(s2)
        | | extend gh_in = geo_point_in_polygon(13.4, 52.5, ghp),
        |          s2_in = geo_point_in_polygon(13.4, 52.5, s2p),
        |          gh_area = geo_polygon_area(ghp) > 0, s2_area = geo_polygon_area(s2p) > 0,
        |          badg = isnull(geo_geohash_to_polygon('!!')), bads = isnull(geo_s2cell_to_polygon('zz'))
        | | project gh_in, s2_in, gh_area, s2_area, badg, bads""".stripMargin).head()
    assert((0 to 5).forall(r.getBoolean), "the source point lies inside both cell polygons; areas positive; malformed null")
    val d = run(
      """t | where id == 1
        | | extend sq = '{"type":"Polygon","coordinates":[[[0.0,0.0],[10.0,0.0],[10.0,10.0],[0.0,10.0],[0.0,0.0]]]}'
        | | project z = geo_distance_point_to_polygon(5.0, 5.0, sq),
        |           edge = geo_distance_point_to_polygon(5.0, -1.0, sq),
        |           ref = geo_distance_2points(5.0, -1.0, 5.0, 0.0),
        |           corner = geo_distance_point_to_polygon(-3.0, -4.0, sq),
        |           cref = geo_distance_2points(-3.0, -4.0, 0.0, 0.0),
        |           bad = isnull(geo_distance_point_to_polygon(5.0, 5.0, 'x'))""".stripMargin).head()
    assert(d.getDouble(0) == 0.0, "inside is exactly zero")
    assert(math.abs(d.getDouble(1) - d.getDouble(2)) < 1e-6, "below the south edge: cross-track to it")
    assert(math.abs(d.getDouble(3) - d.getDouble(4)) < 1e-6, "past the corner clamps to the vertex")
    assert(d.getBoolean(5))
  }

  test("geo_line_simplify / geo_polygon_simplify: DP keeps shape, collapses noise, ring floor") {
    val r = run(
      """t | where id == 1
        | | extend wiggle = '{"type":"LineString","coordinates":[[0.0,0.0],[1.0,0.001],[2.0,-0.001],[3.0,0.0005],[4.0,0.0]]}'
        | | extend zig = '{"type":"LineString","coordinates":[[0.0,0.0],[1.0,2.0],[2.0,0.0],[3.0,2.0],[4.0,0.0]]}'
        | | extend s1 = geo_line_simplify(wiggle, 1000.0),
        |          s2 = geo_line_simplify(zig, 1000.0),
        |          keeps = geo_line_simplify(zig, 1000.0) == zig,
        |          ring = geo_polygon_simplify('{"type":"Polygon","coordinates":[[[0.0,0.0],[5.0,0.001],[10.0,0.0],[10.0,10.0],[0.0,10.0],[0.0,0.0]]]}', 5000.0),
        |          badt = isnull(geo_line_simplify(wiggle, 0.0)),
        |          badj = isnull(geo_line_simplify('nope', 10.0)),
        |          floor_ = geo_polygon_simplify('{"type":"Polygon","coordinates":[[[0.0,0.0],[1.0,0.0001],[2.0,0.0],[0.0,0.0]]]}', 100000.0)
        | | project s1, keeps, ring, badt, badj, floor_""".stripMargin).head()
    // ~100m wiggles collapse at 1km tolerance; the zigzag (±2° ≈ 220km) survives
    assert(r.getString(0) == """{"type":"LineString","coordinates":[[0.0,0.0],[4.0,0.0]]}""")
    assert(r.getBoolean(1), "large zigzag is preserved verbatim")
    // the near-collinear mid-point on the bottom edge drops; corners stay
    assert(r.getString(2) == """{"type":"Polygon","coordinates":[[[0.0,0.0],[10.0,0.0],[10.0,10.0],[0.0,10.0],[0.0,0.0]]]}""")
    assert(r.getBoolean(3) && r.getBoolean(4))
    // a degenerate-thin triangle keeps its 4-point closed ring
    val fl = r.getString(5)
    assert(fl.count(_ == '[') >= 5, s"ring floor keeps >= 4 points, got $fl")
  }

  test("geo_polygon_to_s2cells: covering is complete vs point cells, holes excluded, caps and nulls") {
    // completeness — the property polygon JOINS rely on: every interior
    // point's cell is in the covering (probe a dense grid)
    val cover = run(
      """t | where id == 1
        | | project c = geo_polygon_to_s2cells('{"type":"Polygon","coordinates":[[[10.0,40.0],[16.0,40.0],[16.0,44.0],[10.0,44.0],[10.0,40.0]]]}', 9)""".stripMargin)
      .head().getSeq[String](0)
    assert(cover.nonEmpty && cover.distinct.length == cover.length)
    val grid = for (i <- 0 until 12; j <- 0 until 8)
      yield (10.25 + i * 0.5, 40.25 + j * 0.5)
    val probe = run(
      s"""t | where id == 1
         | | extend pts = pack_array(${grid.map { case (x, y) => s"pack_array($x, $y)" }.mkString(", ")})
         | | mv-expand p = pts
         | | extend cell = geo_point_to_s2cell(todouble(p[0]), todouble(p[1]), 9)
         | | extend covered = cell in (${cover.map("'" + _ + "'").mkString(", ")})
         | | summarize n = count(), ok = countif(covered)""".stripMargin).head()
    assert(probe.getLong(0) == 96L && probe.getLong(1) == 96L,
      "every interior grid point's level-9 cell is in the covering")
    // a cell-sized hole: points inside the hole whose cells are FULLY
    // inside it are not covered; the hole ring spans 12..14 x 41..43,
    // probe its center (level 12 cells are ~7 km, well inside)
    val hole = run(
      """t | where id == 1
        | | extend c = geo_polygon_to_s2cells('{"type":"Polygon","coordinates":[[[10.0,40.0],[16.0,40.0],[16.0,44.0],[10.0,44.0],[10.0,40.0]],[[12.0,41.0],[14.0,41.0],[14.0,43.0],[12.0,43.0],[12.0,41.0]]]}', 12)
        | | extend hc = geo_point_to_s2cell(13.0, 42.0, 12)
        | | project inhole = array_index_of(c, hc) >= 0, n = array_length(c)""".stripMargin).head()
    assert(!hole.getBoolean(0), "a cell wholly inside a hole is excluded")
    assert(hole.getLong(1) > 0L)
    // vertex cells always covered; malformed/capped → null
    val misc = run(
      """t | where id == 1
        | | extend c5 = geo_polygon_to_s2cells('{"type":"Polygon","coordinates":[[[1.0,1.0],[1.2,1.0],[1.2,1.2],[1.0,1.2],[1.0,1.0]]]}', 5)
        | | extend vx = geo_point_to_s2cell(1.0, 1.0, 5)
        | | project hasv = array_index_of(c5, vx) >= 0,
        |           bad = isnull(geo_polygon_to_s2cells('nope', 9)),
        |           cap = isnull(geo_polygon_to_s2cells('{"type":"Polygon","coordinates":[[[-60.0,-30.0],[60.0,-30.0],[60.0,30.0],[-60.0,30.0],[-60.0,-30.0]]]}', 14))""".stripMargin)
      .head()
    assert(misc.getBoolean(0) && misc.getBoolean(1) && misc.getBoolean(2))
  }

  test("new_guid shape, isutf8, has_any_index") {
    val r = run(
      """t | where id == 1 | project
        |  g1 = new_guid(), g2 = new_guid(),
        |  u = isutf8(status), un = isutf8(tostring(split(status, '-', 9))),
        |  h0 = has_any_index('this is an example', dynamic(['this', 'example'])),
        |  h1 = has_any_index('this is an example', dynamic(['not', 'example'])),
        |  hn = has_any_index('this is an example', dynamic(['nope', 'nada'])),
        |  he = has_any_index('x', dynamic([]))""".stripMargin).head()
    assert(r.getString(0).matches("[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"))
    assert(r.getString(0) != r.getString(1), "two calls yield distinct guids")
    assert(r.getBoolean(2))
    assert(r.getLong(4) == 0L, "first value matching wins: index 0")
    assert(r.getLong(5) == 1L, "'example' is at index 1")
    assert(r.getLong(6) == -1L && r.getLong(7) == -1L)
  }

  test("geo_distance_point_to_line: cross-track, endpoint clamp, multi-segment min, nulls") {
    val r = run(
      """t | where id == 1
        | | extend eq = '{"type":"LineString","coordinates":[[-10.0,0.0],[10.0,0.0]]}'
        | | project
        |  xt = geo_distance_point_to_line(0.0, 1.0, eq),
        |  on_line = geo_distance_point_to_line(3.0, 0.0, eq),
        |  past_end = geo_distance_point_to_line(15.0, 2.0, eq),
        |  end_ref = geo_distance_2points(15.0, 2.0, 10.0, 0.0),
        |  before_start = geo_distance_point_to_line(-15.0, 2.0, eq),
        |  start_ref = geo_distance_2points(-15.0, 2.0, -10.0, 0.0),
        |  multi = geo_distance_point_to_line(0.0, 1.0,
        |    '{"type":"LineString","coordinates":[[-10.0,50.0],[10.0,50.0],[-10.0,0.0],[10.0,0.0]]}'),
        |  bad = isnull(geo_distance_point_to_line(0.0, 1.0, 'nope')),
        |  badp = isnull(geo_distance_point_to_line(200.0, 1.0, eq))""".stripMargin).head()
    // cross-track to the equator great circle = the latitude arc
    // exactly: 1° · (π/180) · 6371009 m
    val oneDeg = math.toRadians(1.0) * 6371009.0
    assert(math.abs(r.getDouble(0) - oneDeg) < 1e-3, s"cross-track ${r.getDouble(0)} vs $oneDeg")
    assert(r.getDouble(1) == 0.0, "a point on the segment is at distance 0")
    assert(r.getDouble(2) == r.getDouble(3), "past the end clamps to the end point distance")
    assert(r.getDouble(4) == r.getDouble(5), "before the start clamps to the start point distance")
    assert(r.getDouble(6) == r.getDouble(0), "multi-segment takes the min (the far northern legs lose)")
    assert(r.getBoolean(7) && r.getBoolean(8))
  }

  test("round-15 algebraic pins: intersect symmetry, replace agreement, treepath/keys") {
    // every row (5 distinct shapes via id-dependent offsets) must satisfy
    // the algebraic properties, not just one fixture
    val rows = run(
      """t
        | | extend o = todouble(id) * 1.5 - 4.0
        | | extend a = strcat('{"type":"LineString","coordinates":[[', tostring(o), ',0.0],[', tostring(o + 2.0), ',2.0]]}'),
        |          b = '{"type":"LineString","coordinates":[[-1.0,2.0],[3.0,0.0]]}',
        |          pa = strcat('{"type":"Polygon","coordinates":[[[', tostring(o), ',0.0],[', tostring(o + 3.0), ',0.0],[', tostring(o + 3.0), ',3.0],[', tostring(o), ',3.0],[', tostring(o), ',0.0]]]}'),
        |          pb = '{"type":"Polygon","coordinates":[[[1.0,1.0],[5.0,1.0],[5.0,5.0],[1.0,5.0],[1.0,1.0]]]}'
        | | project sym_l = geo_intersects_2lines(a, b) == geo_intersects_2lines(b, a),
        |           sym_p = geo_intersects_2polygons(pa, pb) == geo_intersects_2polygons(pb, pa),
        |           rs_eq = replace_strings(status, dynamic(['err']), dynamic(['E'])) == replace_string(status, 'err', 'E'),
        |           tp_keys = array_length(treepath(pack('k', id, 'm', name))) >= array_length(bag_keys(pack('k', id, 'm', name))),
        |           fit_eq = todouble(parse_json(series_fit_line_dynamic(pack_array(1.0, 2.0, 4.0, 8.0))).rsquare) > 0.0""".stripMargin)
      .collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      assert(r.getBoolean(0), "geo_intersects_2lines is symmetric")
      assert(r.getBoolean(1), "geo_intersects_2polygons is symmetric")
      assert(r.getBoolean(2), "single-pair replace_strings agrees with replace_string")
      assert(r.getBoolean(3), "treepath covers at least the top-level keys")
      assert(r.getBoolean(4))
    }
  }

  test("evaluate geo_polygon_lookup: containment join, hole exclusion, return_unmatched") {
    val out = runG2(
      """let zones = datatable(zone: string, poly: string)[
        |  'sq', '{"type":"Polygon","coordinates":[[[0.0,0.0],[2.0,0.0],[2.0,2.0],[0.0,2.0],[0.0,0.0]]]}',
        |  'hl', '{"type":"Polygon","coordinates":[[[3.0,0.0],[7.0,0.0],[7.0,4.0],[3.0,4.0],[3.0,0.0]],[[4.0,1.0],[6.0,1.0],[6.0,3.0],[4.0,3.0],[4.0,1.0]]]}'];
        | t | extend px = todouble(id) + 0.5, py = 0.5
        | | evaluate geo_polygon_lookup(zones, poly, px, py, return_unmatched = true)
        | | project id, zone
        | | order by id asc""".stripMargin).collect()
    // id 1..5 → px 1.5..5.5 at py 0.5: 1.5 in sq; 3.5 and 6.5 in hl's
    // outer ring; 4.5 and 5.5 sit in the hole (lat 0.5 is BELOW the
    // hole's y-range [1,3] — so only containment by the outer ring)
    val got = out.map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getString(1))).toSeq
    assert(got == Seq((1L, "sq"), (2L, null), (3L, "hl"), (4L, "hl"), (5L, "hl")),
      s"got $got")
    // a point inside the hole is unmatched
    val hole = runG2(
      """let zones = datatable(zone: string, poly: string)[
        |  'hl', '{"type":"Polygon","coordinates":[[[3.0,0.0],[7.0,0.0],[7.0,4.0],[3.0,4.0],[3.0,0.0]],[[4.0,1.0],[6.0,1.0],[6.0,3.0],[4.0,3.0],[4.0,1.0]]]}'];
        | t | where id == 5 | extend px = 5.0, py = 2.0
        | | evaluate geo_polygon_lookup(zones, poly, px, py)
        | | project zone""".stripMargin).collect()
    assert(hole.isEmpty, "a point in the hole matches nothing (even-odd)")
  }

  test("geo_intersection_2polygons: clip, holes, concave clip, containment, empty/guard nulls") {
    val r = run(
      """t | where id == 1
        | | extend sub = '{"type":"Polygon","coordinates":[[[2.0,2.0],[14.0,2.0],[14.0,12.0],[2.0,12.0],[2.0,2.0]],[[4.0,4.0],[6.0,4.0],[6.0,6.0],[4.0,6.0],[4.0,4.0]]]}',
        |          win = '{"type":"Polygon","coordinates":[[[0.0,0.0],[10.0,0.0],[10.0,8.0],[0.0,8.0],[0.0,0.0]]]}',
        |          tri = '{"type":"Polygon","coordinates":[[[0.0,0.0],[20.0,0.0],[0.0,20.0],[0.0,0.0]]]}',
        |          cave = '{"type":"Polygon","coordinates":[[[0.0,0.0],[10.0,0.0],[10.0,10.0],[5.0,3.0],[0.0,10.0],[0.0,0.0]]]}',
        |          far = '{"type":"Polygon","coordinates":[[[50.0,50.0],[60.0,50.0],[60.0,60.0],[50.0,60.0],[50.0,50.0]]]}'
        | | extend c = geo_intersection_2polygons(sub, win),
        |          ct = geo_intersection_2polygons(sub, tri),
        |          cc = geo_intersection_2polygons(sub, cave),
        |          hc = geo_intersection_2polygons(win, sub)
        | | project
        |  in1 = geo_point_in_polygon(3.0, 3.0, c),
        |  hole1 = geo_point_in_polygon(5.0, 5.0, c),
        |  out1 = geo_point_in_polygon(11.0, 5.0, c),
        |  in2 = geo_point_in_polygon(3.0, 3.0, ct),
        |  out2 = geo_point_in_polygon(13.0, 11.0, ct),
        |  contained = geo_intersection_2polygons(win, '{"type":"Polygon","coordinates":[[[-5.0,-5.0],[30.0,-5.0],[30.0,30.0],[-5.0,30.0],[-5.0,-5.0]]]}') == win,
        |  empty = isnull(geo_intersection_2polygons(sub, far)),
        |  cave_in = geo_point_in_polygon(3.0, 2.5, cc),
        |  cave_notch = geo_point_in_polygon(5.0, 6.0, cc),
        |  hc_in = geo_point_in_polygon(3.0, 3.0, hc),
        |  hc_hole = geo_point_in_polygon(5.0, 5.0, hc),
        |  degen = isnull(geo_intersection_2polygons(win,
        |    '{"type":"Polygon","coordinates":[[[10.0,0.0],[20.0,0.0],[20.0,8.0],[10.0,8.0],[10.0,0.0]]]}'))""".stripMargin).head()
    assert(r.getBoolean(0), "a point in both polygons is in the intersection")
    assert(!r.getBoolean(1), "the subject's hole survives clipping (even-odd)")
    assert(!r.getBoolean(2), "a point outside the window is clipped away")
    assert(r.getBoolean(3), "triangle clip keeps the near corner")
    assert(!r.getBoolean(4), "triangle clip removes beyond the hypotenuse (13+11 > 20: inside sub, outside tri)")
    assert(r.getBoolean(5), "a fully-contained subject comes back verbatim")
    assert(r.getBoolean(6), "disjoint polygons intersect to null")
    assert(r.getBoolean(7), "concave clip keeps a point inside both (general engine)")
    assert(!r.getBoolean(8), "concave clip removes the notch region (in sub, above the dart)")
    assert(r.getBoolean(9), "a clip polygon with holes works (general engine)")
    assert(!r.getBoolean(10), "the hole survives when the holed polygon is the clip side")
    assert(r.getBoolean(11), "shared-edge contact (non-transversal) is loudly null")
  }

  test("geo_line_buffer / geo_polygon_buffer: capsule membership, joins, holes, guards") {
    // equator fixtures: the local frame is metrically exact, so
    // membership probes at ±10% of the radius are unambiguous
    // (tolerance 3% default ≪ margins)
    val r = run(
      """t | where id == 1
        | | extend seg = '{"type":"LineString","coordinates":[[0.0,0.0],[1.0,0.0]]}',
        |          ell = '{"type":"LineString","coordinates":[[0.0,0.0],[1.0,0.0],[1.0,1.0]]}',
        |          spike = '{"type":"LineString","coordinates":[[0.0,0.0],[1.0,0.0],[0.0,0.0]]}',
        |          sq = '{"type":"Polygon","coordinates":[[[0.0,0.0],[1.0,0.0],[1.0,1.0],[0.0,1.0],[0.0,0.0]]]}',
        |          sqh = '{"type":"Polygon","coordinates":[[[0.0,0.0],[1.0,0.0],[1.0,1.0],[0.0,1.0],[0.0,0.0]],[[0.4,0.4],[0.6,0.4],[0.6,0.6],[0.4,0.6],[0.4,0.4]]]}'
        | | extend cap = geo_line_buffer(seg, 10000.0),
        |          lb = geo_line_buffer(ell, 10000.0),
        |          pb = geo_polygon_buffer(sq, 10000.0),
        |          hb = geo_polygon_buffer(sqh, 10000.0),
        |          hb15 = geo_polygon_buffer(sqh, 15000.0)
        | | project
        |  side_in = geo_point_in_polygon(0.5, 0.05, cap),
        |  side_out = geo_point_in_polygon(0.5, 0.12, cap),
        |  cap_in = geo_point_in_polygon(1.05, 0.0, cap),
        |  cap_out = geo_point_in_polygon(1.13, 0.0, cap),
        |  corner_arc = geo_point_in_polygon(1.06, -0.06, lb),
        |  corner_far = geo_point_in_polygon(1.1, -0.1, lb),
        |  inner_trim = geo_point_in_polygon(0.95, 0.05, lb),
        |  p_center = geo_point_in_polygon(0.5, 0.5, pb),
        |  p_ring = geo_point_in_polygon(-0.05, 0.5, pb),
        |  p_out = geo_point_in_polygon(-0.12, 0.5, pb),
        |  p_carc = geo_point_in_polygon(-0.06, -0.06, pb),
        |  p_cfar = geo_point_in_polygon(-0.1, -0.1, pb),
        |  h_center = geo_point_in_polygon(0.5, 0.5, hb),
        |  h_nearedge = geo_point_in_polygon(0.45, 0.5, hb),
        |  h_gone = geo_point_in_polygon(0.5, 0.5, hb15),
        |  spike_null = isnull(geo_line_buffer(spike, 10000.0)),
        |  rad_null = isnull(geo_line_buffer(seg, 0.0)),
        |  bad_null = isnull(geo_line_buffer(sq, 10000.0))""".stripMargin).head()
    assert(r.getBoolean(0), "point beside the segment within r is in the buffer")
    assert(!r.getBoolean(1), "point beside the segment beyond r is out")
    assert(r.getBoolean(2), "round end cap covers points past the endpoint within r")
    assert(!r.getBoolean(3), "past the cap radius is out")
    assert(r.getBoolean(4), "arc join covers the outer corner diagonal within r")
    assert(!r.getBoolean(5), "outer corner diagonal beyond r is out")
    assert(r.getBoolean(6), "inner (trimmed) side keeps near-line points")
    assert(r.getBoolean(7) && r.getBoolean(8) && !r.getBoolean(9),
      "polygon buffer keeps the interior and the ring band, not beyond")
    assert(r.getBoolean(10) && !r.getBoolean(11),
      "polygon corner arc within r, not beyond the diagonal radius")
    assert(!r.getBoolean(12), "hole center beyond r of the hole edge stays out")
    assert(r.getBoolean(13), "hole point within r of the hole edge is filled")
    assert(r.getBoolean(14), "a hole smaller than 2r vanishes from the buffer")
    assert(r.getBoolean(15), "a reversal spike is loudly null")
    assert(r.getBoolean(16), "radius 0 is loudly null")
    assert(r.getBoolean(17), "a polygon fed to line_buffer is loudly null")
  }

  test("geo_polygon_buffer: a structurally degenerate hole is loudly null, not a vanished hole") {
    // a zero-length hole edge (duplicate consecutive vertex) and a hole
    // reversal spike are malformed INPUT, independent of the radius —
    // they must null the whole buffer (the geo family's stance), never
    // be silently dropped as if the radius had swallowed the hole
    val r = run(
      """t | where id == 1
        | | extend dup = '{"type":"Polygon","coordinates":[[[0.0,0.0],[1.0,0.0],[1.0,1.0],[0.0,1.0],[0.0,0.0]],[[0.2,0.2],[0.8,0.2],[0.8,0.2],[0.8,0.8],[0.2,0.8],[0.2,0.2]]]}',
        |          spk = '{"type":"Polygon","coordinates":[[[0.0,0.0],[1.0,0.0],[1.0,1.0],[0.0,1.0],[0.0,0.0]],[[0.2,0.2],[0.8,0.2],[0.5,0.2],[0.8,0.2],[0.8,0.8],[0.2,0.8],[0.2,0.2]]]}',
        |          ok  = '{"type":"Polygon","coordinates":[[[0.0,0.0],[1.0,0.0],[1.0,1.0],[0.0,1.0],[0.0,0.0]],[[0.2,0.2],[0.8,0.2],[0.8,0.8],[0.2,0.8],[0.2,0.2]]]}'
        | | project dup_null = isnull(geo_polygon_buffer(dup, 1000.0)),
        |           spk_null = isnull(geo_polygon_buffer(spk, 1000.0)),
        |           ok_has_hole = not(geo_point_in_polygon(0.5, 0.5, geo_polygon_buffer(ok, 1000.0)))
        |""".stripMargin).head()
    assert(r.getBoolean(0), "duplicate consecutive hole vertex is loudly null")
    assert(r.getBoolean(1), "hole reversal spike is loudly null")
    assert(r.getBoolean(2), "a well-formed hole at small radius survives the buffer")
  }

  test("geo_line_lookup: covering+neighbor candidacy, exact refine, radius cap") {
    val out = runG2(
      """let lns = datatable(lname: string, l: string)[
        |  'eq', '{"type":"LineString","coordinates":[[-1.0,0.0],[1.0,0.0]]}'];
        | t | where id <= 3
        | | extend px = 0.0, py = todouble(id) * 0.05 - 0.05
        | | evaluate geo_line_lookup(lns, l, px, py, 9000.0, return_unmatched = true)
        | | project id, lname
        | | order by id asc""".stripMargin).collect()
    // id 1 → py 0.0 (on the line: match), id 2 → py 0.05 (~5.6 km: match),
    // id 3 → py 0.10 (~11.1 km > 9 km: unmatched null)
    val got = out.map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getString(1))).toSeq
    assert(got == Seq((1L, "eq"), (2L, "eq"), (3L, null)), s"got $got")
    val err = intercept[Exception] {
      runG2(
        """let lns = datatable(lname: string, l: string)['eq', '{"type":"LineString","coordinates":[[-1.0,0.0],[1.0,0.0]]}'];
          | t | extend px = 0.0, py = 0.0
          | | evaluate geo_line_lookup(lns, l, px, py, 50000.0)""".stripMargin)
    }
    assert(err.getMessage.contains("20000"), "radius past the completeness cap is a loud error")
  }

  test("geo_union_polygons_array / line-with-polygon clip / 2lines crossings") {
    val r = run(
      """t | where id == 1
        | | extend r1 = '{"type":"Polygon","coordinates":[[[0.0,0.0],[4.0,0.0],[4.0,4.0],[0.0,4.0],[0.0,0.0]]]}',
        |          r2 = '{"type":"Polygon","coordinates":[[[2.5,1.5],[6.5,1.5],[6.5,5.5],[2.5,5.5],[2.5,1.5]]]}',
        |          r3 = '{"type":"Polygon","coordinates":[[[8.25,0.25],[9.25,0.25],[9.25,1.25],[8.25,1.25],[8.25,0.25]]]}',
        |          holed = '{"type":"Polygon","coordinates":[[[0.0,0.0],[10.0,0.0],[10.0,8.0],[0.0,8.0],[0.0,0.0]],[[2.0,0.25],[6.0,0.25],[6.0,0.75],[2.0,0.75],[2.0,0.25]]]}',
        |          hline = '{"type":"LineString","coordinates":[[-2.0,0.5],[14.0,0.5]]}',
        |          topline = '{"type":"LineString","coordinates":[[-2.0,7.0],[14.0,7.0]]}',
        |          diag = '{"type":"LineString","coordinates":[[0.0,0.0],[4.0,4.0]]}',
        |          horiz = '{"type":"LineString","coordinates":[[-1.0,2.5],[5.0,2.5]]}'
        | | extend u3 = geo_union_polygons_array(pack_array(r1, r2, r3)),
        |          clip2 = geo_intersection_line_with_polygon(hline, holed),
        |          clip1 = geo_intersection_line_with_polygon(topline, holed),
        |          pt = geo_intersection_2lines(diag, horiz)
        | | project
        |  u_multi = u3 startswith '{"type":"MultiPolygon"',
        |  u_in1 = geo_point_in_polygon(1.0, 1.0, u3),
        |  u_in2 = geo_point_in_polygon(5.0, 5.0, u3),
        |  u_in3 = geo_point_in_polygon(8.75, 0.75, u3),
        |  u_gap = geo_point_in_polygon(7.0, 0.75, u3),
        |  c2_multi = clip2 startswith '{"type":"MultiLineString"',
        |  c2_parts = countof(clip2, '],['),
        |  c1 = clip1 == '{"type":"LineString","coordinates":[[0.0,7.0],[10.0,7.0]]}',
        |  p1 = pt == '{"type":"Point","coordinates":[2.5,2.5]}',
        |  disj = isnull(geo_intersection_2lines(diag, '{"type":"LineString","coordinates":[[10.0,0.0],[11.0,1.0]]}')),
        |  colin = geo_intersection_2lines(diag, '{"type":"LineString","coordinates":[[1.0,1.0],[3.0,3.0]]}') == '{"type":"LineString","coordinates":[[1.0,1.0],[3.0,3.0]]}',
        |  etouch = geo_intersection_2lines(diag, '{"type":"LineString","coordinates":[[2.0,2.0],[5.0,0.0]]}') == '{"type":"Point","coordinates":[2.0,2.0]}',
        |  eride = geo_intersection_line_with_polygon('{"type":"LineString","coordinates":[[0.0,0.0],[5.0,0.0]]}', r1) == '{"type":"LineString","coordinates":[[0.0,0.0],[4.0,0.0]]}'""".stripMargin).head()
    assert(r.getBoolean(0), "disjoint third member makes the union a MultiPolygon")
    assert(r.getBoolean(1) && r.getBoolean(2) && r.getBoolean(3) && !r.getBoolean(4),
      "union membership: all three rects in, the gap out")
    assert(r.getBoolean(5), "the hole splits the clipped line into a MultiLineString")
    assert(r.getLong(6) == 3L, s"two 2-point chains have 3 '],[' seams, got ${r.getLong(6)}")
    assert(r.getBoolean(7), "single-chain clip is exact")
    assert(r.getBoolean(8), "single transversal crossing is an exact Point")
    assert(r.getBoolean(9), "disjoint lines are null")
    // round 18: collinear overlap returns the shared segment; an
    // endpoint-touch returns the exact contact vertex
    assert(r.getBoolean(10), "collinear overlap returns the overlap LineString")
    assert(r.getBoolean(11), "endpoint touch returns the exact contact point")
    // round 18: boundary-riding runs are INCLUDED (closed-region
    // stance) — the run along the bottom edge clips to exactly [0,4]
    assert(r.getBoolean(12), "a line along the polygon edge clips to the shared run")
  }

  test("geo_simplify_polygons_array: shared border simplifies identically, noise collapses") {
    // two squares sharing the x=5 edge with a super-tolerance bump at
    // (5.3, 5) on the SHARED chain and a sub-tolerance noise vertex on
    // A's unshared left edge — the bump must survive in BOTH outputs
    // (identical chain), the noise must vanish
    val r = run(
      """t | where id == 1
        | | extend a = '{"type":"Polygon","coordinates":[[[0.0,0.0],[5.0,0.0],[5.3,5.0],[5.0,10.0],[0.0,10.0],[0.0,5.000001],[0.0,0.0]]]}',
        |          b = '{"type":"Polygon","coordinates":[[[5.0,0.0],[10.0,0.0],[10.0,10.0],[5.0,10.0],[5.3,5.0],[5.0,0.0]]]}'
        | | extend r = geo_simplify_polygons_array(pack_array(a, b), 500.0)
        | | extend sa = tostring(r[0]), sb = tostring(r[1])
        | | project
        |  n_sa = countof(sa, '['), n_sb = countof(sb, '['),
        |  bump_a = sa contains '[5.3,5.0]', bump_b = sb contains '[5.3,5.0]',
        |  noise_gone = not(sa contains '5.000001'),
        |  in_bump_a = geo_point_in_polygon(5.1, 5.0, sa),
        |  in_bump_b = geo_point_in_polygon(5.1, 5.0, sb),
        |  in_a = geo_point_in_polygon(2.0, 5.0, sa),
        |  in_b = geo_point_in_polygon(8.0, 5.0, sb),
        |  degen = isnull(geo_simplify_polygons_array(pack_array(a, 'nope'), 500.0)),
        |  badtol = isnull(geo_simplify_polygons_array(pack_array(a), 0.0))""".stripMargin).head()
    assert(r.getLong(0) == 8L && r.getLong(1) == 8L,
      s"each output is 5 kept vertices + closure: got ${r.getLong(0)}/${r.getLong(1)}")
    assert(r.getBoolean(2) && r.getBoolean(3), "the shared bump survives in BOTH outputs")
    assert(r.getBoolean(4), "sub-tolerance noise on the unshared edge collapses")
    assert(r.getBoolean(5) && !r.getBoolean(6),
      "the bump region stays A's (no sliver/overlap between simplified sharers)")
    assert(r.getBoolean(7) && r.getBoolean(8), "interiors survive")
    assert(r.getBoolean(9), "a malformed member is loudly null")
    assert(r.getBoolean(10), "tolerance 0 is loudly null")
  }

  test("geo boolean engine: union/intersection with concave shapes, MultiPolygon, islands") {
    // U-shape: [0,10]x[0,10] minus the open notch (3,7)x(4,10] — concave,
    // 8 vertices, axis-aligned. band: y in [5,6] crossing both arms.
    val r = run(
      """t | where id == 1
        | | extend u = '{"type":"Polygon","coordinates":[[[0.0,0.0],[10.0,0.0],[10.0,10.0],[7.0,10.0],[7.0,4.0],[3.0,4.0],[3.0,10.0],[0.0,10.0],[0.0,0.0]]]}',
        |          band = '{"type":"Polygon","coordinates":[[[-1.0,5.0],[11.0,5.0],[11.0,6.0],[-1.0,6.0],[-1.0,5.0]]]}',
        |          cap = '{"type":"Polygon","coordinates":[[[-1.0,5.0],[11.0,5.0],[11.0,12.0],[-1.0,12.0],[-1.0,5.0]]]}',
        |          lake = '{"type":"Polygon","coordinates":[[[0.0,0.0],[20.0,0.0],[20.0,20.0],[0.0,20.0],[0.0,0.0]],[[5.0,5.0],[15.0,5.0],[15.0,15.0],[5.0,15.0],[5.0,5.0]]]}',
        |          island = '{"type":"Polygon","coordinates":[[[8.0,8.0],[12.0,8.0],[12.0,12.0],[8.0,12.0],[8.0,8.0]]]}'
        | | extend two = geo_intersection_2polygons(u, band),
        |          donut = geo_union_2polygons(u, cap),
        |          arch = geo_union_2polygons(lake, island)
        | | project
        |  two_multi = two startswith '{"type":"MultiPolygon"',
        |  two_area = round(geo_polygon_area(two) / 1000000.0, 1),
        |  two_left = geo_point_in_polygon(1.5, 5.5, two),
        |  two_gap = geo_point_in_polygon(5.0, 5.5, two),
        |  two_right = geo_point_in_polygon(8.5, 5.5, two),
        |  donut_poly = donut startswith '{"type":"Polygon"',
        |  donut_hole = geo_point_in_polygon(5.0, 4.5, donut),
        |  donut_body = geo_point_in_polygon(5.0, 2.0, donut),
        |  donut_cap = geo_point_in_polygon(5.0, 11.0, donut),
        |  arch_multi = arch startswith '{"type":"MultiPolygon"',
        |  arch_lake = geo_point_in_polygon(6.0, 6.0, arch),
        |  arch_isl = geo_point_in_polygon(10.0, 10.0, arch),
        |  arch_solid = geo_point_in_polygon(2.0, 2.0, arch),
        |  small_in_big = geo_intersection_2polygons(island,
        |    '{"type":"Polygon","coordinates":[[[-50.0,-50.0],[50.0,-50.0],[50.0,50.0],[-50.0,50.0],[-50.0,-50.0]]]}') == island,
        |  disj_union = geo_union_2polygons(island,
        |    '{"type":"Polygon","coordinates":[[[30.0,30.0],[40.0,30.0],[40.0,40.0],[30.0,40.0],[30.0,30.0]]]}')
        |      startswith '{"type":"MultiPolygon"',
        |  multi_in = geo_polygon_area(geo_intersection_2polygons(
        |    '{"type":"MultiPolygon","coordinates":[[[[0.0,0.0],[4.0,0.0],[4.0,4.0],[0.0,4.0],[0.0,0.0]]],[[[20.0,0.0],[24.0,0.0],[24.0,4.0],[20.0,4.0],[20.0,0.0]]]]}',
        |    '{"type":"Polygon","coordinates":[[[-1.0,1.0],[25.0,1.0],[25.0,3.0],[-1.0,3.0],[-1.0,1.0]]]}')) > 0.0""".stripMargin).head()
    assert(r.getBoolean(0), "U ∩ band must be TWO pieces (MultiPolygon)")
    assert(r.getBoolean(2) && !r.getBoolean(3) && r.getBoolean(4),
      "left arm in, notch gap out, right arm in")
    assert(r.getBoolean(5), "U ∪ cap closes the notch into ONE polygon")
    assert(!r.getBoolean(6), "the closed notch below the cap is a HOLE of the union")
    assert(r.getBoolean(7) && r.getBoolean(8), "U body and cap body are in the union")
    assert(r.getBoolean(9), "island in the lake unions to a MultiPolygon")
    assert(!r.getBoolean(10) && r.getBoolean(11) && r.getBoolean(12),
      "lake stays empty, island and solid frame stay filled")
    assert(r.getBoolean(13), "contained polygon intersects to itself verbatim")
    assert(r.getBoolean(14), "disjoint union is a MultiPolygon")
    assert(r.getBoolean(15), "MultiPolygon operand intersects per component")
  }

  test("geo_point_buffer: N-gon count, exact-radius vertices, membership, guards") {
    val r = run(
      """t | where id == 1
        | | extend b = geo_point_buffer(10.0, 45.0, 2000.0, 100.0),
        |          bd = geo_point_buffer(10.0, 45.0, 2000.0)
        | | project np = countof(b, '[') - 2,
        |           npd = countof(bd, '[') - 2,
        |           v0d = geo_distance_2points(10.0, 45.0,
        |             todouble(parse_json(b).coordinates[0][0][0]),
        |             todouble(parse_json(b).coordinates[0][0][1])),
        |           cin = geo_point_in_polygon(10.0, 45.0, b),
        |           nin = geo_point_in_polygon(10.003, 45.0, b),
        |           fout = geo_point_in_polygon(10.1, 45.0, b),
        |           closed = substring(b, strlen(b) - 3, 3) == ']]}',
        |           bad0 = isnull(geo_point_buffer(10.0, 45.0, 0.0)),
        |           badp = isnull(geo_point_buffer(10.0, 84.9, 500000.0)),
        |           badm = isnull(geo_point_buffer(179.5, 45.0, 500000.0))""".stripMargin).head()
    // chord-sagitta: r=2000 tol=100 -> ceil(pi/acos(0.95)) = 10 vertices
    // (+1 ring closure, +2 outer braces accounted in countof arithmetic)
    assert(r.getLong(0) == 11L, s"10-gon + closure, got ${r.getLong(0)}")
    // default tolerance = 3% of radius -> ceil(pi/acos(0.97)) = 13
    assert(r.getLong(1) == 14L, s"13-gon + closure, got ${r.getLong(1)}")
    assert(math.abs(r.getDouble(2) - 2000.0) < 1e-6, "vertices sit exactly at the radius")
    assert(r.getBoolean(3), "center inside")
    assert(r.getBoolean(4), "a point ~236 m east is inside")
    assert(!r.getBoolean(5), "a point ~7.9 km east is outside")
    assert(r.getBoolean(6), "ring closed")
    assert(r.getBoolean(7) && r.getBoolean(8) && r.getBoolean(9),
      "zero radius / pole reach / antimeridian reach are loudly null")
  }

  test("geo_line_to_s2cells: vertex/on-line membership, level monotonicity, nulls") {
    val r = run(
      """t | where id == 1
        | | extend ln = '{"type":"LineString","coordinates":[[0.1,0.1],[1.5,0.1],[1.5,1.3]]}'
        | | extend c8 = geo_line_to_s2cells(ln, 8), c9 = geo_line_to_s2cells(ln, 9)
        | | project n8 = array_length(c8), n9 = array_length(c9),
        |           v1 = set_has_element(c8, geo_point_to_s2cell(0.1, 0.1, 8)),
        |           v2 = set_has_element(c8, geo_point_to_s2cell(1.5, 0.1, 8)),
        |           v3 = set_has_element(c8, geo_point_to_s2cell(1.5, 1.3, 8)),
        |           mid = set_has_element(c8, geo_point_to_s2cell(0.8, 0.1, 8)),
        |           mid2 = set_has_element(c8, geo_point_to_s2cell(1.5, 0.7, 8)),
        |           bad = isnull(geo_line_to_s2cells('nope', 8)),
        |           pt = isnull(geo_line_to_s2cells('{"type":"Point","coordinates":[1.0,2.0]}', 8))""".stripMargin)
      .head()
    assert(r.getLong(0) >= 3L, "a two-segment line covers at least its vertex cells")
    assert(r.getLong(1) >= r.getLong(0), "finer level covers at least as many cells")
    assert(r.getBoolean(2) && r.getBoolean(3) && r.getBoolean(4), "vertex cells included")
    assert(r.getBoolean(5) && r.getBoolean(6), "on-line interior points' cells included")
    assert(r.getBoolean(7) && r.getBoolean(8), "malformed / non-LineString is null")
  }

  test("geo_line_densify / geo_polygon_densify: bisection, invariance, tolerance range") {
    val r = run(
      """t | where id == 1
        | | extend ln = '{"type":"LineString","coordinates":[[0.0,50.0],[10.0,50.0]]}',
        |          mer = '{"type":"LineString","coordinates":[[3.0,10.0],[3.0,20.0]]}',
        |          sq = '{"type":"Polygon","coordinates":[[[0.0,40.0],[8.0,40.0],[8.0,48.0],[0.0,48.0],[0.0,40.0]]]}'
        | | project d5k = geo_line_densify(ln, 5000.0), d1 = geo_line_densify(ln, 1.0),
        |           dm = geo_line_densify(mer, 0.5), dp = geo_polygon_densify(sq, 100.0),
        |           ddef = geo_line_densify(ln),
        |           bad = isnull(geo_line_densify(ln, 0.01)),
        |           bad2 = isnull(geo_line_densify(ln, 9999.0)),
        |           badj = isnull(geo_line_densify('nope', 10.0))""".stripMargin).head()
    def pts(json: String): Seq[(Double, Double)] =
      """\[(-?[\d.E-]+),(-?[\d.E-]+)\]""".r.findAllMatchIn(json)
        .map(m => (m.group(1).toDouble, m.group(2).toDouble)).toSeq
    val p5k = pts(r.getString(0)); val p1 = pts(r.getString(1))
    // a 10-degree parallel at lat 50 bows ~21 km off the planar edge:
    // every tolerance splits, tighter tolerance splits strictly more
    assert(p5k.length > 2, "tol=5000 m still densifies")
    assert(p1.length > p5k.length, "tighter tolerance adds strictly more points")
    assert(pts(r.getString(4)).length > p5k.length, "default tolerance (10 m) is tighter than 5000")
    // every added point stays ON the planar edge (exact bisections) and
    // the longitudes stay sorted with endpoints preserved
    assert(p1.forall(_._2 == 50.0))
    assert(p1.head == ((0.0, 50.0)) && p1.last == ((10.0, 50.0)))
    assert(p1.map(_._1) == p1.map(_._1).sorted)
    // a meridian IS a geodesic: planar midpoint == geodesic midpoint, no split
    assert(r.getString(2) == "{\"type\":\"LineString\",\"coordinates\":[[3.0,10.0],[3.0,20.0]]}")
    // polygon: the two lat-40/48 parallels densify, the two meridian
    // edges don't; ring stays closed
    val pp = pts(r.getString(3))
    assert(pp.length > 5 && pp.head == pp.last, "polygon densified, ring closed")
    assert(pp.forall(p => p._2 == 40.0 || p._2 == 48.0 || p._1 == 0.0 || p._1 == 8.0),
      "every added point lies on the rectangle boundary")
    assert(r.getBoolean(5) && r.getBoolean(6), "tolerance outside [0.1, 5000] is null")
    assert(r.getBoolean(7))
  }

  test("geo_closest_point_on_line / _on_polygon: foot, clamps, inside passthrough") {
    val r = run(
      """t | where id == 1
        | | extend eq = '{"type":"LineString","coordinates":[[-10.0,0.0],[10.0,0.0]]}',
        |          poly = '{"type":"Polygon","coordinates":[[[-5.0,-5.0],[5.0,-5.0],[5.0,5.0],[-5.0,5.0],[-5.0,-5.0]]]}'
        | | extend cl = parse_json(geo_closest_point_on_line(0.0, 1.0, eq)),
        |          ce = parse_json(geo_closest_point_on_line(15.0, 2.0, eq)),
        |          cin = parse_json(geo_closest_point_on_polygon(1.0, 2.0, poly)),
        |          cout = parse_json(geo_closest_point_on_polygon(9.0, 0.5, poly))
        | | project clx = todouble(cl.coordinates[0]), cly = todouble(cl.coordinates[1]),
        |           cex = todouble(ce.coordinates[0]), cey = todouble(ce.coordinates[1]),
        |           cinx = todouble(cin.coordinates[0]), ciny = todouble(cin.coordinates[1]),
        |           coutx = todouble(cout.coordinates[0]), couty = todouble(cout.coordinates[1]),
        |           d = geo_distance_point_to_line(0.0, 1.0, eq),
        |           bad = isnull(geo_closest_point_on_line(0.0, 1.0, 'nope'))""".stripMargin).head()
    // foot of (0,1) on the equator great circle is (0,0)
    assert(math.abs(r.getDouble(0)) < 1e-9 && math.abs(r.getDouble(1)) < 1e-9)
    assert(r.getDouble(2) == 10.0 && r.getDouble(3) == 0.0, "past the end clamps to the endpoint")
    assert(r.getDouble(4) == 1.0 && r.getDouble(5) == 2.0, "inside the polygon returns the point itself")
    // outside: the nearest boundary is the x=5 edge — the spherical
    // foot sits near (not exactly at) the query latitude
    assert(r.getDouble(6) == 5.0 && math.abs(r.getDouble(7) - 0.5) < 0.01)
    // the foot's distance equals geo_distance_point_to_line (shared op order)
    val footD = r.getDouble(8)
    assert(math.abs(footD - math.toRadians(1.0) * 6371009.0) < 1e-3)
    assert(r.getBoolean(9))
  }

  test("geo_intersects_2lines / line_with_polygon / 2polygons: cross, touch, contain, disjoint") {
    val r = run(
      """t | where id == 1
        | | extend x1 = '{"type":"LineString","coordinates":[[-1.0,-1.0],[1.0,1.0]]}',
        |          x2 = '{"type":"LineString","coordinates":[[-1.0,1.0],[1.0,-1.0]]}',
        |          par = '{"type":"LineString","coordinates":[[-1.0,2.0],[1.0,2.0]]}',
        |          tch = '{"type":"LineString","coordinates":[[1.0,1.0],[3.0,1.0]]}',
        |          sq = '{"type":"Polygon","coordinates":[[[-5.0,-5.0],[5.0,-5.0],[5.0,5.0],[-5.0,5.0],[-5.0,-5.0]]]}',
        |          sq2 = '{"type":"Polygon","coordinates":[[[3.0,3.0],[8.0,3.0],[8.0,8.0],[3.0,8.0],[3.0,3.0]]]}',
        |          far = '{"type":"Polygon","coordinates":[[[20.0,20.0],[21.0,20.0],[21.0,21.0],[20.0,21.0],[20.0,20.0]]]}',
        |          innr = '{"type":"Polygon","coordinates":[[[-1.0,-1.0],[1.0,-1.0],[1.0,1.0],[-1.0,1.0],[-1.0,-1.0]]]}'
        | | project ll = geo_intersects_2lines(x1, x2),
        |           lp = geo_intersects_2lines(x1, par),
        |           lt = geo_intersects_2lines(x1, tch),
        |           lin = geo_intersects_line_with_polygon(x1, sq),
        |           lout = geo_intersects_line_with_polygon(par, far),
        |           pp = geo_intersects_2polygons(sq, sq2),
        |           pd = geo_intersects_2polygons(sq, far),
        |           pc = geo_intersects_2polygons(sq, innr),
        |           pc2 = geo_intersects_2polygons(innr, sq),
        |           bad = isnull(geo_intersects_2lines(x1, 'nope'))""".stripMargin).head()
    assert(r.getBoolean(0), "X-crossing lines intersect")
    assert(!r.getBoolean(1), "parallel offset lines do not")
    assert(r.getBoolean(2), "endpoint touch counts as intersecting")
    assert(r.getBoolean(3), "a line inside the polygon intersects it (vertex-inside)")
    assert(!r.getBoolean(4))
    assert(r.getBoolean(5), "overlapping squares intersect")
    assert(!r.getBoolean(6), "disjoint squares do not")
    assert(r.getBoolean(7) && r.getBoolean(8), "containment intersects from both sides")
    assert(r.getBoolean(9))
  }

  test("geo_point_to_s2cell: published face/quadrant vectors, round trips, loud nulls") {
    // level-0 face cells — the published token vectors: face f id is
    // f<<61 | 1<<60, tokens 1/3/5/7/9/b for the six axis directions
    val faces = run(
      """t | where id == 1 | project
        |  f0 = geo_point_to_s2cell(0.0, 0.0, 0), f1 = geo_point_to_s2cell(90.0, 0.0, 0),
        |  f2 = geo_point_to_s2cell(0.0, 90.0, 0), f3 = geo_point_to_s2cell(180.0, 0.0, 0),
        |  f4 = geo_point_to_s2cell(-90.0, 0.0, 0), f5 = geo_point_to_s2cell(0.0, -90.0, 0)""".stripMargin)
      .head()
    assert((0 to 5).map(faces.getString) == Seq("1", "3", "5", "7", "9", "b"))
    // level-1 quadrants of face 0 follow the published kPosToIJ(0) =
    // {0,1,3,2} Hilbert child order: ij(0,0)→pos0 '04', ij(0,1)→pos1
    // '0c', ij(1,1)→pos2 '14', ij(1,0)→pos3 '1c'
    val quads = run(
      """t | where id == 1 | project
        |  q00 = geo_point_to_s2cell(-22.5, -22.5, 1), q01 = geo_point_to_s2cell(-22.5, 22.5, 1),
        |  q11 = geo_point_to_s2cell(22.5, 22.5, 1), q10 = geo_point_to_s2cell(22.5, -22.5, 1)""".stripMargin)
      .head()
    assert((0 to 3).map(quads.getString) == Seq("04", "0c", "14", "1c"))
    // round trip at several levels: the decoded center re-encodes to
    // the SAME token (exact center contract), across faces
    val rt = run(
      """t | project lon = todouble(id * 37 % 360) - 180.0 + 0.25, lat = todouble(id * 53 % 170) - 85.0 + 0.25
        | | extend c11 = geo_point_to_s2cell(lon, lat, 11), c30 = geo_point_to_s2cell(lon, lat, 30), c5 = geo_point_to_s2cell(lon, lat, 5)
        | | extend p11 = geo_s2cell_to_central_point(c11), p30 = geo_s2cell_to_central_point(c30), p5 = geo_s2cell_to_central_point(c5)
        | | extend ok11 = geo_point_to_s2cell(todouble(p11.coordinates[0]), todouble(p11.coordinates[1]), 11) == c11,
        |          ok30 = geo_point_to_s2cell(todouble(p30.coordinates[0]), todouble(p30.coordinates[1]), 30) == c30,
        |          ok5 = geo_point_to_s2cell(todouble(p5.coordinates[0]), todouble(p5.coordinates[1]), 5) == c5,
        |          near = geo_distance_2points(todouble(p11.coordinates[0]), todouble(p11.coordinates[1]), lon, lat) < 10000.0
        | | summarize n = count(), ok = countif(ok11 and ok30 and ok5 and near)""".stripMargin).head()
    assert(rt.getLong(0) == rt.getLong(1), "every point round-trips at levels 5/11/30 and center is within 10 km at level 11")
    // containment: the level-11 center decodes inside the level-5 cell
    // (re-encoding it at level 5 gives the same level-5 token)
    val cont = run(
      """t | project lon = todouble(id) * 11.0 - 30.0, lat = todouble(id) * 7.0 - 20.0
        | | extend c5 = geo_point_to_s2cell(lon, lat, 5), p11 = geo_s2cell_to_central_point(geo_point_to_s2cell(lon, lat, 11))
        | | extend ok = geo_point_to_s2cell(todouble(p11.coordinates[0]), todouble(p11.coordinates[1]), 5) == c5
        | | summarize bad = countif(not(ok))""".stripMargin).head()
    assert(cont.getLong(0) == 0L)
    // loud nulls: out-of-range coordinates, malformed tokens
    val bad = run(
      """t | where id == 1 | project
        |  a = isnull(geo_point_to_s2cell(181.0, 0.0, 11)), b = isnull(geo_point_to_s2cell(0.0, 91.0, 11)),
        |  c = isnull(geo_s2cell_to_central_point('zz')), d = isnull(geo_s2cell_to_central_point('')),
        |  e = isnull(geo_s2cell_to_central_point('e6'))""".stripMargin).head()
    assert((0 to 4).forall(bad.getBoolean), "e6 has face 7 > 5 — invalid id")
    // parse-time level validation is loud
    assert(intercept[KqlParseException](run("t | project x = geo_point_to_s2cell(0.0, 0.0, 31)"))
      .getMessage.contains("level"))
  }

  test("SCC fixpoint spends at most 2 driver actions per label step (probe batched into the update job)") {
    // a 12-cycle forces a ~diameter-length min-label fixpoint in each
    // direction; the convergence probe must ride the SAME job that
    // materializes the lazily-checkpointed label frame (q41 checksum
    // batching), so driver actions stay at steps + one seed checkpoint
    // per minAncestor call — on a long-chain 100× graph the O(diameter)
    // job-launch budget is the difference between linear and 2× linear
    // driver round-trips.
    import graft.ops.StronglyConnected
    val s = spark
    import s.implicits._
    val n = 12
    val edges = (1 to n).map(i => (i.toLong, (i % n + 1).toLong)).toDF("src", "dst")
    StronglyConnected.resetProbeStats()
    // pin the DISTRIBUTED loop: this spec asserts the fixpoint's driver-
    // action budget, which the size-gated local Tarjan would bypass
    val comp = StronglyConnected.components(edges, local = false).collect()
    assert(comp.length == n && comp.forall(_.getLong(1) == 1L), "one SCC anchored at min id 1")
    val steps = StronglyConnected.fixpointSteps.get
    val calls = StronglyConnected.minAncestorCalls.get
    val actions = StronglyConnected.driverActions.get
    assert(steps >= n - 2, s"cycle of $n should need ~diameter label steps, got $steps")
    assert(actions == steps + calls,
      s"one action per step + one seed per call; got actions=$actions steps=$steps calls=$calls")
    assert(actions <= 2 * steps, s"probe budget: ≤2 driver actions per fixpoint step")
  }

  test("graph-to-table and make-graph misuse are handled") {
    val nodes = runG2(
      """let E = datatable(src: string, dst: string)['a', 'b', 'b', 'c'];
        | E | make-graph src --> dst | graph-to-table nodes | order by node_id asc""".stripMargin)
      .collect()
    assert(nodes.map(_.getString(0)).toSeq == Seq("a", "b", "c"))
    // make-graph followed by a non-graph operator is a loud error
    assert(intercept[KqlParseException](runG2(
      """let E = datatable(src: string, dst: string)['a', 'b'];
        | E | make-graph src --> dst | where src == 'a'""".stripMargin))
      .getMessage.contains("graph-match"))
    // dangling make-graph at end of query is a loud error
    assert(intercept[KqlParseException](runG2(
      """let E = datatable(src: string, dst: string)['a', 'b'];
        | E | make-graph src --> dst""".stripMargin))
      .getMessage.contains("graph-match"))
    // graph-match without make-graph is a loud error
    assert(intercept[KqlParseException](run(
      "t | graph-match (a)-[e]->(b) project x = a.id"))
      .getMessage.contains("make-graph"))
  }

  test("scalar ring 8: ipv4 family, parse_version, parse_url, format_timespan") {
    val out = run(
      """t | where id == 1
        | | project v1 = parse_ipv4('192.168.1.1'),
        |           v2 = parse_ipv4('192.168.1.255/24'),
        |           bad = parse_ipv4('1.2.3.256'),
        |           p1 = ipv4_is_private('10.0.0.1'), p2 = ipv4_is_private('8.8.8.8'),
        |           r1 = ipv4_is_in_range('10.42.7.7', '10.42.0.0/16'),
        |           r2 = ipv4_is_in_range('10.43.7.7', '10.42.0.0/16'),
        |           c1 = ipv4_compare('1.2.3.4', '1.2.3.5'),
        |           ver = tostring(parse_version('1.2.3.4')),
        |           vbad = parse_version('1.2.beta'),
        |           host = tostring(parse_url('https://u:pw@h.io:81/a/b?x=1#f').Host),
        |           prt = tostring(parse_url('https://u:pw@h.io:81/a/b?x=1#f').Port),
        |           fr = tostring(parse_url('https://u:pw@h.io:81/a/b?x=1#f').Fragment),
        |           ft1 = format_timespan(1d + 2h + 3m + 4s, 'd.hh:mm:ss'),
        |           ft2 = format_timespan(90s, 'mm:ss'),
        |           ftn = format_timespan(0s - 90s, 'mm:ss')""".stripMargin).collect().head
    assert(out.getLong(0) == 3232235777L)        // 192.168.1.1
    assert(out.getLong(1) == 3232235776L)        // masked /24 → 192.168.1.0
    assert(out.isNullAt(2))                      // octet 256 invalid
    assert(out.getBoolean(3) && !out.getBoolean(4))
    assert(out.getBoolean(5) && !out.getBoolean(6))
    assert(out.getLong(7) == -1L)
    assert(out.getString(8) == "1000000020000000300000004")
    assert(out.isNullAt(9))
    assert(out.getString(10) == "h.io")
    assert(out.getString(11) == "81")
    assert(out.getString(12) == "f")
    assert(out.getString(13) == "1.02:03:04")
    assert(out.getString(14) == "01:30")
    assert(out.getString(15) == "-01:30")
  }

  test("geo ring 2: point-in-polygon holes/edges, line length, perimeter, area") {
    val sq = """'{"type":"Polygon","coordinates":[[[0.0,0.0],[10.0,0.0],[10.0,10.0],[0.0,10.0],[0.0,0.0]],[[4.0,4.0],[6.0,4.0],[6.0,6.0],[4.0,6.0],[4.0,4.0]]]}'"""
    // unclosed ring: traversal closes it (same membership as the closed form)
    val open = """'{"type":"Polygon","coordinates":[[[0.0,0.0],[10.0,0.0],[10.0,10.0],[0.0,10.0]]]}'"""
    val r = run(
      s"""t | where id == 1
         | | project inside = geo_point_in_polygon(2.0, 2.0, $sq),
         |           inHole = geo_point_in_polygon(5.0, 5.0, $sq),
         |           outside = geo_point_in_polygon(11.0, 5.0, $sq),
         |           openIn = geo_point_in_polygon(2.0, 2.0, $open),
         |           openOut = geo_point_in_polygon(-1.0, 2.0, $open),
         |           badPoly = geo_point_in_polygon(1.0, 1.0, '{"type":"Point","coordinates":[1.0,2.0]}'),
         |           meridian = round(geo_line_length('{"type":"LineString","coordinates":[[7.0,10.0],[7.0,11.0]]}'), 1),
         |           oneSeg = round(geo_polygon_perimeter('{"type":"Polygon","coordinates":[[[0.0,0.0],[0.0,1.0]]]}'), 1),
         |           badLine = geo_line_length('[1,2]'),
         |           areaPos = geo_polygon_area($sq) > 0,
         |           holeShrinks = geo_polygon_area($sq) < geo_polygon_area($open)""".stripMargin)
      .collect().head
    assert(r.getBoolean(0)); assert(!r.getBoolean(1)); assert(!r.getBoolean(2))
    assert(r.getBoolean(3)); assert(!r.getBoolean(4)); assert(r.isNullAt(5))
    // 1° of meridian arc on the 6371009 m sphere = 111195.1 m
    assert(r.getDouble(6) == 111195.1)
    // 2-point "ring" closes: up 1° and back = two meridian degrees
    assert(r.getDouble(7) == 222390.2)
    assert(r.isNullAt(8)); assert(r.getBoolean(9)); assert(r.getBoolean(10))
  }

  test("geo_geohash_to_central_point: canonical vector, round trip, malformed null") {
    val out = run(
      """t | where id == 1
        | | extend cp = geo_geohash_to_central_point('ezs42')
        | | extend gh2 = geo_point_to_geohash(0.0 - 122.27, 37.80, 7)
        | | extend cp2 = geo_geohash_to_central_point(gh2)
        | | project v = tostring(cp),
        |           lon = todouble(cp.coordinates[0]), lat = todouble(cp.coordinates[1]),
        |           rt = geo_point_to_geohash(todouble(cp2.coordinates[0]),
        |                                     todouble(cp2.coordinates[1]), 7) == gh2,
        |           bad = isnull(geo_geohash_to_central_point('ez!42')),
        |           bad2 = isnull(geo_geohash_to_central_point(''))""".stripMargin).head()
    assert(out.getString(0) ==
      """{"type":"Point","coordinates":[-5.60302734375,42.60498046875]}""")
    assert(out.getDouble(1) == -5.60302734375 && out.getDouble(2) == 42.60498046875)
    assert(out.getBoolean(3) && out.getBoolean(4) && out.getBoolean(5))
  }

  test("scalar ring 9: geo distance/circle, geohash vectors, bag_keys") {
    val out = run(
      """t | where id == 1
        | | project d0 = geo_distance_2points(0.0, 0.0, 0.0, 0.0),
        |           deq = round(geo_distance_2points(0.0, 0.0, 1.0, 0.0), 0),
        |           inc = geo_point_in_circle(0.5, 0.5, 0.0, 0.0, 100000.0),
        |           outc = geo_point_in_circle(2.0, 2.0, 0.0, 0.0, 100000.0),
        |           gh = geo_point_to_geohash(0.0 - 5.6, 42.6, 5),
        |           gh2 = geo_point_to_geohash(0.0 - 5.603, 42.608, 8),
        |           bk = strcat_array(bag_keys('{"b": 1, "a": {"x": 2}}'), ',')""".stripMargin)
      .collect().head
    assert(out.getDouble(0) == 0.0)
    // 1 degree of longitude at the equator on R=6371009: ~111195 m
    assert(math.abs(out.getDouble(1) - 111195.0) < 1.0)
    assert(out.getBoolean(2) && !out.getBoolean(3))
    assert(out.getString(4) == "ezs42") // canonical geohash test vector
    assert(out.getString(5).startsWith("ezs42"))
    assert(out.getString(6) == "a,b") // pinned sorted key order
  }

  test("binary_all_* aggregates and format_bytes") {
    val agg = run(
      "t | summarize o = binary_all_or(id), a = binary_all_and(id), x = binary_all_xor(id)")
      .collect().head
    assert((agg.getLong(0), agg.getLong(1), agg.getLong(2)) == (7L, 0L, 1L))
    val fb = run(
      """t | where id == 1
        | | project a = format_bytes(500), b = format_bytes(1024),
        |           c = format_bytes(4000), d = format_bytes(131072, 1),
        |           e = format_bytes(1536, 2), f = format_bytes(1073741824, 1)""".stripMargin)
      .collect().head
    assert(fb.toSeq == Seq("500 bytes", "1 KB", "4 KB", "128.0 KB", "1.50 KB", "1.0 GB"))
  }

  test("activity_engagement / session_count plugins: hand-computed fixtures") {
    val eng = runG2(
      """let T = datatable(id: long, ts: datetime)[
        |  1, datetime(2024-01-01), 2, datetime(2024-01-01),
        |  1, datetime(2024-01-02),
        |  1, datetime(2024-01-08)];
        | T | evaluate activity_engagement(id, ts, 1d, 7d)
        | | project d = format_datetime(ts, 'yyyy-MM-dd'), i = dcount_activities_inner,
        |           o = dcount_activities_outer, r = activity_ratio
        | | order by d asc""".stripMargin).collect()
    assert(eng.map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq ==
      Seq(("2024-01-01", 2L, 2L, 1.0), ("2024-01-02", 1L, 2L, 0.5),
          ("2024-01-08", 1L, 1L, 1.0)))
    val sc = runG2(
      """let T = datatable(id: long, ts: datetime)[
        |  1, datetime(2024-01-01T00:00:00), 1, datetime(2024-01-01T06:00:00),
        |  1, datetime(2024-01-01T20:00:00), 2, datetime(2024-01-02T00:00:00)];
        | T | evaluate session_count(id, ts, 1d, 12h)
        | | project d = format_datetime(ts, 'yyyy-MM-dd'), n = count_sessions
        | | order by d asc""".stripMargin).collect()
    // id1: 00:00 starts; 06:00 gap 6h — no; 20:00 gap 14h — starts. id2: starts.
    assert(sc.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("2024-01-01", 2L), ("2024-01-02", 1L)))
  }

  test("sliding_window_counts / activity_counts_metrics / rolling_percentile: hand-computed fixtures") {
    val sw = runG2(
      """let T = datatable(id: long, ts: datetime)[
        |  1, datetime(2024-01-01), 2, datetime(2024-01-01),
        |  1, datetime(2024-01-03),
        |  3, datetime(2024-01-05)];
        | T | evaluate sliding_window_counts(id, ts, datetime(2024-01-02), datetime(2024-01-05), 3d, 1d)
        | | project d = format_datetime(ts, 'yyyy-MM-dd'), Count, Dcount
        | | order by d asc""".stripMargin).collect()
    assert(sw.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq(("2024-01-02", 2L, 2L), ("2024-01-03", 3L, 2L),
          ("2024-01-04", 1L, 1L), ("2024-01-05", 2L, 2L)))
    val ac = runG2(
      """let T = datatable(id: long, ts: datetime)[
        |  1, datetime(2024-01-01), 2, datetime(2024-01-01),
        |  1, datetime(2024-01-02),
        |  3, datetime(2024-01-03)];
        | T | evaluate activity_counts_metrics(id, ts, datetime(2024-01-01), datetime(2024-01-03), 1d)
        | | order by ts asc""".stripMargin).collect()
    assert(ac.map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq ==
      Seq((2L, 2L, 2L, 2L), (1L, 1L, 0L, 2L), (1L, 1L, 1L, 3L)))
    val rp = runG2(
      """let T = datatable(v: real, ts: datetime)[
        |  10.0, datetime(2024-01-01), 20.0, datetime(2024-01-02), 30.0, datetime(2024-01-03)];
        | T | evaluate rolling_percentile(v, 50, ts, 1d, 2)
        | | project d = format_datetime(ts, 'yyyy-MM-dd'), r = rolling_50_v
        | | order by d asc""".stripMargin).collect()
    assert(rp.map(r => (r.getString(0), r.getDouble(1))).toSeq ==
      Seq(("2024-01-01", 10.0), ("2024-01-02", 15.0),
          ("2024-01-03", 25.0), ("2024-01-04", 30.0)))
    // caps are loud
    assert(intercept[KqlParseException](runG2(
      """let T = datatable(id: long, ts: datetime)[1, datetime(2024-01-01)];
        | T | evaluate sliding_window_counts(id, ts, datetime(2024-01-01), datetime(2024-01-02), 300d, 1d)""".stripMargin))
      .getMessage.contains("cap 256"))
    assert(intercept[KqlParseException](runG2(
      """let T = datatable(v: real, ts: datetime)[1.0, datetime(2024-01-01)];
        | T | evaluate rolling_percentile(v, 50, ts, 1h, 100)""".stripMargin))
      .getMessage.contains("1..64"))
  }

  test("new_activity_metrics: hand-computed cohort retention matrix") {
    val m = runG2(
      """let T = datatable(id: long, ts: datetime)[
        |  1, datetime(2024-01-01), 2, datetime(2024-01-01),
        |  1, datetime(2024-01-02), 3, datetime(2024-01-02)];
        | T | evaluate new_activity_metrics(id, ts, datetime(2024-01-01), datetime(2024-01-02), 1d)
        | | project f = format_datetime(from_ts, 'dd'), t = format_datetime(to_ts, 'dd'),
        |           n = dcount_new_values, r = dcount_retained_values, c = dcount_churn_values,
        |           rr = retention_rate
        | | order by f asc, t asc""".stripMargin).collect()
    assert(m.map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5))).toSeq ==
      Seq(("01", "01", 2L, 2L, 0L, 1.0), ("01", "02", 2L, 1L, 1L, 0.5),
          ("02", "02", 1L, 1L, 0L, 1.0)))
  }

  test("scalar ring 10: timespan/datetime constructors, ipv4 formatting, regex index, byte arrays, array_iff") {
    val r = run(
      """t | where id == 1
        | | project a = totimespan('1.02:03:04.5'), b = totimespan('0:01:30'),
        |           c = totimespan('bogus'), d = totimespan('90m'),
        |           e = make_timespan(1, 2, 3, 4.5),
        |           m = format_datetime(make_datetime(2024, 1, 2, 3, 4, 5), 'yyyy-MM-dd HH:mm:ss'),
        |           u = format_datetime(unixtime_seconds_todatetime(86400), 'yyyy-MM-dd HH:mm:ss'),
        |           f = format_ipv4(3232235777), g = format_ipv4_mask('10.1.2.3', 24),
        |           h = indexof_regex('hello world', 'o w'), i = indexof_regex('abc', 'z'),
        |           j = tostring(base64_decode_toarray(base64_encode_tostring('Hi'))),
        |           k = tostring(array_iff(pack_array(true, false), pack_array(10, 20), pack_array(1, 2)))""".stripMargin)
      .collect().head
    assert(r.getLong(0) == 93784500000L)
    assert(r.getLong(1) == 90000000L)
    assert(r.isNullAt(2))
    assert(r.getLong(3) == 5400000000L)
    assert(r.getLong(4) == 93784500000L)
    assert(r.getString(5) == "2024-01-02 03:04:05")
    assert(r.getString(6) == "1970-01-02 00:00:00")
    assert(r.getString(7) == "192.168.1.1")
    assert(r.getString(8) == "10.1.2.0/24")
    assert(r.getLong(9) == 4L)
    assert(r.getLong(10) == -1L)
    assert(r.getString(11) == "[72,105]")
    assert(r.getString(12) == "[10,2]")
  }

  test("series ring 4: iir recursion, seasonal, dot/magnitude/cosine — hand-computed") {
    val r = run(
      """t | where id == 1
        | | project yy = tostring(series_iir(pack_array(1, 1, 1, 1), pack_array(1.0), pack_array(1.0, -0.5))),
        |           season = tostring(series_seasonal(pack_array(1, 2, 3, 3, 4, 5), 3)),
        |           mag = series_magnitude(pack_array(3, 4)),
        |           dp = series_dot_product(pack_array(3, 4), pack_array(4, 3)),
        |           cs = series_cosine_similarity(pack_array(3, 4), pack_array(4, 3)),
        |           dps = series_dot_product(pack_array(3, 4), 2)""".stripMargin)
      .collect().head
    assert(r.getString(0) == "[1.0,1.5,1.75,1.875]")
    assert(r.getString(1) == "[2.0,3.0,4.0,2.0,3.0,4.0]")
    assert(r.getDouble(2) == 5.0)
    assert(r.getDouble(3) == 24.0)
    assert(r.getDouble(4) == 0.96)
    assert(r.getDouble(5) == 14.0)
  }

  test("ipv6 family: canonical parse, compare, bit-granular prefix match") {
    val r = run(
      """t | where id == 1
        | | project a = parse_ipv6('::1'), b = parse_ipv6('2001:DB8::FF'),
        |           c = parse_ipv6('zz::1'), d = parse_ipv6('1:2:3:4:5:6:7:8:9'),
        |           e = ipv6_compare('::1', '::2'), f = ipv6_compare('2001:db8::', '2001:0DB8:0:0:0:0:0:0'),
        |           g = ipv6_is_match('2001:db8::1', '2001:db8::2', 126),
        |           h = ipv6_is_match('2001:db8::1', '2001:db8::2', 127),
        |           i = ipv4_is_match('10.1.2.3', '10.1.2.250', 24),
        |           j = ipv4_is_match('10.1.2.3', '10.1.3.0/24')""".stripMargin)
      .collect().head
    assert(r.getString(0) == "0000:0000:0000:0000:0000:0000:0000:0001")
    assert(r.getString(1) == "2001:0db8:0000:0000:0000:0000:0000:00ff")
    assert(r.isNullAt(2))
    assert(r.isNullAt(3))
    assert(r.getLong(4) == -1L)
    assert(r.getLong(5) == 0L)
    assert(r.getBoolean(6))
    assert(!r.getBoolean(7))
    assert(r.getBoolean(8))
    assert(!r.getBoolean(9))
  }

  test("funnel_sequence: prev/next around immediate runs, gap-bounded") {
    val m = runG2(
      """let T = datatable(id: long, ts: datetime, st: string)[
        |  1, datetime(2024-01-01T00:00:00), 'a',
        |  1, datetime(2024-01-01T01:00:00), 'view',
        |  1, datetime(2024-01-01T02:00:00), 'click',
        |  1, datetime(2024-01-01T03:00:00), 'b',
        |  2, datetime(2024-01-02T00:00:00), 'view',
        |  2, datetime(2024-01-05T00:00:00), 'click'];
        | T | evaluate funnel_sequence(id, ts, datetime(2024-01-01), datetime(2024-01-06), 12h, 1d, st, dynamic(['view', 'click']))
        | | project d = format_datetime(ts, 'dd'), prev, next, n = count_sequences, u = dcount_ids
        | | order by d asc""".stripMargin).collect()
    // id 1: a→[view,click]→b matches (gap 1h ≤ 12h); id 2's gap is 3d
    assert(m.map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3), r.getLong(4))).toSeq ==
      Seq(("01", "a", "b", 1L, 1L)))
  }

  test("funnel_sequence_completion: per-period cumulative funnel, greedy-earliest anchor") {
    val m = runG2(
      """let T = datatable(id: long, ts: datetime, st: string)[
        |  1, datetime(2024-01-01T00:00:00), 'view',
        |  1, datetime(2024-01-01T00:30:00), 'click',
        |  1, datetime(2024-01-02T06:00:00), 'buy',
        |  2, datetime(2024-01-01T10:00:00), 'view',
        |  2, datetime(2024-01-01T10:20:00), 'click',
        |  2, datetime(2024-01-01T10:40:00), 'buy',
        |  3, datetime(2024-01-09T00:00:00), 'view',
        |  4, datetime(2024-01-01T00:00:00), 'click'];
        | T | evaluate funnel_sequence_completion(id, ts, datetime(2024-01-01), datetime(2024-02-01), 7d, st, dynamic(['view', 'click', 'buy']), dynamic([1h, 2d]))
        | | order by period asc, ts asc""".stripMargin).collect()
    // Bins: ids 1,2 anchor in the 2024-01-01 week; id 3 in the next; id 4 never enters.
    // 1h period: id1 completes view+click in 30m (buy at +30h misses); id2 all three in 40m.
    // 2d period: both complete everything; id 3 is view-only in its bin.
    val rows = m.map(r => (r.getLong(0), r.getTimestamp(1).toString.take(10),
      r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(rows == Seq(
      (3600000000L, "2023-12-28", 2L, 2L, 1L),
      (3600000000L, "2024-01-04", 1L, 0L, 0L),
      (172800000000L, "2023-12-28", 2L, 2L, 2L),
      (172800000000L, "2024-01-04", 1L, 0L, 0L)))
    val e1 = intercept[KqlParseException](runG2(
      "events | evaluate funnel_sequence_completion(user_id, ts, datetime(2024-01-01), datetime(2024-02-01), 7d, event_type, dynamic(['a', 'a']), dynamic([1h]))"))
    assert(e1.getMessage.contains("distinct"))
    val e2 = intercept[KqlParseException](runG2(
      "events | evaluate funnel_sequence_completion(user_id, ts, datetime(2024-01-01), datetime(2024-02-01), 7d, event_type, dynamic(['a']), dynamic([-1h]))"))
    assert(e2.getMessage.contains("positive"))
  }

  test("property-bag mutators are type-preserving; extract_json probes paths") {
    val r = run(
      """t | where id == 1
        | | project a = bag_merge(pack('x', 1, 'y', 'old'), pack('y', 2.5, 'z', 'zz')),
        |           b = bag_remove_keys(pack('p', 1, 'q', 2, 'r', 3), dynamic(['q', 'r'])),
        |           c = bag_set_key(pack('a', 1), 'b', '7'),
        |           d = bag_set_key(pack('a', 1), 's', 'hi'),
        |           e = extract_json('$.a.b', '{"a":{"b":42}}'),
        |           f = bag_merge('not json', pack('a', 1))""".stripMargin)
      .collect().head
    assert(r.getString(0) == """{"x":1,"y":"old","z":"zz"}""")
    assert(r.getString(1) == """{"p":1}""")
    assert(r.getString(2) == """{"a":1,"b":7}""")
    assert(r.getString(3) == """{"a":1,"s":"hi"}""")
    assert(r.getString(4) == "42")
    assert(r.isNullAt(5))
  }

  test("parse_xml: pinned element-to-bag mapping") {
    val r = run(
      """t | where id == 1
        | | project a = parse_xml('<r a="1"><u>7</u><t>x</t><t>y</t><e/></r>'),
        |           b = parse_xml('<doc>hello</doc>'),
        |           c = parse_xml('not xml'),
        |           d = tostring(parse_xml('<r><u>7</u></r>').r.u)""".stripMargin)
      .collect().head
    assert(r.getString(0) == """{"r":{"@a":"1","u":"7","t":["x","y"],"e":null}}""")
    assert(r.getString(1) == """{"doc":"hello"}""")
    assert(r.isNullAt(2))
    assert(r.getString(3) == "7")
  }

  test("partition by: general subpipeline (where/extend/order+take per key)") {
    val out = run(
      """t | partition by name (
        |     where value >= 15
        |     | extend v2 = value * 2
        |     | order by v2 desc, id asc
        |     | take 1
        |   )
        | | project name, id, v2 | order by name asc""".stripMargin).collect()
    // alpha: ids 1(10 filtered),3(95) → id 3; beta: 2(55),5(70) → id 5;
    // gamma: 4(20) → id 4
    assert(out.map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq ==
      Seq(("alpha", 3L, 190.0), ("beta", 5L, 140.0), ("gamma", 4L, 40.0)))
  }

  test("partition by: summarize drops the injected key unless the by-list names it; count form") {
    val s = run(
      """t | partition by name ( summarize n = count(), mx = max(value) by ok = status == 'ok' )
        | | order by ok asc, n desc, mx asc""".stripMargin)
    assert(s.columns.toSeq == Seq("ok", "n", "mx")) // name NOT in output (Kusto schema rule)
    val rows = s.collect().map(r => (r.getBoolean(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(rows == Seq((false, 2L, 95.0), (false, 1L, 20.0), (true, 2L, 70.0)))
    // by-list naming the partition key keeps it (no duplicate grouping)
    val k = run("""t | partition by name ( summarize n = count() by name ) | order by name asc""")
    assert(k.columns.toSeq == Seq("name", "n"))
    assert(k.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("alpha", 2L), ("beta", 2L), ("gamma", 1L)))
    // count → one Count row per partition, key dropped
    val c = run("""t | partition by name ( count ) | order by Count asc""").collect()
    assert(c.map(_.getLong(0)).toSeq == Seq(1L, 2L, 2L))
  }

  test("partition by: bare take pins per-key arbitrary rows to xxhash64 order (deterministic)") {
    val q = """t | partition by name ( take 1 ) | order by name asc"""
    val a = run(q).collect().map(_.toSeq).toSeq
    assert(a == run(q).collect().map(_.toSeq).toSeq) // re-run identical
    assert(a.map(_(1)) == Seq("alpha", "beta", "gamma")) // exactly one row per key
  }

  test("partition by: trailing order-by and non-rewritable operators are loud errors") {
    assert(intercept[KqlParseException](
      run("t | partition by name ( order by value desc )"))
      .getMessage.contains("take"))
    assert(intercept[KqlParseException](
      run("t | partition by name ( distinct status )"))
      .getMessage.contains("unsupported operator"))
  }

  test("percentilew/percentilesw: exact weighted nearest-rank") {
    // values 10,55,95,20,70 with weights 1,1,8,1,1 (w = id of row 3 → 8
    // via case): p50 threshold 6 of total 12 lands inside value 95's mass
    val r = run(
      """t | extend w = iff(id == 3, 8, 1)
        | | summarize p50 = percentilew(value, w, 50),
        |             (a, b) = percentilesw(value, w, 25, 100)""".stripMargin)
      .collect().head
    assert(r.getDouble(0) == 95.0) // cum: 10→1,20→2,55→3,70→4,95→12; thr 6
    assert(r.getDouble(1) == 55.0) // thr 3 → 55
    assert(r.getDouble(2) == 95.0) // thr 12 → last value
    // auto-named bare form
    val auto = run("t | summarize percentilesw(value, id, 50)")
    assert(auto.columns.toSeq == Seq("percentilew_value_50"))
    // weights 1..5 by id, sorted by value: 10(w1),20(w4),55(w2),70(w5),95(w3)
    // cum 1,5,7,12,15; thr 7.5 → 70
    assert(auto.collect().head.getDouble(0) == 70.0)
  }

  test("make_set_if / make_list_if / make_list_with_nulls / make_bag") {
    val r = run(
      """t | summarize s = strcat_array(make_set_if(name, value >= 55), '|'),
        |             l = strcat_array(array_sort_asc(make_list_if(id, value < 60)), '|'),
        |             nAll = array_length(make_list_with_nulls(iff(value > 60, value, real(null)))),
        |             nVal = array_length(make_list(iff(value > 60, value, real(null)))),
        |             mb = make_bag(bag_set_key('{}', name, '1'))""".stripMargin)
      .collect().head
    assert(r.getString(0) == "alpha|beta")      // ids 2(beta,55),3(alpha,95),5(beta,70)
    assert(r.getString(1) == "1|2|4")           // values 10,55,20
    assert(r.getLong(2) == 5L && r.getLong(3) == 2L) // with_nulls keeps the 3 nulls
    assert(r.getString(4) == """{"alpha":1,"beta":1,"gamma":1}""") // sorted-first-wins merge
  }

  test("series_fit_2lines: exact changepoint, tie-break, short-series nulls") {
    val r = run(
      """t | where id == 1
        | | extend s = pack_array(0.0, 1.0, 2.0, 10.0, 11.0, 12.0)
        | | extend (rsq, sp, v, rv, lf) = series_fit_2lines(s)
        | | project rsq, sp, v, rv, lf""".stripMargin).collect().head
    assert(r.getDouble(0) == 1.0)      // both segments fit exactly
    assert(r.getLong(1) == 3L)         // right segment starts at index 3
    assert(math.abs(r.getDouble(2) - 30.8) < 1e-9) // sample variance
    assert(r.getDouble(3) == 0.0)
    assert(r.getSeq[Double](4) == Seq(0.0, 1.0, 2.0, 10.0, 11.0, 12.0))
    // constant series: all splits tie at RSS 0 → smallest split wins,
    // sstot 0 → rsquare pinned 1.0
    val c = run(
      """t | where id == 1
        | | extend (rsq, sp) = series_fit_2lines(pack_array(5.0, 5.0, 5.0, 5.0))
        | | project rsq, sp""".stripMargin).collect().head
    assert(c.getDouble(0) == 1.0 && c.getLong(1) == 2L)
    // shorter than 4 points → all-null
    val s = run(
      """t | where id == 1
        | | extend (rsq, sp, v) = series_fit_2lines(pack_array(1.0, 2.0, 3.0))
        | | project rsq, sp, v""".stripMargin).collect().head
    assert(s.isNullAt(0) && s.isNullAt(1) && s.isNullAt(2))
  }

  test("evaluate ipv4_lookup: longest-prefix match, /32 keys, return_unmatched") {
    def run(kql: String) =
      KqlCompiler.compile(kql, _ => df, java.time.Instant.EPOCH, spark)
    val q =
      """let ranges = datatable(network: string, zone: string) [
        |  '10.0.0.0/8', 'corp',
        |  '10.1.0.0/16', 'corp-east',
        |  '192.168.0.0/16', 'home',
        |  '8.8.8.8', 'dns'];
        |t | extend ip = case(id == 1, '10.1.2.3', id == 2, '10.9.9.9',
        |                     id == 3, '192.168.5.5', id == 4, '8.8.8.8', '1.1.1.1')
        | | evaluate ipv4_lookup(ranges, ip, network)
        | | project id, ip, network, zone | order by id asc""".stripMargin
    val m = run(q).collect().map(r => (r.getLong(0), r.getString(2), r.getString(3))).toSeq
    assert(m == Seq(
      (1L, "10.1.0.0/16", "corp-east"), // /16 beats /8
      (2L, "10.0.0.0/8", "corp"),
      (3L, "192.168.0.0/16", "home"),
      (4L, "8.8.8.8", "dns")))          // bare key = /32; 1.1.1.1 dropped
    val u = run(q.replace("evaluate ipv4_lookup(ranges, ip, network)",
                          "evaluate ipv4_lookup(ranges, ip, network, return_unmatched = true)"))
      .collect()
    assert(u.length == 5)
    val miss = u.find(_.getLong(0) == 5L).get
    assert(miss.getString(1) == "1.1.1.1" && miss.isNullAt(2) && miss.isNullAt(3))
  }

  test("join on $left.A == $right.B: condition form keeps both sides, right dups get '1'") {
    val q =
      """let dim = t | project ref_id = id, tag = status;
        |t | join kind=inner (dim) on $left.id == $right.ref_id
        | | project id, ref_id, tag | order by id asc""".stripMargin
    val out = run(q)
    assert(out.columns.toSeq == Seq("id", "ref_id", "tag"))
    assert(out.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      (1L to 5L).map(i => (i, i)))
    // duplicate non-key names from the right side get the Kusto '1' suffix
    val dup = run(
      """let dim = t | project ref_id = id, status;
        |t | join kind=inner (dim) on $left.id == $right.ref_id""".stripMargin)
    assert(dup.columns.count(_ == "status") == 1 && dup.columns.contains("status1"))
    // anti join via the explicit form
    val anti = run(
      """let dim = t | where value > 50 | project ref_id = id;
        |t | join kind=leftanti (dim) on $left.id == $right.ref_id
        | | project id | order by id asc""".stripMargin)
    assert(anti.collect().map(_.getLong(0)).toSeq == Seq(1L, 4L))
    // reversed side order parses too
    assert(run(
      """let dim = t | project ref_id = id;
        |t | join kind=inner (dim) on $right.ref_id == $left.id""".stripMargin)
      .count() == 5)
  }

  test("evaluate dcount_intersect + isfinite/set_has_element strays") {
    def runS(kql: String) =
      KqlCompiler.compile(kql, _ => df, java.time.Instant.EPOCH, spark)
    // two overlapping small sets: sketches are exact in sparse mode
    val r = runS(
      """datatable(g: long, v: long, grp: long)[
        |  1, 1, 0,  1, 2, 0,  1, 3, 0,
        |  1, 2, 1,  1, 3, 1,  1, 4, 1]
        | | summarize h0 = hll(iff(grp == 0, v, long(null))),
        |             h1 = hll(iff(grp == 1, v, long(null))) by g
        | | evaluate dcount_intersect(h0, h1)""".stripMargin).collect().head
    assert(r.getLong(1) == 3L && r.getLong(2) == 2L) // |A|=3, |A∩B|={2,3}=2
    val s = run(
      """t | where id == 1
        | | project a = isfinite(1.5), b = isfinite(real(null)),
        |           c = set_has_element(pack_array(1, 2, 3), 2),
        |           d = set_has_element(pack_array(1, 2, 3), 9)""".stripMargin)
      .collect().head
    assert(s.getBoolean(0) && !s.getBoolean(1) && s.getBoolean(2) && !s.getBoolean(3))
  }

  test("row_window_session: idle timeout, max duration, restart, keyed via partition") {
    import spark.implicits._
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(min: Int) = new java.sql.Timestamp(base.getTime + min * 60000L)
    val t = Seq(
      (1L, "a", ts(0)), (2L, "a", ts(3)), (3L, "a", ts(6)),
      (4L, "a", ts(20)), (5L, "a", ts(25)), (6L, "a", ts(70)),
      (7L, "b", ts(0)), (8L, "b", ts(8)), (9L, "b", ts(16)), (10L, "b", ts(24)))
      .toDF("id", "k", "ts")
    def runT(kql: String) = KqlCompiler.compile(kql, _ => t)
    def mins(kql: String): Seq[Long] =
      runT(kql).orderBy("id").collect()
        .map(r => (r.getTimestamp(1).getTime - base.getTime) / 60000L).toSeq
    // idle 10m splits at the 14m and 45m gaps
    assert(mins("""t | where k == 'a' | order by id asc
                  | | extend s = row_window_session(ts, 30m, 10m) | project id, s""".stripMargin)
      == Seq(0L, 0L, 0L, 20L, 20L, 70L))
    // max duration 20m forces a split at minute 24 even with small gaps
    assert(mins("""t | where k == 'b' | order by id asc
                  | | extend s = row_window_session(ts, 20m, 10m) | project id, s""".stripMargin)
      == Seq(0L, 0L, 0L, 24L))
    // restart condition opens a session mid-stream
    assert(mins("""t | where k == 'a' | order by id asc
                  | | extend s = row_window_session(ts, 30m, 10m, id == 3) | project id, s""".stripMargin)
      == Seq(0L, 0L, 6L, 20L, 20L, 70L))
    // keyed: per-key state, b never splits at 30m/10m
    assert(mins("""t | order by id asc
                  | | partition by k ( extend s = row_window_session(ts, 30m, 10m) )
                  | | project id, s""".stripMargin)
      == Seq(0L, 0L, 0L, 20L, 20L, 70L, 0L, 0L, 0L, 0L))
    // serialize-class guards: order required; unkeyed warns
    assert(intercept[KqlParseException](
      runT("t | extend s = row_window_session(ts, 30m, 10m)"))
      .getMessage.contains("order by"))
  }

  test("around, ipv4_netmask_suffix, infer_storage_schema, schema_merge") {
    import spark.implicits._
    val t = Seq((1L, 95.0, "10.1.2.3/24"), (2L, 120.0, "10.1.2.3"),
                (3L, 80.0, "999.1.2.3/xx")).toDF("id", "v", "ip")
    def run1(kql: String) = KqlCompiler.compile(kql, _ => t)
    // around: numeric tolerance
    assert(run1("t | where around(v, 100.0, 10.0) | project id").collect().map(_.getLong(0)).toSeq
      == Seq(1L))
    // around: datetime + timespan delta
    val d = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00")),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 13:00:00"))).toDF("id", "ts")
    assert(KqlCompiler.compile(
        "d | where around(ts, datetime(2024-01-01T11:00:00), 90m) | project id", _ => d)
      .collect().map(_.getLong(0)).toSeq == Seq(1L))
    // Kusto's space form survives the whitespace-dropping lexer
    assert(KqlCompiler.compile(
        "d | where around(ts, datetime(2024-01-01 11:00:00), 90m) | project id", _ => d)
      .collect().map(_.getLong(0)).toSeq == Seq(1L))
    // ipv4_netmask_suffix: explicit, defaulted, malformed
    val sfx = run1("t | extend s = ipv4_netmask_suffix(ip) | project id, s | order by id asc")
      .collect().map(r => if (r.isNullAt(1)) -1L else r.getLong(1))
    assert(sfx.toSeq == Seq(24L, 32L, -1L))
    // infer_storage_schema over a headered CSV
    val f = java.nio.file.Files.createTempFile("graft_infer", ".csv")
    java.nio.file.Files.writeString(f, "id,name,score\n1,a,2.5\n2,b,3.0\n")
    val cs = KqlCompiler.compile(
      s"infer_storage_schema('${f.toAbsolutePath}', 'csv', true)",
      n => throw new IllegalArgumentException(n), java.time.Instant.now(), spark)
      .collect().head.getString(0)
    assert(cs == "id:int, name:string, score:real", cs)
    // schema_merge: agreeing columns keep types, conflicts are loud
    val t2 = Seq((1L, "x")).toDF("id", "extra")
    val merged = KqlCompiler.compile(
      """t | getschema | union (t2 | getschema) | evaluate schema_merge()
        | | order by ColumnOrdinal asc, ColumnName asc""".stripMargin,
      n => if (n == "t") t else t2)
      .collect().map(r => (r.getString(0), r.getString(2)))
    assert(merged.toSeq == Seq(("id", "bigint"), ("extra", "string"),
      ("v", "double"), ("ip", "string")))
  }

  test("summarize hints: shufflekey pre-partitions, unknown hints warn") {
    import spark.implicits._
    val t = Seq((1L, "a", 2.0), (1L, "b", 3.0), (2L, "a", 4.0)).toDF("k", "g", "v")
    val r = KqlCompiler.compile(
      """t | summarize hint.shufflekey=k hint.strategy=shuffle s = sum(v) by k, g
        | | order by k asc, g asc""".stripMargin, _ => t)
    assert(r.collect().map(x => (x.getLong(0), x.getString(1), x.getDouble(2))).toSeq
      == Seq((1L, "a", 2.0), (1L, "b", 3.0), (2L, "a", 4.0)))
    // the hinted plan repartitions on k and adds no second exchange for the agg
    val plan = r.queryExecution.executedPlan.toString
    assert(plan.contains("hashpartitioning(k"), plan.take(400))
    val (_, ws) = KqlCompiler.compileWithWarnings(
      "t | summarize hint.num_partitions=4 s = sum(v) by k", _ => t)
    assert(ws.exists(_.contains("num_partitions")))
  }

  test("evaluate preview: two result tables (sample + count) via compileMulti") {
    import spark.implicits._
    val t = (1L to 10L).map(i => (i, s"v$i")).toDF("id", "v")
    val multi = KqlCompiler.compileMulti("t | evaluate preview(3)", _ => t)
    assert(multi.map(_._1) == Seq("preview", "preview_count"))
    assert(multi.head._2.count() == 3)
    assert(multi(1)._2.collect().head.getLong(0) == 10L)
    // single-frame compile returns the sample leg
    assert(KqlCompiler.compile("t | evaluate preview(4)", _ => t).count() == 4)
  }

  test("externaldata: csv header skip, tsv, json, declared-schema binding") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ext").toFile
    def compileExt(kql: String) =
      KqlCompiler.compile(kql, n => throw new IllegalArgumentException(n),
        java.time.Instant.now(), spark)
    val csv = new java.io.File(dir, "a.csv")
    java.nio.file.Files.writeString(csv.toPath, "id,name\n1,alpha\n2,beta\n")
    val r1 = compileExt(
      s"""externaldata (id:long, name:string) ['${csv.getAbsolutePath}']
         | with (format='csv', ignoreFirstRecord=true)
         | | order by id asc""".stripMargin).collect()
    assert(r1.map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((1L, "alpha"), (2L, "beta")))
    val tsv = new java.io.File(dir, "b.tsv")
    java.nio.file.Files.writeString(tsv.toPath, "3\t2.5\n4\t-1.0\n")
    val r2 = compileExt(
      s"""externaldata (k:long, v:real) ['${tsv.getAbsolutePath}'] with (format='tsv')
         | | summarize s = sum(v), n = count()""".stripMargin).collect().head
    assert(r2.getDouble(0) == 1.5 && r2.getLong(1) == 2L)
    val json = new java.io.File(dir, "c.json")
    java.nio.file.Files.writeString(json.toPath,
      """{"x": 10, "ok": true}""" + "\n" + """{"x": 20, "ok": false}""" + "\n")
    val r3 = compileExt(
      s"""externaldata (x:long, ok:bool) ['${json.getAbsolutePath}'] with (format='multijson')
         | | where ok | project x""".stripMargin).collect()
    assert(r3.map(_.getLong(0)).toSeq == Seq(10L))
    assert(intercept[KqlParseException](compileExt(
      "externaldata (a:long) ['/tmp/x'] with (format='xml')"))
      .getMessage.contains("format"))
  }

  test("scalar ring 12: set/bin_auto, hash_combine/many, bag_zip, gettype, column_ifexists") {
    import spark.implicits._
    val t = Seq((1L, "a", 2.5, 17L), (2L, "b", 10.0, 42L)).toDF("id", "s", "v", "u")
    def run1(kql: String) = KqlCompiler.compile(kql, _ => t)
    // bin_auto numeric form: width 3, aligned at 1
    val ba = run1("""set query_bin_auto_size = 3;
                    |set query_bin_auto_at = 1;
                    |t | extend b = bin_auto(u) | project id, b | order by id asc""".stripMargin)
      .collect().map(_.get(1))
    assert(ba.toSeq == Seq(16L, 40L)) // 17→16 (1+3k), 42→40
    // bin_auto without the size property is a loud error
    assert(intercept[KqlParseException](run1("t | extend b = bin_auto(u)"))
      .getMessage.contains("query_bin_auto_size"))
    // unknown set property: accepted and warned, not an error
    val (_, ws) = KqlCompiler.compileWithWarnings(
      "set notruncation = 1;\nt | project id", _ => t)
    assert(ws.exists(_.contains("notruncation")))
    // hash_combine: order-sensitive, deterministic; hash_many != either input hash
    val h = run1("""t | extend a = hash_combine(hash(s), hash(u)),
                   |           b = hash_combine(hash(u), hash(s)),
                   |           m = hash_many(s, u)
                   | | project a, b, m | order by a asc""".stripMargin).collect()
    assert(h.forall(r => r.getLong(0) != r.getLong(1)))
    assert(h.map(_.getLong(0)).distinct.length == 2)
    // bag_zip: truncates to the shorter array, stringifies keys
    val bz = run1("""t | where id == 1
                    | | extend z = bag_zip(pack_array('x', 'y', 'orphan'), pack_array(u, v))
                    | | project z""".stripMargin).collect().head.getString(0)
    assert(bz == """{"x":17.0,"y":2.5}""")
    // gettype: schema-resolved names incl. the bool→int8 legacy quirk
    val g = run1("""t | extend a = gettype(u), b = gettype(v), c = gettype(s),
                   |           d = gettype(v > 0), e = gettype(pack_array(u))
                   | | project a, b, c, d, e | take 1""".stripMargin).collect().head
    assert(g.toSeq == Seq("long", "real", "string", "int8", "array"))
    // column_ifexists: present column binds, absent falls back
    val ce = run1("""t | extend w = column_ifexists('v', -1.0), q = column_ifexists('nope', -1.0)
                    | | project w, q | order by w asc""".stripMargin).collect()
    assert(ce.map(r => (r.getDouble(0), r.getDouble(1))).toSeq == Seq((2.5, -1.0), (10.0, -1.0)))
    // pack_dictionary aliases pack
    val pd = run1("""t | where id == 2 | extend p = pack_dictionary('k', s) | project p""")
      .collect().head.getString(0)
    assert(pd == """{"k":"b"}""")
  }

  test("rows_near: asymmetric context windows, keyed + global, guards") {
    import spark.implicits._
    // hand-traced: ids in order; condition rows marked x
    //   k=a: 1 2 3x 4 5 6 7x 8    before=1, after=2
    //        keep: 2 (1-before of 3), 3, 4, 5 (2-after of 3), 6 (1-before
    //        of 7), 7, 8 (1-after of 7)   → drop only 1
    //   k=b: 9 10 11  (no condition row) → drop all
    val t = Seq(
      (1L, "a", false), (2L, "a", false), (3L, "a", true), (4L, "a", false),
      (5L, "a", false), (6L, "a", false), (7L, "a", true), (8L, "a", false),
      (9L, "b", false), (10L, "b", false), (11L, "b", false))
      .toDF("id", "k", "hit")
    def ids(kql: String): Seq[Long] =
      KqlCompiler.compile(kql, _ => t).orderBy("id").collect().map(_.getLong(0)).toSeq
    assert(ids("""t | order by id asc
                 | | evaluate rows_near(hit, 1, 2) by k | project id""".stripMargin)
      == Seq(2L, 3L, 4L, 5L, 6L, 7L, 8L))
    // symmetric default: RowsAfter omitted = NumRows; window 1 each way
    assert(ids("""t | order by id asc
                 | | evaluate rows_near(hit, 1) by k | project id""".stripMargin)
      == Seq(2L, 3L, 4L, 6L, 7L, 8L))
    // global (unkeyed): id 8 and 9 are now neighbors across keys
    assert(ids("""t | order by id asc
                 | | evaluate rows_near(hit, 1, 2) | project id""".stripMargin)
      == Seq(2L, 3L, 4L, 5L, 6L, 7L, 8L, 9L))
    // NumRows=0: condition rows plus RowsAfter following only
    assert(ids("""t | order by id asc
                 | | evaluate rows_near(hit, 0, 1) by k | project id""".stripMargin)
      == Seq(3L, 4L, 7L, 8L))
    // serialized-operator guard: order by required
    assert(intercept[KqlParseException](
      KqlCompiler.compile("t | evaluate rows_near(hit, 1) by k", _ => t))
      .getMessage.contains("order by"))
  }

  test("scan state refs: single-step non-additive assignment runs the stateful machine") {
    // s = s * 2 used to be a loud error; the general machine evaluates it
    // against live state (default 0 → stays 0 on every consumed row)
    val doubled = run(
      """t | order by id asc
        | | scan declare (s:long = 0) with (step s1: value > 0 => s = s * 2;)
        | | project id, s""".stripMargin).collect()
    assert(doubled.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 0L), (2L, 0L), (3L, 0L), (4L, 0L), (5L, 0L)))
    // running max via iff — the canonical non-additive accumulator,
    // step-qualified (s1.mx) and seeded from the declared default
    val mx = run(
      """t | order by id asc
        | | scan declare (mx:real = 0.0) with (
        |     step s1: true => mx = iff(value > s1.mx, value, s1.mx);
        |   )
        | | project id, mx""".stripMargin).collect()
    assert(mx.map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      Seq((1L, 10.0), (2L, 55.0), (3L, 95.0), (4L, 95.0), (5L, 95.0)))
    // the bare form is shorthand for step-1 state in a single-step scan
    val bare = run(
      """t | order by id asc
        | | scan declare (mx:real = 0.0) with (
        |     step s1: true => mx = iff(value > mx, value, mx);
        |   )
        | | project id, mx""".stripMargin).collect()
    assert(bare.map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      mx.map(r => (r.getLong(0), r.getDouble(1))).toSeq)
  }

  test("scan state refs: step-state captures drive promote/extend/retire") {
    // s2's predicate reads the record s1 last consumed (greedy extends
    // keep updating it); promotion into the last step emits and retires,
    // and a retired step's state reads as NULL (row 5 matches nothing)
    val out = runG2(
      """let E = datatable(id:long, ev:string, val:real)[
        |  1, 'start', 10.0, 2, 'start', 20.0, 3, 'stop', 15.0,
        |  4, 'stop', 25.0, 5, 'stop', 30.0, 6, 'start', 5.0, 7, 'stop', 6.0];
        | E | order by id asc
        | | scan with_match_id=m declare (v0:real = 0.0) with (
        |     step s1: ev == 'start' => v0 = val;
        |     step s2: ev == 'stop' and val > s1.val;
        |   )
        | | project id, v0, m""".stripMargin).collect()
    assert(out.map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq ==
      Seq((1L, 10.0, 1L), (2L, 20.0, 1L), (4L, 20.0, 1L), (6L, 5.0, 2L), (7L, 5.0, 2L)))
  }

  test("scan state refs: deltas carry through declared vars; completion assignments see the moved state") {
    val out = runG2(
      """let E = datatable(id:long, ev:string, val:real)[
        |  1, 'start', 10.0, 2, 'stop', 25.0, 3, 'stop', 99.0];
        | E | order by id asc
        | | scan declare (t0:real = 0.0, gap:real = -1.0) with (
        |     step s1: ev == 'start' => t0 = val;
        |     step s2: ev == 'stop' => gap = val - s2.t0;
        |   )
        | | project id, t0, gap""".stripMargin).collect()
    // row1 starts (t0=10, gap default −1); row2 promotes into s2 — its
    // assignment resolves against the POST-move state (t0 carried with
    // the sequence), gap = 25−10; row3 has no sequence to join → no match
    assert(out.map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq ==
      Seq((1L, 10.0, -1.0), (2L, 10.0, 15.0)))
  }

  test("scan state refs: empty-state predicates are three-valued; assignment lists commit atomically") {
    // s1.s against an EMPTY state is NULL → the predicate never passes,
    // no sequence ever starts
    assert(run(
      """t | order by id asc
        | | scan declare (s:long = 0) with (step s1: s < 3;)""".stripMargin).count() == 0)
    // all RHS evaluate against pre-commit declared values: b reads a's
    // PRE-update value even though a commits in the same list
    val out = run(
      """t | order by id asc
        | | scan declare (a:real = -1.0, b:real = -2.0) with (
        |     step s1: true => a = value, b = s1.a;
        |   )
        | | project id, a, b""".stripMargin).collect()
    assert(out.map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq ==
      Seq((1L, 10.0, -1.0), (2L, 55.0, 10.0), (3L, 95.0, 55.0),
          (4L, 20.0, 95.0), (5L, 70.0, 20.0)))
  }

  test("scan state refs: single-step output=last keeps the final state row") {
    val out = run(
      """t | order by id asc
        | | scan declare (mx:real = 0.0) with (
        |     step s1 output=last: true => mx = iff(value > s1.mx, value, s1.mx);
        |   )
        | | project id, mx""".stripMargin).collect()
    assert(out.map(r => (r.getLong(0), r.getDouble(1))).toSeq == Seq((5L, 95.0)))
  }

  test("scan state refs: partition by runs the stateful machine per key") {
    val out = run(
      """t | order by id asc
        | | partition by name ( scan declare (mx: real = 0.0) with (
        |     step s1: true => mx = iff(value > s1.mx, value, s1.mx);
        |   ) )
        | | project id, mx | order by id asc""".stripMargin).collect()
    // per-name running max: alpha 10→95, beta 55→70, gamma 20
    assert(out.map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      Seq((1L, 10.0), (2L, 55.0), (3L, 95.0), (4L, 20.0), (5L, 70.0)))
  }

  test("scan state refs: multi-step bare refs, naked step names, unknown fields stay loud") {
    assert(intercept[KqlParseException](run(
      """t | order by id asc
        | | scan declare (s:long = 0) with (
        |     step s1: value > 0 => s = s + 1;
        |     step s2: value > 50;
        |   )""".stripMargin)).getMessage.contains("qualify"))
    assert(intercept[KqlParseException](run(
      """t | order by id asc
        | | scan with (
        |     step s1: value > 0;
        |     step s2: strlen(tostring(s1)) > 0;
        |   )""".stripMargin)).getMessage.contains("field"))
    assert(intercept[KqlParseException](run(
      """t | order by id asc
        | | scan with (
        |     step s1: value > 0;
        |     step s2: s1.nonexistent > 0;
        |   )""".stripMargin)).getMessage.contains("no field"))
  }
}
