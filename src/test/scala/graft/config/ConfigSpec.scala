package graft.config

import graft.ingest.RetryPolicy
import org.scalatest.funsuite.AnyFunSuite

/** Mirrors the reference's config-layer tests:
  * KustoSinkConnectorConfigTest.java, KustoEndpointUrlValidatorTest.java,
  * KustoSinkTaskTest.java:105-163 (mapping lookup incl. wildcard).
  */
class ConfigSpec extends AnyFunSuite {
  private def mapping(topic: String = "t1", db: String = "db1", table: String = "tbl1") =
    TableMapping(topic, db, table)

  test("valid identifiers pass: alphanumerics, underscore, hyphen, dot") {
    mapping(db = "my_db-2.x", table = "Tab.le-1").validated
  }

  test("KQL metacharacters in identifiers are rejected") {
    for (bad <- Seq("db;drop", "d'b", "d|b", "db table", "db\"x", "t`bl", "")) {
      assertThrows[SinkConfigException](mapping(db = if (bad.isEmpty) "" else bad).validated)
    }
    assertThrows[SinkConfigException](mapping(table = "tbl;--").validated)
    assertThrows[SinkConfigException](
      TableMapping("t", "db", "tbl", mapping = Some("m;evil")).validated)
  }

  test("format must be alphanumeric only") {
    TableMapping("t", "db", "tbl", format = "multijson").validated
    assertThrows[SinkConfigException](TableMapping("t", "db", "tbl", format = "js;on").validated)
    assertThrows[SinkConfigException](TableMapping("t", "db", "tbl", format = "a-b").validated)
  }

  test("missing topic/db/table rejected") {
    assertThrows[SinkConfigException](TableMapping("", "db", "tbl").validated)
    assertThrows[SinkConfigException](TableMapping("t", "", "tbl").validated)
    assertThrows[SinkConfigException](TableMapping("t", "db", "").validated)
  }

  test("parseList accepts single-quoted JSON (connector config style)") {
    val ms = TableMapping.parseList(
      "[{'topic': 'tA', 'db': 'db1', 'table': 'x', 'format': 'json', 'mapping': 'Map1', 'streaming': true}," +
        "{'topic': '*', 'db': 'db1', 'table': 'fallback'}]")
    assert(ms.size == 2)
    assert(ms.head == TableMapping("tA", "db1", "x", "json", Some("Map1"), streaming = true))
    assert(ms(1).topic == "*" && ms(1).format == "json" && !ms(1).streaming)
  }

  test("parseList rejects malformed JSON and non-arrays") {
    assertThrows[SinkConfigException](TableMapping.parseList("{'topic':'t'}"))
    assertThrows[SinkConfigException](TableMapping.parseList("not json"))
  }

  test("router: exact match wins, then wildcard, else None") {
    val r = new MappingRouter(Seq(
      TableMapping("tA", "db", "exact"), TableMapping("*", "db", "fallback")))
    assert(r.lookup("tA").get.table == "exact")
    assert(r.lookup("anything.else").get.table == "fallback")
    val noWild = new MappingRouter(Seq(TableMapping("tA", "db", "exact")))
    assert(noWild.lookup("tB").isEmpty)
    assertThrows[SinkConfigException](noWild("tB"))
  }

  test("endpoint validator: trusted clouds pass, with and without scheme") {
    for (u <- Seq(
        "https://mycluster.kusto.windows.net",
        "mycluster.westus2.kusto.windows.net",
        "https://ingest-mycluster.kusto.windows.net",
        "https://mycluster.kusto.chinacloudapi.cn",
        "https://mycluster.kusto.usgovcloudapi.net",
        "https://x.kusto.fabric.microsoft.com",
        "https://pool.sql.azuresynapse.net.kusto.azuresynapse.net"))
      assert(EndpointValidator.validate(u, "k").startsWith("https://"))
    // scheme auto-prefix
    assert(EndpointValidator.validate("c.kusto.windows.net", "k") == "https://c.kusto.windows.net")
  }

  test("endpoint validator: http, unknown hosts, suffix spoofs rejected") {
    assertThrows[SinkConfigException](EndpointValidator.validate("http://c.kusto.windows.net", "k"))
    assertThrows[SinkConfigException](EndpointValidator.validate("https://evil.example.com", "k"))
    // no dot boundary: evilkusto.windows.net must NOT match .kusto.windows.net
    assertThrows[SinkConfigException](EndpointValidator.validate("https://evilkusto.windows.net", "k"))
    assertThrows[SinkConfigException](EndpointValidator.validate("https://kusto.windows.net.evil.com", "k"))
    assertThrows[SinkConfigException](EndpointValidator.validate("https://169.254.169.254", "k"))
  }

  test("endpoint validator: blank passes (optional config)") {
    assert(EndpointValidator.validate("", "k") == "")
    assert(EndpointValidator.validate(null, "k") == null)
  }

  test("config defaults and retry-attempt math (300s/10s => 31 attempts)") {
    val c = SinkConfig(mappings = Seq(mapping()))
    assert(c.flushSizeBytes == 1024 * 1024)
    assert(c.flushIntervalMs == 30000)
    assert(RetryPolicy(c.maxRetryTimeMs, c.retryBackoffMs).maxAttempts == 31)
    assert(c.behaviorOnError == ErrorBehavior.Fail)
    assert(!c.dlqEnabled)
  }

  test("flush bounds enforced: size >= 100B, interval 0 or >= 100ms") {
    assertThrows[SinkConfigException](SinkConfig(Seq(mapping()), flushSizeBytes = 50))
    assertThrows[SinkConfigException](SinkConfig(Seq(mapping()), flushIntervalMs = 50))
    SinkConfig(Seq(mapping()), flushIntervalMs = 0) // per-record roll is legal
    SinkConfig(Seq(mapping()), flushSizeBytes = 100, flushIntervalMs = 100)
  }

  test("fromProps parses the connector property surface") {
    val c = SinkConfig.fromProps(Map(
      "kusto.tables.topics.mapping" -> "[{'topic':'t','db':'d','table':'x'}]",
      "kusto.ingestion.url" -> "ingest-c.kusto.windows.net",
      "flush.size.bytes" -> "4096",
      "flush.interval.ms" -> "1000",
      "errors.retry.max.time.ms" -> "60000",
      "errors.retry.backoff.time.ms" -> "5000",
      "behavior.on.error" -> "LOG",
      "misc.deadletterqueue.topic.name" -> "dlq",
      "misc.deadletterqueue.bootstrap.servers" -> "k1:9092, k2:9092",
      "misc.deadletterqueue.security.protocol" -> "SASL_SSL",
      "misc.deadletterqueue.sasl.mechanism" -> "PLAIN",
      "kusto.validation.table.enable" -> "true"))
    assert(c.flushSizeBytes == 4096 && RetryPolicy(c.maxRetryTimeMs, c.retryBackoffMs).maxAttempts == 13)
    assert(c.behaviorOnError == ErrorBehavior.Log && c.dlqEnabled)
    assert(c.dlqBootstrapServers == Seq("k1:9092", "k2:9092"))
    assert(c.enableTableValidation)
    // security props ride to the DLQ producer; forced keys win
    val p = c.dlqProducerProps
    assert(p("security.protocol") == "SASL_SSL" && p("sasl.mechanism") == "PLAIN")
    assert(p("bootstrap.servers") == "k1:9092,k2:9092")
    assert(p("key.serializer").endsWith("ByteArraySerializer"))
    assertThrows[SinkConfigException](SinkConfig.fromProps(Map.empty))
    assertThrows[SinkConfigException](SinkConfig.fromProps(Map(
      "kusto.tables.topics.mapping" -> "[{'topic':'t','db':'d','table':'x'}]",
      "behavior.on.error" -> "EXPLODE")))
  }

  test("DLQ needs BOTH topic and bootstrap servers; validation flag must be boolean") {
    val base = Map("kusto.tables.topics.mapping" -> "[{'topic':'t','db':'d','table':'x'}]")
    // topic without servers / servers without topic: loud config error
    assertThrows[SinkConfigException](SinkConfig.fromProps(
      base + ("misc.deadletterqueue.topic.name" -> "dlq")))
    assertThrows[SinkConfigException](SinkConfig.fromProps(
      base + ("misc.deadletterqueue.bootstrap.servers" -> "k:9092")))
    // neither: DLQ disabled, no error
    assert(!SinkConfig.fromProps(base).dlqEnabled)
    assert(!SinkConfig.fromProps(base).enableTableValidation) // default off
    assertThrows[SinkConfigException](SinkConfig.fromProps(
      base + ("kusto.validation.table.enable" -> "yes")))
    // programmatic API: DLQ via injected factory is fine, but asking for
    // connector-style producer props without servers fails fast
    val prog = SinkConfig(Seq(mapping()), dlqTopic = Some("dlq"))
    assert(prog.dlqEnabled)
    assertThrows[SinkConfigException](prog.dlqProducerProps)
  }
}
