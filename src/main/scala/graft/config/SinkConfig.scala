package graft.config

/** What to do when a record/batch fails permanently.
  * (reference: KustoSinkConfig.java:487-501 BehaviorOnError)
  */
sealed trait ErrorBehavior
object ErrorBehavior {
  /** Throw — the micro-batch fails, offsets do not advance. */
  case object Fail extends ErrorBehavior
  /** Log the failure, send the records to the DLQ, continue. */
  case object Log extends ErrorBehavior
  /** Silently send to the DLQ, continue. */
  case object Ignore extends ErrorBehavior

  def parse(s: String): ErrorBehavior = s.trim.toUpperCase match {
    case "FAIL"   => Fail
    case "LOG"    => Log
    case "IGNORE" => Ignore
    case other    => throw new SinkConfigException(
      s"behavior.on.error must be one of FAIL|LOG|IGNORE, got '$other'")
  }
}

/** Engine sink configuration. Field semantics and defaults follow the
  * reference connector's public config surface
  * (reference: KustoSinkConfig.java:152-376; defaults :239-260 flush,
  * :191-211 retry). The attempt math (:474-477) is
  * [[graft.ingest.RetryPolicy.maxAttempts]].
  *
  * All values are validated at construction — fail-fast before any
  * stream starts, mirroring the reference's config-time checks.
  */
final case class SinkConfig(
    mappings: Seq[TableMapping],
    ingestUrl: String = "",
    engineUrl: String = "",
    /** Roll a staged file once its UNCOMPRESSED size exceeds this. */
    flushSizeBytes: Long = SinkConfig.DefaultFlushSizeBytes,
    /** Roll a staged file this long after it was opened, even if small.
      * 0 ⇒ roll after every record. */
    flushIntervalMs: Long = SinkConfig.DefaultFlushIntervalMs,
    /** Total retry budget for a failed ingestion. */
    maxRetryTimeMs: Long = SinkConfig.DefaultMaxRetryTimeMs,
    /** Constant back-off between ingestion attempts. */
    retryBackoffMs: Long = SinkConfig.DefaultRetryBackoffMs,
    behaviorOnError: ErrorBehavior = ErrorBehavior.Fail,
    /** Dead-letter topic; None disables per-record retention + DLQ. */
    dlqTopic: Option[String] = None,
    /** DLQ producer bootstrap servers (connector surface; the
      * programmatic API may instead inject a DlqProducer factory).
      * (reference: KustoSinkConfig.java:38,448-456) */
    dlqBootstrapServers: Seq[String] = Nil,
    /** Extra `misc.deadletterqueue.*` producer properties, prefix
      * stripped — the security-prop passthrough (SASL/SSL settings ride
      * to the DLQ producer untouched).
      * (reference: KustoSinkConfig.java:45,464-472 getDlqProps) */
    dlqPassthroughProps: Map[String, String] = Map.empty,
    /** Opt-in startup table/mapping/permission validation (the
      * reference's `kusto.validation.table.enable`, default false).
      * (reference: KustoSinkConfig.java:44,327-336,483-485) */
    enableTableValidation: Boolean = false,
    tempDir: String = System.getProperty("java.io.tmpdir")) {

  require(mappings.nonEmpty, "at least one topic→table mapping is required")
  mappings.foreach(_.validated)
  if (flushSizeBytes < SinkConfig.MinFlushSizeBytes)
    throw new SinkConfigException(
      s"flush.size.bytes must be ≥ ${SinkConfig.MinFlushSizeBytes}, got $flushSizeBytes")
  if (flushIntervalMs != 0 && flushIntervalMs < SinkConfig.MinFlushIntervalMs)
    throw new SinkConfigException(
      s"flush.interval.ms must be 0 or ≥ ${SinkConfig.MinFlushIntervalMs}, got $flushIntervalMs")
  EndpointValidator.validate(ingestUrl, "kusto.ingestion.url")
  EndpointValidator.validate(engineUrl, "kusto.query.url")

  def dlqEnabled: Boolean = dlqTopic.exists(_.nonEmpty)

  /** The DLQ producer's full property set: passthrough props, then the
    * engine-forced keys — bootstrap servers and byte-array serializers
    * win over any passthrough value, exactly the reference's
    * getDlqProps layering (reference: KustoSinkConfig.java:464-472).
    * The programmatic API may enable the DLQ with an INJECTED producer
    * factory and no servers; asking for connector-style producer props
    * without servers is a config error HERE, fail-fast, not a
    * first-write ConfigException inside the Kafka producer. */
  def dlqProducerProps: Map[String, String] = {
    if (dlqBootstrapServers.isEmpty)
      throw new SinkConfigException(
        "DLQ producer properties need misc.deadletterqueue.bootstrap.servers " +
          "(or inject a DlqProducer factory instead)")
    dlqPassthroughProps ++ Map(
      "bootstrap.servers" -> dlqBootstrapServers.mkString(","),
      "key.serializer" -> "org.apache.kafka.common.serialization.ByteArraySerializer",
      "value.serializer" -> "org.apache.kafka.common.serialization.ByteArraySerializer")
  }

  val router: MappingRouter = new MappingRouter(mappings)
}

object SinkConfig {
  val DefaultFlushSizeBytes: Long = 1024L * 1024   // 1 MiB uncompressed
  val MinFlushSizeBytes: Long = 100
  val DefaultFlushIntervalMs: Long = 30000
  val MinFlushIntervalMs: Long = 100
  val DefaultMaxRetryTimeMs: Long = 300000
  val DefaultRetryBackoffMs: Long = 10000

  /** Build from a flat string-keyed properties map (connector-style). */
  def fromProps(props: Map[String, String]): SinkConfig = {
    def long(k: String, dflt: Long): Long =
      props.get(k).map { v =>
        try v.trim.toLong
        catch { case _: NumberFormatException =>
          throw new SinkConfigException(s"$k must be a long, got '$v'") }
      }.getOrElse(dflt)
    val mappingJson = props.getOrElse("kusto.tables.topics.mapping",
      throw new SinkConfigException("kusto.tables.topics.mapping is required"))
    def bool(k: String, dflt: Boolean): Boolean =
      props.get(k).map(_.trim.toLowerCase).map {
        case "true" => true
        case "false" => false
        case v => throw new SinkConfigException(s"$k must be true or false, got '$v'")
      }.getOrElse(dflt)
    // the connector DLQ needs BOTH the topic and the bootstrap servers;
    // configuring one without the other is a config error, not a silent
    // half-enable (reference: KustoSinkConfig.java:437-446 isDlqEnabled)
    val dlqTopicP = props.get("misc.deadletterqueue.topic.name").filter(_.nonEmpty)
    val dlqServersP = props.get("misc.deadletterqueue.bootstrap.servers")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    if (dlqTopicP.isDefined != dlqServersP.nonEmpty)
      throw new SinkConfigException(
        "to enable the dead-letter queue configure both " +
          "misc.deadletterqueue.bootstrap.servers and misc.deadletterqueue.topic.name")
    val dlqReserved = Set("misc.deadletterqueue.topic.name",
      "misc.deadletterqueue.bootstrap.servers")
    val dlqPass = props.collect {
      case (k, v) if k.startsWith("misc.deadletterqueue.") && !dlqReserved(k) =>
        k.stripPrefix("misc.deadletterqueue.") -> v
    }
    SinkConfig(
      mappings = TableMapping.parseList(mappingJson),
      ingestUrl = props.getOrElse("kusto.ingestion.url", ""),
      engineUrl = props.getOrElse("kusto.query.url", ""),
      flushSizeBytes = long("flush.size.bytes", DefaultFlushSizeBytes),
      flushIntervalMs = long("flush.interval.ms", DefaultFlushIntervalMs),
      maxRetryTimeMs = long("errors.retry.max.time.ms", DefaultMaxRetryTimeMs),
      retryBackoffMs = long("errors.retry.backoff.time.ms", DefaultRetryBackoffMs),
      behaviorOnError = ErrorBehavior.parse(props.getOrElse("behavior.on.error", "FAIL")),
      dlqTopic = dlqTopicP,
      dlqBootstrapServers = dlqServersP,
      dlqPassthroughProps = dlqPass,
      enableTableValidation = bool("kusto.validation.table.enable", dflt = false),
      tempDir = props.getOrElse("tempdir.path", System.getProperty("java.io.tmpdir")))
  }
}

/** Topic→mapping lookup: exact match first, then the `*` wildcard entry.
  * (reference: KustoSinkTask.java:334-340, tested KustoSinkTaskTest.java:125-144)
  */
final class MappingRouter(mappings: Seq[TableMapping]) extends Serializable {
  private val exact: Map[String, TableMapping] = mappings.map(m => m.topic -> m).toMap
  private val wildcard: Option[TableMapping] = exact.get("*")

  def lookup(topic: String): Option[TableMapping] =
    exact.get(topic).orElse(wildcard)

  /** Lookup that throws — for FAIL error-mode paths. */
  def apply(topic: String): TableMapping =
    lookup(topic).getOrElse(throw new SinkConfigException(
      s"Kusto table mapping is required for topic '$topic' (no exact or '*' wildcard entry)"))
}
