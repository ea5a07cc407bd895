package graft.sink

/** One Kafka record header. The Spark Kafka source exposes headers as
  * `array<struct<key:string,value:binary>>` when `includeHeaders=true`;
  * this is the per-record carrier once rows leave Catalyst (Connect's
  * `SinkRecord` carries the same key/bytes pairs). */
final case class RecordHeader(key: String, value: Array[Byte]) {
  def valueString: String =
    if (value == null) "" else new String(value, java.nio.charset.StandardCharsets.UTF_8)
}

/** The engine's record unit inside the sink stage — the Spark Kafka
  * source's row shape (key/value binary + coordinates + headers), carried
  * as a case class once rows leave Catalyst and enter per-partition file
  * IO.
  *
  * Upstream of the sink stage everything is a DataFrame: struct→JSON/CSV
  * encoding happens declaratively with `to_json`/`to_csv` (codegen'd), so
  * by the time a record reaches a staging file its `value` is the final
  * wire bytes. A `null` value is a tombstone
  * (reference: KustoSinkTask.java:510-513 drops them before writing).
  * Headers ride along for routing/enrichment and DLQ forensics — the
  * Connect `SinkRecord` the reference consumes carries them the same way.
  */
final case class SinkRecord(
    topic: String,
    partition: Int,
    offset: Long,
    key: Array[Byte],
    value: Array[Byte],
    headers: Seq[RecordHeader] = Nil) {
  /** ` headers=[k=v, ...]` segment for DLQ metadata keys (empty when the
    * record has none). Values rendered UTF-8 — Kafka headers are
    * overwhelmingly string-valued and the DLQ key is a forensic field. */
  def headersDescription: String =
    if (headers.isEmpty) ""
    else headers.map(h => s"${h.key}=${h.valueString}").mkString(" headers=[", ", ", "]")
}
