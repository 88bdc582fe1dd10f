package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The Kafka source of the streaming ingestor.
  *
  * [[fromKafka]] is the production wiring of S1
  * (ref: build_consumer, src/scicat_kafka.py:54-71): bootstrap +
  * subscribe + security options map 1:1 onto the Kafka source options;
  * commit policy is replaced by checkpointing (§2.7). Untestable in this
  * offline environment (no broker) but identical downstream: every
  * transform in [[IngestStream]] consumes any DataFrame with a binary
  * `value` column.
  */
object StreamSources {

  /** S1 option plumbing as a PURE function — the reference's consumer
    * flattening (`collect_consumer_options`, src/scicat_kafka.py:21-51
    * + `collect_kafka_topics` :44-51) re-expressed for Spark's Kafka
    * source so the EXACT map `format("kafka")` receives is spec-pinned
    * even without a broker (this sandbox ships no kafka jars). Rules,
    * each from the reference or a documented Spark-source constraint:
    *  - snake_case keys → dot.case, empty values dropped;
    *  - bootstrap servers (list or one string) → comma-joined;
    *  - topics (list or comma string) → the `subscribe` option;
    *  - commit policy (`individual_message_commit`,
    *    `enable_auto_commit`) is DROPPED, not forwarded: the source
    *    rejects `kafka.enable.auto.commit` — offset progress lives in
    *    the checkpoint (§2.7 delivery; the reference's per-message
    *    commit maps to checkpoint-after-batch + F6 dedup);
    *  - `auto_offset_reset` is TRANSLATED to `startingOffsets` (the
    *    source rejects `kafka.auto.offset.reset`);
    *  - confluent's `sasl_username`/`sasl_password` pair becomes the
    *    Java client's single `kafka.sasl.jaas.config` login-module
    *    line (SCRAM mechanisms → ScramLoginModule, else
    *    PlainLoginModule);
    *  - everything else (`security.protocol`, `sasl.mechanism`,
    *    `ssl.ca.location`, `group.id`, …) passes through under the
    *    `kafka.` prefix the source strips for its consumer. */
  def kafkaSourceOptions(
      bootstrapServers: Seq[String],
      topics: Seq[String],
      consumerOptions: Map[String, String] = Map.empty,
      maxOffsetsPerTrigger: Option[Long] = None): Map[String, String] = {
    // deterministic precedence when dotted and snake variants of the
    // same key are both present: sorted order makes snake_case ('_' >
    // '.') win, always — never hash-iteration luck
    val norm = consumerOptions.toSeq.sortBy(_._1)
      .map { case (k, v) => k.replace('.', '_') -> v }.toMap
    // structurally handled or checkpoint-replaced — never forwarded
    val dropped = Set("topics", "bootstrap_servers",
      "individual_message_commit", "enable_auto_commit",
      "auto_offset_reset", "sasl_username", "sasl_password")
    val passthrough = norm.collect {
      case (k, v) if v.nonEmpty && !dropped(k) =>
        s"kafka.${k.replace('_', '.')}" -> v
    }
    // JAAS values are quoted strings: escape backslash + quote so a
    // generated secret containing either (or a semicolon, inert once
    // quoted) cannot break the parser or inject module options
    def jaasQuote(v: String): String =
      "\"" + v.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val jaas = (norm.get("sasl_username").filter(_.nonEmpty),
        norm.get("sasl_password").filter(_.nonEmpty)) match {
      case (Some(u), Some(p)) =>
        val module =
          if (norm.getOrElse("sasl_mechanism", "").toUpperCase.startsWith("SCRAM"))
            "org.apache.kafka.common.security.scram.ScramLoginModule"
          else "org.apache.kafka.common.security.plain.PlainLoginModule"
        Map("kafka.sasl.jaas.config" ->
          s"$module required username=${jaasQuote(u)} password=${jaasQuote(p)};")
      case _ => Map.empty[String, String]
    }
    Map(
      "kafka.bootstrap.servers" -> bootstrapServers.mkString(","),
      "subscribe" -> topics.mkString(","),
      // the source accepts only earliest/latest (or offset JSON); the
      // value is TRIMMED first ("latest " must mean latest, not a
      // silent full-topic reprocess), then "none"/empties/typos fall
      // back to the reference default — with a warning, because a
      // silent earliest fallback on a typo re-ingests the whole topic
      (norm.get("auto_offset_reset").map(_.trim) match {
        case Some(v @ ("earliest" | "latest")) => "startingOffsets" -> v
        case Some(other) =>
          org.apache.log4j.Logger.getLogger(getClass).warn(
            s"unrecognized auto_offset_reset '$other': falling back to 'earliest' " +
              "(full-topic reprocess); use 'earliest' or 'latest'")
          "startingOffsets" -> "earliest"
        case None => "startingOffsets" -> "earliest"
      })) ++
      passthrough ++ jaas ++
      maxOffsetsPerTrigger.map(n => "maxOffsetsPerTrigger" -> n.toString) // A8
  }

  def fromKafka(
      spark: SparkSession,
      bootstrapServers: String,
      topics: Seq[String],
      securityOptions: Map[String, String] = Map.empty,
      maxOffsetsPerTrigger: Option[Long] = None): DataFrame =
    spark.readStream.format("kafka")
      .options(kafkaSourceOptions(
        Seq(bootstrapServers), topics, securityOptions, maxOffsetsPerTrigger))
      .load()
}
