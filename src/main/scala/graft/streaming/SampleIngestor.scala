package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.config.{IngestLogging, IngestorConfig}

/** The sample-ingestor daemon (ref: src/scicat_sample_ingestor.py —
  * the reference's third entry point): pl72 run-start stream →
  * per-instrument get-or-create of samples in the catalog.
  *
  * §3.3 semantics preserved Spark-first:
  *  - per-instrument ordering = `repartition(instrument_name)` (the
  *    reference's per-instrument mutex, ref :124-127,188-190);
  *  - get-or-create = in-batch dedup + existence probe + POST; the
  *    probe/POST run on the EXECUTORS per partition, so instruments
  *    fan out in parallel while each instrument stays sequential.
  */
object SampleIngestor {

  /** One micro-batch of pl72 records → the (sample, proposal) pairs
    * that were actually created. Every catalog is probed once per
    * distinct candidate, after the in-batch dedup (ref: check_sample,
    * :76-94 — exists iff the query returns a non-empty list).
    *
    * The returned frame is persisted; the caller unpersists it once
    * done. If the POST job fails, it is unpersisted here before the
    * exception propagates. */
  def processSampleBatch(
      pl72Batch: DataFrame,
      catalog: graft.catalog.Catalog): DataFrame = {
    // After the instrument repartition each instrument lives in exactly
    // one partition (one sequential task: the per-instrument mutex the
    // reference holds, ADR-003), and sortWithinPartitions fixes a
    // deterministic per-instrument creation order. One exchange is
    // enough: equal (filename, instrument_name) keys share an instrument,
    // so hashpartitioning(instrument_name) already clusters them for the
    // dedup above it, which then runs partition-locally. Deduplicating
    // first would shuffle on (filename, instrument_name) as well. The
    // sample plan guard in IngestStreamSpec pins the single exchange.
    val candidates = pl72Batch
      .select(col("job_id"), col("filename"), col("instrument_name"))
      .repartition(col("instrument_name"))
      .dropDuplicates("filename", "instrument_name")
      .sortWithinPartitions(col("instrument_name"), col("filename"))
    // the probe does I/O, so it is non-deterministic: Catalyst then does
    // not push its filter below the dedup, and each distinct candidate
    // is probed once, in its instrument's partition
    val existsUdf = udf((name: String, proposalId: String) =>
      catalog.querySamples(name, proposalId).nonEmpty).asNondeterministic()
    // persist BEFORE the POST action: without it, any later action on
    // the returned frame would re-run the exists probe — which now says
    // "exists" for everything just created — and re-POST or report 0
    val created = candidates.filter(
      !existsUdf(col("filename"), col("instrument_name"))).persist()
    try created.select(col("filename"), col("instrument_name"))
      .foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
        rows.foreach(r => catalog.createSample(r.getString(0), r.getString(1)))
      }
    catch { case e: Throwable => created.unpersist(); throw e }
    created
  }

  /** `runMain graft.streaming.SampleIngestor --config-file <path>` —
    * wires the pl72 stream to [[processSampleBatch]]. */
  def main(args: Array[String]): Unit = {
    val argList = args.toSeq
    val i = argList.indexOf("--config-file")
    require(i >= 0 && i + 1 < argList.length, "--config-file <path> is required")
    val cfg = IngestorConfig.loadFile(argList(i + 1), argList.patch(i, Nil, 2))
    val logger = IngestLogging.buildLogger(cfg.logging)
    val spark = SparkSession.builder().appName("graft-sample-ingestor").getOrCreate()
    val catalog = cfg.scicat.toCatalog
    val messages = StreamSources.fromKafka(
      spark, cfg.kafka.bootstrapServers, cfg.kafka.topics, cfg.kafka.securityOptions)
    val query = IngestStream.runStartStream(messages).writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        val created = processSampleBatch(batch.toDF(), catalog)
        try logger.info(s"sample batch $id: created ${created.count()} samples")
        finally created.unpersist()
      }
      .option("checkpointLocation",
        java.nio.file.Paths.get(
          cfg.ingestion.fileHandling.ingestorFilesDirectory, "sample-checkpoint").toString)
      .start()
    try query.awaitTermination() finally spark.stop()
  }
}
