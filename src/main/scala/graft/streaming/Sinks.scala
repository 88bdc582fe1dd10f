package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.assemble.DatasetAssembly

/** Sinks (§2.6): dataset/datablock documents as null-stripped JSON (the
  * F10 projection the REST POST would carry, K1/K2), raw-message side
  * dump (K3), and a dry-run toggle (K5).
  *
  * In production K1/K2 are HTTP POSTs inside foreachBatch (idempotent
  * thanks to the F6/F7 dedup gate); here the same rows land as JSON
  * lines so tests and the driver can inspect exactly what would be
  * POSTed.
  *
  * Scale: all writes happen on the EXECUTORS — `df.write.text` for the
  * document lines and `foreachPartition` for the per-file fan-out. No
  * `collect()`: at 100 TB a driver-side funnel of batch documents is the
  * scale-killer (the reference's per-file processes also write
  * independently, ref: scicat_kafka.py:252-261).
  */
object Sinks {

  /** F10: each row's dataset document and its datablock, as the
    * null-stripped JSON that K1/K2 POST. */
  private def documents(batch: DataFrame): DataFrame = batch.select(
    DatasetAssembly.toJsonColumn(
      DatasetAssembly.OutputColumns.filterNot(_ == "origDataBlock")).as("dataset"),
    to_json(col("origDataBlock"), Map("ignoreNullFields" -> "true")).as("datablock"))

  /** K1/K2 + F10: write each dataset row (and its datablock struct) as
    * null-stripped JSON lines under
    * `outDir/datasets_<batch>/part-*` (one directory of line files per
    * batch, written in parallel by the executors). Dry-run (K5) skips
    * writes. */
  def jsonDatasetSink(outDir: String, dryRun: Boolean = false)(
      batch: DataFrame, batchId: Long): Unit = {
    if (dryRun) return
    // two sinks, one computation of the assembly pipeline
    val datasetJson = documents(batch).persist()
    try {
      datasetJson.select(col("dataset")).write.mode("overwrite")
        .text(f"$outDir/datasets_$batchId%05d")
      datasetJson.select(col("datablock")).write.mode("overwrite")
        .text(f"$outDir/origdatablocks_$batchId%05d")
    } finally datasetJson.unpersist()
  }

  /** K1/K2 over REST: POST each dataset row and its origdatablock to
    * the catalog (ref: ingest_message, src/scicat_online_ingestor.py —
    * dataset first, then datablock, raising on non-OK so the batch
    * fails loudly rather than half-ingesting). POSTs run inside
    * `foreachPartition` on the EXECUTORS; the serializable catalog
    * re-creates its HTTP client per executor. Dry-run (K5) skips. */
  def restDatasetSink(catalog: graft.catalog.Catalog, dryRun: Boolean = false)(
      batch: DataFrame, batchId: Long): Unit = {
    if (dryRun) return
    documents(batch).foreachPartition { rows: Iterator[Row] =>
      rows.foreach { r =>
        catalog.createDataset(r.getAs[String]("dataset"))
        catalog.createOrigDatablock(r.getAs[String]("datablock"))
      }
    }
  }

  /** Read back every line written by [[jsonDatasetSink]] for one batch —
    * test/inspection helper (small data only). */
  def readJsonLines(dir: String): String = {
    val d = Paths.get(dir)
    if (!Files.isDirectory(d)) return ""
    val parts = Files.list(d).iterator()
    val sb = new StringBuilder
    while (parts.hasNext) {
      val p = parts.next()
      if (p.getFileName.toString.startsWith("part-"))
        sb.append(Files.readString(p))
    }
    sb.result()
  }

  /** K3: persist each raw wrdn message body as JSON next to the data
    * file's ingestor dir (ref: save_message_to_file,
    * src/scicat_kafka.py:252-261). Per-message fan-out runs inside
    * `foreachPartition`, so each executor writes its own partition's
    * files — the reference's per-file process never funnels through one
    * node, and neither does this. */
  def dumpMessages(batch: DataFrame, dumpDir: String): Unit = {
    Files.createDirectories(Paths.get(dumpDir))
    batch.select(col("file_name"), col("job_id"), col("service_id"),
        col("metadata"), col("message"))
      .foreachPartition { rows: Iterator[Row] =>
        val json = graft.sources.NexusExtractor.jsonStr _
        rows.foreach { r =>
          val stem = Paths.get(r.getAs[String]("file_name")).getFileName.toString
          val body =
            s"""{"file_name":${json(r.getAs[String]("file_name"))},""" +
              s""""job_id":${json(r.getAs[String]("job_id"))},""" +
              s""""service_id":${json(r.getAs[String]("service_id"))},""" +
              s""""metadata":${json(r.getAs[String]("metadata"))},""" +
              s""""message":${json(r.getAs[String]("message"))}}"""
          Files.writeString(Paths.get(dumpDir).resolve(s"$stem.json"), body)
        }
      }
  }
}
