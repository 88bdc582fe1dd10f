package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.assemble.DatasetAssembly
import graft.catalog.LocalCatalog
import graft.expr.{ImscCompiler, SelectorCompiler}
import graft.schema.ImscSchema

/** The streaming driver: the reference's online-ingestor daemon as one
  * Structured Streaming program (ref: SURVEY §3.1/§3.3).
  *
  * Shape: `readStream (kafka/memory) → F1 byte-slice type filter →
  * decode → F2 error filter → foreachBatch { schema selection →
  * imsc pipeline → F6 dedup anti-join → sink }`.
  *
  * Per-file work: a file is read, and its NXS variables and P19 sample
  * fields extracted from one parse of its tree, once per row, after
  * schema selection; neither is ever inlined into the F6/F7 dedup
  * filters (see [[processBatch]]).
  *
  * Delivery: checkpointed micro-batches + the dedup anti-join give
  * effective exactly-once (the reference's per-message commit + catalog
  * dedup reproduce the same guarantee, ref §2.7). Per-instrument
  * ordering for sample get-or-create is a repartition by
  * `instrument_name` — ordering within a key, no global lock.
  */
object IngestStream {

  /** F1: the byte-slice type predicate stays a plain Column program so
    * it runs codegen'd BEFORE the decode UDF — only matching payloads
    * pay the per-row decode (ref: scicat_kafka.py:89-96 checks [4:8]
    * before deserialising). */
  private def typeFiltered(messages: DataFrame, schemaId: String): DataFrame =
    messages.filter(substring(col("value"), 5, 4) === lit(schemaId.getBytes("UTF-8")))

  private val wrdnUdf = udf(MessageCodec.decodeWrdn _)
  private val pl72Udf = udf(MessageCodec.decodePl72 _)

  /** wrdn stream of FlatBuffers payloads with the F2 error
    * filter (ref: scicat_kafka.py:99-110 drops error_encountered;
    * undecodable payloads → None → dropped, :180-190). `carry` names
    * frame-level columns (e.g. the bus event time) to keep alongside
    * the decoded body. */
  def wrdnStream(messages: DataFrame, carry: Seq[String] = Nil): DataFrame =
    typeFiltered(messages, Messages.WrdnId)
      .select(carry.map(col) :+ wrdnUdf(col("value")).as("m"): _*)
      .filter(col("m").isNotNull)
      .select(carry.map(col) :+ col("m.*"): _*)
      .filter(!coalesce(col("error_encountered"), lit(false)))

  def runStartStream(messages: DataFrame, carry: Seq[String] = Nil): DataFrame =
    typeFiltered(messages, Messages.Pl72Id)
      .select(carry.map(col) :+ pl72Udf(col("value")).as("m"): _*)
      .filter(col("m").isNotNull)
      .select(carry.map(col) :+ col("m.*"): _*)

  /** P19: sample-attachment reads from fixed NeXus paths
    * (ref: SampleAttachmentConfig, scicat_metadata.py:174-217 — defaults
    * `/entry/sample/name` and `/entry/experiment_identifier`). */
  final case class SampleAttachment(
      querySampleName: Boolean = false,
      sampleNamePath: String = "/entry/sample/name",
      proposalIdPath: String = "/entry/experiment_identifier")

  final case class Config(
      schemas: Seq[ImscSchema],
      fallback: Option[ImscSchema] = None,
      catalog: graft.catalog.Catalog = LocalCatalog.empty,
      options: DatasetAssembly.Options = DatasetAssembly.Options(),
      /** S4: a file path to its tree text, [[graft.sources.NexusTree]]'s
        * JSON tree encoding, which the extraction parses back with
        * `NexusTree.fromJson`. The default reader opens real NeXus/HDF5
        * files via the pure-JVM [[graft.sources.Hdf5Reader]] and renders
        * them with `NexusTree.toJson`; every failure gives None, so
        * corrupt or missing files null out (F11) instead of failing the
        * batch. Tests inject readers of hand-written tree text here. */
      fileReader: String => Option[String] = graft.sources.Hdf5Reader.fileReader,
      fileLister: String => Seq[FileIngest.FileStats] =
        p => Seq(FileIngest.stat(p)),
      /** F6 toggle (ref: check_if_dataset_exists_by_pid,
        * scicat_configuration.py:326-328 + offline gate
        * scicat_offline_ingestor.py:67-85). */
      dedupByPid: Boolean = true,
      /** F7: dedup on `scientificMetadata.<key>.value` when set
        * (ref default key `job_id`, scicat_configuration.py:326-328). */
      dedupMetadataKey: Option[String] = None,
      sampleAttachment: SampleAttachment = SampleAttachment())

  /** Process one micro-batch of wrdn records end-to-end: per-row schema
    * selection (first-match cascade), per-schema imsc pipeline, F6 pid
    * dedup anti-join. Returns the closed dataset rows.
    */
  def processBatch(batch: DataFrame, cfg: Config): DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._

    // schema selection as a first-match when-cascade (F3/F4)
    val ordered = ImscSchema.sortSchemas(cfg.schemas)
    val fallbackId = cfg.fallback.map(s => lit(s.id))
      .getOrElse(lit(null).cast("string"))
    val cascade = ordered.foldRight(fallbackId) { (s, rest) =>
      when(SelectorCompiler.compile(s.selector, col("file_name")), s.id).otherwise(rest)
    }

    // The per-file UDFs do I/O, so they are non-deterministic: Catalyst
    // then neither copies them into the F6/F7 filters it pushes down nor
    // inlines them into the projections that read their results, and
    // each runs once per row.
    val reader = cfg.fileReader
    val lister = cfg.fileLister
    val readUdf = udf((p: String) => reader(p)).asNondeterministic()
    val listUdf = udf((p: String) => lister(p).map(f =>
      (f.path, f.size.map(Long.box).orNull, f.time, f.chk.orNull,
        f.uid.orNull, f.gid.orNull, f.perm.orNull))).asNondeterministic()

    // P19 + J2: the extraction also reads (sample name, proposal id)
    // from the fixed NeXus paths, and the catalog's sample query on them
    // feeds the J4 sampleId merge in assembly (ref: maybe_sample_dataset_pid,
    // scicat_offline_ingestor.py:164-191)
    val att = cfg.sampleAttachment
    val ctx = ImscCompiler.Context(catalog = cfg.catalog,
      samplePaths = Option.when(att.querySampleName)((att.sampleNamePath, att.proposalIdPath)))

    val selected = batch
      .withColumn("schema_id", cascade)
      .withColumn("data_file_path", col("file_name"))

    val allSchemas = ordered ++ cfg.fallback
    val perSchema = allSchemas.flatMap { s =>
      // a schema's rows get their file inputs only after the schema
      // filter, so each file is opened in its own branch and no other
      val rows = selected.filter(col("schema_id") === s.id)
        .withColumn("nexus_json", readUdf(col("file_name")))
        .withColumn("files", listUdf(col("file_name"))
          .cast(ArrayType(DatasetAssembly.FilesSchema)))
      try Some(DatasetAssembly.pipeline(s, ctx, cfg.options)(rows))
      catch {
        // schema-level failure isolation: one bad schema drops only its
        // rows (F11 contract), but the failure must be visible, not silent
        case e: Exception =>
          org.apache.log4j.Logger.getLogger(getClass)
            .warn(s"imsc schema '${s.id}' failed to compile, rows skipped: ${e.getMessage}")
          None
      }
    }

    // all-schemas-failed fallback keeps the full output schema so the F6
    // anti-join on `pid` (and any sink select) stays well-typed
    val assembled = perSchema.reduceOption(_.unionByName(_))
      .getOrElse(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        DatasetAssembly.OutputSchema))

    // F6: dedup against existing catalog pids. An enumerable catalog
    // (in-memory) becomes the broadcast side of a left-anti join — zero
    // per-row probes; a REST catalog is probed per row on the EXECUTORS
    // (the reference's per-record check_dataset_by_pid, parallelized —
    // no driver funnel, no whole-catalog download).
    val cat = cfg.catalog
    val afterPid =
      if (!cfg.dedupByPid) assembled
      else cat.enumeratePids match {
        case Some(pids) =>
          val existing = pids.toSeq.toDF("existing_pid")
          assembled.join(broadcast(existing),
            assembled("pid") === existing("existing_pid"), "left_anti")
        case None =>
          val existsUdf = udf((pid: String) => cat.datasetExists(pid))
          assembled.filter(col("pid").isNull || !existsUdf(col("pid")))
      }

    // F7: dedup on scientificMetadata.<key>.value (same two paths).
    // A schema with no scientific_metadata items leaves the column
    // VOID-typed (or an empty map with VOID values) — element_at/
    // getField would fail ANALYSIS, so the probe column degrades to
    // null = "key absent, nothing to match" (the reference's filter
    // query simply matches nothing there).
    cfg.dedupMetadataKey.fold(afterPid) { key =>
      import org.apache.spark.sql.types.{MapType, StructType}
      val hasItemStructs = afterPid.schema.find(_.name == "scientificMetadata")
        .map(_.dataType).exists {
          case m: MapType => m.valueType.isInstanceOf[StructType]
          case _ => false
        }
      val keyValue =
        if (hasItemStructs) element_at(col("scientificMetadata"), key).getField("value")
        else lit(null).cast("string")
      cat.enumerateMetadataValues(key) match {
        case Some(vals) =>
          val values = vals.toSeq.toDF("existing_value")
          afterPid.join(broadcast(values),
            keyValue === values("existing_value"), "left_anti")
        case None =>
          val existsUdf = udf((v: String) => cat.metadataValueExists(key, v))
          afterPid.filter(keyValue.isNull || !existsUdf(keyValue))
      }
    }
  }

  /** Wire a streaming query: wrdn filter/decode → foreachBatch(process →
    * sink). `sink` receives the deduped dataset rows of each batch. */
  def ingestQuery(
      messages: DataFrame,
      cfg: Config,
      sink: (DataFrame, Long) => Unit,
      checkpointDir: Option[String] = None) = {
    val stream = wrdnStream(messages)
    val writer = stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        sink(processBatch(batch.toDF(), cfg), id)
      }
    checkpointDir.fold(writer)(d => writer.option("checkpointLocation", d)).start()
  }
}
