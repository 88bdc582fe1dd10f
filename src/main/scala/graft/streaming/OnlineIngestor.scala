package graft.streaming

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.config.{IngestLogging, IngestorConfig}
import graft.schema.{ImscSchema, SchemaValidator}
import graft.sources.{Hdf5Reader, NexusTree}

/** The online-ingestor daemon (ref: src/scicat_online_ingestor.py main):
  * config file + CLI → schemas directory → Kafka wrdn stream → per-batch
  * imsc pipeline → dedup gates → REST (or dry-run) sink, with the
  * health endpoint alive for the duration.
  *
  * Where the reference fans each message out to an offline-ingestor
  * subprocess pool (max_offline_ingestors), the engine's unit of
  * parallelism is the Spark micro-batch: rows of one batch assemble in
  * parallel on the executors and the streaming checkpoint replaces
  * per-message commits (§2.7). Everything composable is factored so
  * tests drive it without a broker: [[loadSchemas]],
  * [[buildStreamConfig]], and [[HealthCheck]] are exercised directly,
  * [[main]] only glues them to [[StreamSources.fromKafka]].
  */
object OnlineIngestor {

  /** Parse every imsc file in the configured schemas directory
    * (ref: collect_schemas, scicat_metadata.py:328-346) plus the
    * optional fallback schema file. Invalid files fail loudly here —
    * at daemon START, not at first message — matching the reference's
    * startup behavior. */
  def loadSchemas(cfg: IngestorConfig.Config): (Seq[ImscSchema], Option[ImscSchema]) = {
    val dir = cfg.ingestion.schemasDirectory
    val files = SchemaValidator.collectTargets(dir)
    val schemas = files.map(f => ImscSchema.fromYamlOrJson(Files.readString(f)))
    val fallback = Option(cfg.ingestion.fallbackSchemaFilePath).filter(_.nonEmpty)
      .map(p => ImscSchema.fromYamlOrJson(Files.readString(Paths.get(p))))
    (ImscSchema.sortSchemas(schemas), fallback)
  }

  /** Map the validated file config onto the streaming pipeline config.
    * The catalog defaults to the configured HTTP client; tests inject
    * an in-memory one. The default file reader reads only the NXS paths
    * of the schemas and the fallback and the P19 sample paths of the
    * config's [[IngestStream.SampleAttachment]]: the datasets no schema
    * reads are never decoded (S4/S5). A copy of the config with other
    * sample paths needs a reader built for them. */
  def buildStreamConfig(
      cfg: IngestorConfig.Config,
      catalog: Option[graft.catalog.Catalog] = None,
      fileReader: Option[String => Option[String]] = None): IngestStream.Config = {
    val (schemas, fallback) = loadSchemas(cfg)
    val fh = cfg.ingestion.fileHandling
    val retries = fh.dataFileOpenRetryDelay match {
      case Seq() => Seq.fill(math.max(fh.dataFileOpenMaxTries - 1, 0))(3.0)
      case ds => ds
    }
    val (hash, hashAlgorithm) = (fh.computeFileHash, fh.fileHashAlgorithm)
    // an unknown algorithm fails here, at daemon start, not in every task
    if (hash && hashAlgorithm != "blake2b") FileIngest.digest(hashAlgorithm)
    val sample = IngestStream.SampleAttachment()
    val needed = NexusTree.Needed((schemas ++ fallback).flatMap(_.variables.collect {
      case (_, v: ImscSchema.NxsVar) => v.path
    }) ++ Seq(sample.sampleNamePath, sample.proposalIdPath))
    IngestStream.Config(
      schemas = schemas,
      fallback = fallback,
      catalog = catalog.getOrElse(cfg.scicat.toCatalog),
      options = cfg.toAssemblyOptions,
      fileReader = fileReader.getOrElse(Hdf5Reader.fileReaderWith(retries, needed)),
      fileLister = p => Seq(FileIngest.stat(p, hash, hashAlgorithm)),
      dedupByPid = cfg.ingestion.checkIfDatasetExistsByPid,
      dedupMetadataKey =
        if (cfg.ingestion.checkIfDatasetExistsByMetadata)
          Some(cfg.ingestion.checkIfDatasetExistsByMetadataKey)
        else None,
      sampleAttachment = sample)
  }

  /** Wire and start the streaming query against a live Kafka cluster.
    * Returns the query + health server so the caller owns shutdown. */
  def run(spark: SparkSession, cfg: IngestorConfig.Config) = {
    val logger = IngestLogging.buildLogger(cfg.logging)
    val streamCfg = buildStreamConfig(cfg)
    val messages = StreamSources.fromKafka(
      spark, cfg.kafka.bootstrapServers, cfg.kafka.topics,
      cfg.kafka.securityOptions)
    val catalog = streamCfg.catalog
    val sink: (org.apache.spark.sql.DataFrame, Long) => Unit =
      if (cfg.ingestion.dryRun) (b, id) => logger.info(
        s"dry-run: batch $id assembled ${b.count()} dataset rows, not POSTed")
      else Sinks.restDatasetSink(catalog)
    val query = IngestStream.ingestQuery(messages, streamCfg, sink,
      checkpointDir = Some(
        Paths.get(cfg.ingestion.fileHandling.ingestorFilesDirectory, "checkpoint").toString))
    val health = HealthCheck.start(cfg.healthCheck, HealthCheck.Probes(
      kafka = () => query.isActive,
      storage = HealthCheck.storageProbe(cfg.ingestion.fileHandling.dataDirectory),
      scicat = HealthCheck.scicatProbe(catalog)))
    logger.info(s"online ingestor started: ${cfg.kafka.describe}")
    (query, health)
  }

  /** `runMain graft.streaming.OnlineIngestor --config-file <path> [overrides...]`
    * (ref: build_online_config, scicat_online_ingestor.py — config-file
    * is the one mandatory argument). */
  def main(args: Array[String]): Unit = {
    val argList = args.toSeq
    val i = argList.indexOf("--config-file")
    require(i >= 0 && i + 1 < argList.length, "--config-file <path> is required")
    val cfg = IngestorConfig.loadFile(argList(i + 1),
      argList.patch(i, Nil, 2))
    val spark = SparkSession.builder()
      .appName("graft-online-ingestor")
      .config("spark.sql.shuffle.partitions", graft.Bench.cpus)
      .getOrCreate()
    val (query, health) = run(spark, cfg)
    try query.awaitTermination()
    finally { health.stop(0); spark.stop() }
  }
}
