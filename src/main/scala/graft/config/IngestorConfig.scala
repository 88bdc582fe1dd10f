package graft.config

import scala.collection.mutable

import graft.schema.ConfigValue
import graft.schema.ConfigValue._

/** Configuration system: YAML/JSON config file + CLI arguments merged
  * into typed config classes with strict unknown-key validation
  * (ref: src/scicat_configuration.py — `build_dataclass` strict mode
  * :519-548, `_merge_config_and_input_args` :551-568 with CLI
  * priority, option groups :200-330).
  *
  * Key names are the reference's snake_case, so an existing ingestor
  * config file loads unchanged; CLI flags use the reference's dotted
  * form (`--ingestion.dry-run`, `--kafka.bootstrap-servers ...`,
  * :109-117 `_wrap_arg_names` maps `_`→`-`).
  *
  * Sections the engine has no analogue for (offline-ingestor process
  * pool, graylog/syslog handlers) are dropped rather than carried as
  * dead weight; their keys still VALIDATE (strict mode knows the full
  * reference key set) so a reference config is not rejected.
  *
  * Reference keys with no engine effect keep their type check at load
  * (a wrong-typed value still raises [[ConfigError]]) but get no field:
  * `compute_file_stats`, `save_file_hash`, `hash_file_extension`,
  * `message_to_file`, `message_file_extension`, `dataset_pid_prefix`,
  * `scicat.stream`, `scicat.verify`, `individual_message_commit` and
  * `enable_auto_commit` (the Kafka source commits through its
  * checkpoint, see [[graft.streaming.StreamSources.kafkaSourceOptions]]).
  */
object IngestorConfig {

  /** ref: KafkaOptions (scicat_configuration.py:228-280). */
  final case class KafkaConfig(
      topics: Seq[String] = Seq("KAFKA_TOPIC_1", "KAFKA_TOPIC_2"),
      groupId: String = "GROUP_ID",
      bootstrapServers: String = "localhost:9093",
      securityProtocol: String = "sasl_ssl",
      saslMechanism: String = "SCRAM-SHA-256",
      saslUsername: String = "USERNAME",
      saslPassword: String = "",
      sslCaLocation: String = "FULL_PATH_TO_CERTIFICATE_FILE",
      autoOffsetReset: String = "earliest") {

    /** Spark Kafka-source security options for
      * [[graft.streaming.StreamSources.fromKafka]]. */
    def securityOptions: Map[String, String] = Map(
      "security.protocol" -> securityProtocol,
      "sasl.mechanism" -> saslMechanism,
      "sasl.username" -> saslUsername,
      "sasl.password" -> saslPassword,
      "ssl.ca.location" -> sslCaLocation,
      "group.id" -> groupId,
      "auto.offset.reset" -> autoOffsetReset)

    /** Credentials are kept out of rendered/logged form
      * (ref: KafkaOptions.__str__, scicat_configuration.py:262-280). */
    def describe: String =
      s"topics=${topics.mkString(",")} group_id=$groupId " +
        s"bootstrap_servers=$bootstrapServers security_protocol=$securityProtocol"
  }

  /** ref: FileHandlingOptions (scicat_configuration.py:283-316). */
  final case class FileHandlingConfig(
      computeFileHash: Boolean = true,
      fileHashAlgorithm: String = "blake2b",
      ingestorFilesDirectory: String = "../ingestor",
      filePathType: String = "relative",
      dataDirectory: String = "",
      dataFileOpenMaxTries: Int = 3,
      dataFileOpenRetryDelay: Seq[Double] = Seq.empty)

  /** ref: IngestionOptions (scicat_configuration.py:323-344). */
  final case class IngestionConfig(
      dryRun: Boolean = false,
      schemasDirectory: String = "schemas",
      fallbackSchemaFilePath: String = "",
      checkIfDatasetExistsByPid: Boolean = true,
      checkIfDatasetExistsByMetadata: Boolean = true,
      checkIfDatasetExistsByMetadataKey: String = "job_id",
      fileHandling: FileHandlingConfig = FileHandlingConfig())

  /** ref: DatasetOptions (scicat_configuration.py:347-360). */
  final case class DatasetConfig(
      allowDatasetPid: Boolean = true,
      generateDatasetPid: Boolean = false,
      defaultInstrumentId: String = "ID_OF_FALLBACK_INSTRUMENT",
      defaultProposalId: String = "DEFAULT_PROPOSAL_ID",
      defaultOwnerGroup: String = "DEFAULT_OWNER_GROUP",
      defaultAccessGroups: Seq[String] = Seq("ACCESS_GROUP_1"))

  /** ref: SciCatOptions (scicat_configuration.py:363-394). */
  final case class SciCatConfig(
      host: String = "https://scicat.host/api/v3",
      token: String = "",
      timeout: Int = 0) {

    def toCatalog: graft.catalog.HttpScicatCatalog =
      graft.catalog.HttpScicatCatalog(
        baseUrl = host,
        token = token,
        timeoutMs = if (timeout <= 0) 10000L else timeout * 1000L)
  }

  /** ref: LoggingOptions (scicat_configuration.py:200-222). All handler
    * families are typed and wired: level/prefix/file, syslog
    * (scicat_logging.py:60-62) and graylog GELF (:64-71). One
    * deviation: the reference's syslog address is the `/dev/log` unix
    * datagram socket, which the JVM cannot open (Java 16+ unix sockets
    * are stream-only) — the engine speaks the same protocol over UDP
    * via `system_log_address`, defaulting to the standard syslog port. */
  final case class LoggingConfig(
      verbose: Boolean = false,
      loggingLevel: String = "INFO",
      logMessagePrefix: String = "SFI",
      fileLog: Boolean = false,
      fileLogBaseName: String = "scicat_ingestor_log",
      fileLogTimestamp: Boolean = false,
      systemLog: Boolean = false,
      systemLogFacility: String = "user",
      systemLogAddress: String = "localhost:514",
      graylog: Boolean = false,
      graylogHost: String = "",
      graylogPort: Int = 12201,
      graylogFacility: String = "scicat.ingestor")

  /** ref: HealthCheckOptions (scicat_configuration.py:226-229). */
  final case class HealthCheckConfig(
      host: String = "0.0.0.0",
      port: Int = 8080)

  /** ref: OnlineIngestorConfig (scicat_configuration.py:480-476). */
  final case class Config(
      configFile: String = "",
      id: String = "",
      dataset: DatasetConfig = DatasetConfig(),
      ingestion: IngestionConfig = IngestionConfig(),
      logging: LoggingConfig = LoggingConfig(),
      kafka: KafkaConfig = KafkaConfig(),
      scicat: SciCatConfig = SciCatConfig(),
      healthCheck: HealthCheckConfig = HealthCheckConfig()) {

    /** Bridge into the assembly pipeline's runtime options. */
    def toAssemblyOptions: graft.assemble.DatasetAssembly.Options =
      graft.assemble.DatasetAssembly.Options(
        allowDatasetPid = dataset.allowDatasetPid,
        generateDatasetPid = dataset.generateDatasetPid,
        defaultInstrumentId = dataset.defaultInstrumentId,
        defaultProposalId = dataset.defaultProposalId,
        defaultOwnerGroup = dataset.defaultOwnerGroup,
        defaultAccessGroups = dataset.defaultAccessGroups,
        filePathType = ingestion.fileHandling.filePathType,
        fileHashAlgorithm = ingestion.fileHandling.fileHashAlgorithm)
  }

  final class ConfigError(msg: String) extends IllegalArgumentException(msg)

  // ------------------------- strict section reader --------------------

  /** Reads one CMap section tracking key usage; unknown keys become
    * validation errors with their full dotted path (ref: strict
    * build_dataclass, scicat_configuration.py:519-548). Keys in
    * `tolerated` are reference options without an engine analogue —
    * accepted (a reference config file stays valid) but unused. */
  private final class Section(m: CMap, path: String, tolerated: Set[String]) {
    private val used = mutable.Set.empty[String]

    private def lookup(key: String): Option[ConfigValue] = {
      used += key
      m.get(key)
    }

    private def fail(key: String, want: String, got: ConfigValue): Nothing =
      throw new ConfigError(s"Invalid value for ${dotted(key)}: expected $want, got $got")

    private def dotted(key: String): String =
      if (path.isEmpty) key else s"$path.$key"

    def str(key: String, default: String): String = lookup(key) match {
      case None | Some(CNull) => default
      case Some(CStr(s)) => s
      case Some(CLong(v)) => v.toString
      case Some(CDouble(v)) => v.toString
      case Some(CBool(b)) => b.toString
      case Some(other) => fail(key, "string", other)
    }

    def bool(key: String, default: Boolean): Boolean = lookup(key) match {
      case None | Some(CNull) => default
      case Some(CBool(b)) => b
      case Some(CStr(s)) if s.equalsIgnoreCase("true") || s.equalsIgnoreCase("false") =>
        s.toBoolean
      case Some(other) => fail(key, "boolean", other)
    }

    def int(key: String, default: Int): Int = lookup(key) match {
      case None | Some(CNull) => default
      case Some(CLong(v)) => v.toInt
      case Some(CStr(s)) if s.matches("-?\\d+") => s.toInt
      case Some(other) => fail(key, "integer", other)
    }

    def strSeq(key: String, default: Seq[String]): Seq[String] = lookup(key) match {
      case None | Some(CNull) => default
      case Some(CSeq(items)) => items.map {
        case CStr(s) => s
        case CLong(v) => v.toString
        case other => fail(key, "list of strings", other)
      }
      // the reference allows comma-separated scalars for list options
      // (KafkaOptions.topics doc, scicat_configuration.py:236-238)
      case Some(CStr(s)) => s.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      case Some(other) => fail(key, "list of strings", other)
    }

    def doubleSeq(key: String, default: Seq[Double]): Seq[Double] = lookup(key) match {
      case None | Some(CNull) => default
      case Some(CSeq(items)) => items.map {
        case CLong(v) => v.toDouble
        case CDouble(v) => v
        case CStr(s) if s.matches("-?\\d+(\\.\\d+)?") => s.toDouble
        case other => fail(key, "list of numbers", other)
      }
      case Some(other) => fail(key, "list of numbers", other)
    }

    def sub(key: String): CMap = {
      used += key
      m.get(key) match {
        case Some(sm: CMap) => sm
        case None => CMap(Vector.empty)
        case Some(other) => fail(key, "section", other)
      }
    }

    /** Unknown-key sweep; call after all reads. */
    def finish(): Seq[String] =
      m.items.collect {
        case (k, _) if !used.contains(k) && !tolerated.contains(k) => dotted(k)
      }.toSeq
  }

  // reference-only options accepted without an engine meaning
  private val toleratedTop = Set("nexus_file", "done_writing_message_file")
  private val toleratedIngestion = Set(
    "offline_ingestor_executable", "max_offline_ingestors",
    "offline_ingestors_wait_time")
  // every logging key, syslog/graylog included, is typed on
  // LoggingConfig and wired in IngestLogging, so none is tolerated-only
  private val toleratedLogging = Set.empty[String]
  private val toleratedScicat = Set("additional_headers", "health_endpoint", "api_endpoints")

  /** Build the typed config from a parsed tree; strict = unknown keys
    * raise a [[ConfigError]] listing every offending dotted path. */
  def fromConfigValue(root: ConfigValue, strict: Boolean = true): Config = {
    val top = root match {
      case m: CMap => m
      case CNull => CMap(Vector.empty)
      case other => throw new ConfigError(s"config root must be a mapping, got $other")
    }
    val errors = mutable.Buffer.empty[String]
    val t = new Section(top, "", toleratedTop)

    val ds = new Section(t.sub("dataset"), "dataset", Set.empty)
    val dataset = DatasetConfig(
      allowDatasetPid = ds.bool("allow_dataset_pid", true),
      generateDatasetPid = ds.bool("generate_dataset_pid", false),
      defaultInstrumentId = ds.str("default_instrument_id", "ID_OF_FALLBACK_INSTRUMENT"),
      defaultProposalId = ds.str("default_proposal_id", "DEFAULT_PROPOSAL_ID"),
      defaultOwnerGroup = ds.str("default_owner_group", "DEFAULT_OWNER_GROUP"),
      defaultAccessGroups = ds.strSeq("default_access_groups", Seq("ACCESS_GROUP_1")))
    // no field: read only for the type check
    ds.str("dataset_pid_prefix", "")
    errors ++= ds.finish()

    val ing = new Section(t.sub("ingestion"), "ingestion", toleratedIngestion)
    val fh = new Section(ing.sub("file_handling"), "ingestion.file_handling", Set.empty)
    val fileHandling = FileHandlingConfig(
      computeFileHash = fh.bool("compute_file_hash", true),
      fileHashAlgorithm = fh.str("file_hash_algorithm", "blake2b"),
      ingestorFilesDirectory = fh.str("ingestor_files_directory", "../ingestor"),
      filePathType = fh.str("file_path_type", "relative"),
      dataDirectory = fh.str("data_directory", ""),
      dataFileOpenMaxTries = fh.int("data_file_open_max_tries", 3),
      dataFileOpenRetryDelay = fh.doubleSeq("data_file_open_retry_delay", Seq.empty))
    // no field: read only for the type check
    fh.bool("compute_file_stats", true); fh.bool("save_file_hash", true)
    fh.str("hash_file_extension", ""); fh.bool("message_to_file", true)
    fh.str("message_file_extension", "")
    errors ++= fh.finish()
    val ingestion = IngestionConfig(
      dryRun = ing.bool("dry_run", false),
      schemasDirectory = ing.str("schemas_directory", "schemas"),
      fallbackSchemaFilePath = ing.str("fallback_schema_file_path", ""),
      checkIfDatasetExistsByPid = ing.bool("check_if_dataset_exists_by_pid", true),
      checkIfDatasetExistsByMetadata = ing.bool("check_if_dataset_exists_by_metadata", true),
      checkIfDatasetExistsByMetadataKey = ing.str("check_if_dataset_exists_by_metadata_key", "job_id"),
      fileHandling = fileHandling)
    errors ++= ing.finish()

    val lg = new Section(t.sub("logging"), "logging", toleratedLogging)
    val logging = LoggingConfig(
      verbose = lg.bool("verbose", false),
      loggingLevel = lg.str("logging_level", "INFO"),
      logMessagePrefix = lg.str("log_message_prefix", "SFI"),
      fileLog = lg.bool("file_log", false),
      fileLogBaseName = lg.str("file_log_base_name", "scicat_ingestor_log"),
      fileLogTimestamp = lg.bool("file_log_timestamp", false),
      systemLog = lg.bool("system_log", false),
      systemLogFacility = lg.str("system_log_facility", "user"),
      systemLogAddress = lg.str("system_log_address", "localhost:514"),
      graylog = lg.bool("graylog", false),
      graylogHost = lg.str("graylog_host", ""),
      graylogPort = lg.int("graylog_port", 12201),
      graylogFacility = lg.str("graylog_facility", "scicat.ingestor"))
    errors ++= lg.finish()

    val hc = new Section(t.sub("health_check"), "health_check", Set.empty)
    val healthCheck = HealthCheckConfig(
      host = hc.str("host", "0.0.0.0"),
      port = hc.int("port", 8080))
    errors ++= hc.finish()

    val kf = new Section(t.sub("kafka"), "kafka", Set.empty)
    val kafka = KafkaConfig(
      topics = kf.strSeq("topics", Seq("KAFKA_TOPIC_1", "KAFKA_TOPIC_2")),
      groupId = kf.str("group_id", "GROUP_ID"),
      bootstrapServers = kf.str("bootstrap_servers", "localhost:9093"),
      securityProtocol = kf.str("security_protocol", "sasl_ssl"),
      saslMechanism = kf.str("sasl_mechanism", "SCRAM-SHA-256"),
      saslUsername = kf.str("sasl_username", "USERNAME"),
      saslPassword = kf.str("sasl_password", ""),
      sslCaLocation = kf.str("ssl_ca_location", "FULL_PATH_TO_CERTIFICATE_FILE"),
      autoOffsetReset = kf.str("auto_offset_reset", "earliest"))
    // no field: read only for the type check
    kf.bool("individual_message_commit", true); kf.bool("enable_auto_commit", true)
    errors ++= kf.finish()

    val sc = new Section(t.sub("scicat"), "scicat", toleratedScicat)
    val scicat = SciCatConfig(
      host = sc.str("host", "https://scicat.host/api/v3"),
      token = sc.str("token", ""),
      timeout = sc.int("timeout", 0))
    // no field: read only for the type check
    sc.bool("stream", true); sc.bool("verify", false)
    errors ++= sc.finish()

    val cfg = Config(
      configFile = t.str("config_file", ""),
      id = t.str("id", ""),
      dataset = dataset, ingestion = ingestion, logging = logging,
      kafka = kafka, scicat = scicat, healthCheck = healthCheck)
    errors ++= t.finish()

    if (strict && errors.nonEmpty)
      throw new ConfigError(s"Invalid argument found: ${errors.mkString(", ")}")
    cfg
  }

  // ----------------------------- CLI merge ----------------------------

  /** Parse `--section.sub.key value` / `--flag` CLI args into a nested
    * tree (dashes map to underscores, ref `_wrap_arg_names`
    * :109-117). A flag followed by another flag or end-of-args is a
    * boolean `true` (argparse store_true); repeated values after a list
    * flag accumulate (nargs='+'). */
  def parseCliArgs(args: Seq[String]): CMap = {
    val pairs = mutable.Buffer.empty[(Seq[String], ConfigValue)]
    var i = 0
    while (i < args.length) {
      val a = args(i)
      if (!a.startsWith("--"))
        throw new ConfigError(s"unexpected argument: $a (expected --name [value...])")
      val keyPath = a.stripPrefix("--").replace("-", "_").split("\\.").toSeq
      val values = mutable.Buffer.empty[String]
      i += 1
      while (i < args.length && !args(i).startsWith("--")) {
        values += args(i)
        i += 1
      }
      val v: ConfigValue =
        if (values.isEmpty) CBool(true)
        else if (values.length == 1) CStr(values.head)
        else CSeq(values.map(CStr(_): ConfigValue).toVector)
      pairs += (keyPath -> v)
    }
    pairs.foldLeft(CMap(Vector.empty)) { case (acc, (path, v)) =>
      mergeIn(acc, path, v)
    }
  }

  private def mergeIn(m: CMap, path: Seq[String], v: ConfigValue): CMap = {
    val key = path.head
    val updated: ConfigValue =
      if (path.length == 1) v
      else {
        val sub = m.get(key) match {
          case Some(s: CMap) => s
          case _ => CMap(Vector.empty)
        }
        mergeIn(sub, path.tail, v)
      }
    if (m.toMap.contains(key))
      CMap(m.items.map { case (k, old) => if (k == key) k -> updated else k -> old })
    else CMap(m.items :+ (key -> updated))
  }

  /** Deep-merge with CLI priority
    * (ref: _merge_config_and_input_args, :551-568). */
  def merge(file: ConfigValue, cli: ConfigValue): ConfigValue = (file, cli) match {
    case (f: CMap, c: CMap) =>
      val keys = (f.items.map(_._1) ++ c.items.map(_._1)).distinct
      CMap(keys.map { k =>
        k -> ((f.get(k), c.get(k)) match {
          case (Some(fv), Some(cv)) => merge(fv, cv)
          case (Some(fv), None) => fv
          case (None, Some(cv)) => cv
          case _ => CNull
        })
      })
    case (_, c) => c // CLI wins at leaves
  }

  /** Full load path: YAML/JSON text + CLI args → validated config. */
  def load(configText: String, cliArgs: Seq[String] = Seq.empty,
      strict: Boolean = true): Config = {
    val fileTree =
      if (configText.trim.isEmpty) CMap(Vector.empty)
      else ConfigValue.fromYamlOrJson(configText)
    fromConfigValue(merge(fileTree, parseCliArgs(cliArgs)), strict)
  }

  def loadFile(path: String, cliArgs: Seq[String] = Seq.empty): Config = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.isRegularFile(p))
      throw new ConfigError(s"Configuration file not found: $path")
    val cfg = load(java.nio.file.Files.readString(p), cliArgs)
    cfg.copy(configFile = path)
  }
}
