package graft.config

import org.scalatest.funsuite.AnyFunSuite

import graft.config.IngestorConfig._

/** Config system parity (ref: tests/test_scicat_config.py +
  * scicat_configuration.py strict build): file↔default sync, strict
  * unknown-key validation, CLI-over-file merge, type coercions, and the
  * bridges into the engine's runtime options.
  */
class ConfigSpec extends AnyFunSuite {

  test("template config file is synchronized with the defaults") {
    val cfg = IngestorConfig.loadFile("resources/config.sample.yml")
    assert(cfg == Config(configFile = "resources/config.sample.yml"))
  }

  test("strict mode rejects unknown keys with their dotted path") {
    val e = intercept[ConfigError] {
      IngestorConfig.load(
        """dataset:
          |  allow_dataset_pid: true
          |  no_such_option: 1
          |kafka:
          |  typo_key: x
          |""".stripMargin)
    }
    assert(e.getMessage.contains("dataset.no_such_option"))
    assert(e.getMessage.contains("kafka.typo_key"))
    // non-strict: same input loads, unknown keys ignored
    val cfg = IngestorConfig.load(
      "dataset:\n  no_such_option: 1\n", strict = false)
    assert(cfg.dataset.allowDatasetPid)
  }

  test("reference-only sections/keys are tolerated, not rejected") {
    val cfg = IngestorConfig.load(
      """nexus_file: "/a.nxs"
        |ingestion:
        |  dry_run: true
        |  max_offline_ingestors: 10
        |  offline_ingestor_executable: ["scicat_background_ingestor"]
        |logging:
        |  graylog: true
        |  graylog_host: "g"
        |scicat:
        |  additional_headers: {"X-Extra": "1"}
        |health_check:
        |  port: 8080
        |""".stripMargin)
    assert(cfg.ingestion.dryRun)
  }

  test("CLI args override file values; dashes map to underscores") {
    val cfg = IngestorConfig.load(
      """ingestion:
        |  dry_run: false
        |  file_handling:
        |    data_file_open_max_tries: 3
        |kafka:
        |  bootstrap_servers: "from-file:9093"
        |""".stripMargin,
      cliArgs = Seq(
        "--ingestion.dry-run",
        "--ingestion.file-handling.data-file-open-max-tries", "7",
        "--kafka.bootstrap-servers", "from-cli:9093",
        "--kafka.topics", "t1", "t2", "t3"))
    assert(cfg.ingestion.dryRun) // bare flag = store_true
    assert(cfg.ingestion.fileHandling.dataFileOpenMaxTries == 7) // string → int
    assert(cfg.kafka.bootstrapServers == "from-cli:9093") // CLI wins
    assert(cfg.kafka.topics == Seq("t1", "t2", "t3")) // nargs='+'
  }

  test("comma-separated scalar accepted for list options (kafka.topics)") {
    val cfg = IngestorConfig.load("kafka:\n  topics: \"a, b,c\"\n")
    assert(cfg.kafka.topics == Seq("a", "b", "c"))
  }

  test("type errors carry the dotted path") {
    val e = intercept[ConfigError] {
      IngestorConfig.load("ingestion:\n  file_handling:\n    data_file_open_max_tries: [3]\n")
    }
    assert(e.getMessage.contains("ingestion.file_handling.data_file_open_max_tries"))
    // a key with no config field keeps its type check
    val noField = intercept[ConfigError] {
      IngestorConfig.load("scicat:\n  stream: maybe\n")
    }
    assert(noField.getMessage.contains("scicat.stream"))
    intercept[ConfigError] {
      IngestorConfig.load("dataset:\n  allow_dataset_pid: \"maybe\"\n")
    }
  }

  test("JSON config files load through the same path (legacy format)") {
    val cfg = IngestorConfig.load("""{"ingestion": {"dry_run": true}}""")
    assert(cfg.ingestion.dryRun)
  }

  test("bridges: assembly options and HTTP catalog from config") {
    val cfg = IngestorConfig.load(
      """dataset:
        |  default_owner_group: "og"
        |  generate_dataset_pid: true
        |ingestion:
        |  file_handling:
        |    file_path_type: "absolute"
        |    file_hash_algorithm: "sha256"
        |scicat:
        |  host: "http://h:3000/api/v3"
        |  token: "tok"
        |  timeout: 5
        |""".stripMargin)
    val opts = cfg.toAssemblyOptions
    assert(opts.defaultOwnerGroup == "og" && opts.generateDatasetPid)
    assert(opts.filePathType == "absolute" && opts.fileHashAlgorithm == "sha256")
    val cat = cfg.scicat.toCatalog
    assert(cat.baseUrl == "http://h:3000/api/v3" && cat.token == "tok" &&
      cat.timeoutMs == 5000L)
  }

  test("kafka security options map onto the Spark source; describe hides secrets") {
    val cfg = IngestorConfig.load(
      "kafka:\n  sasl_password: \"s3cret\"\n  security_protocol: \"plaintext\"\n")
    assert(cfg.kafka.securityOptions("security.protocol") == "plaintext")
    assert(!cfg.kafka.describe.contains("s3cret"))
  }

  test("json-to-yaml devtool: converts, preserves key order, refuses overwrite") {
    val yaml = JsonToYaml.convertText("""{"b": 1, "a": {"x": [1, 2]}, "c": "s"}""")
    assert(yaml.indexOf("b:") < yaml.indexOf("a:") && yaml.indexOf("a:") < yaml.indexOf("c:"))
    // converted YAML loads through the config path
    val cfg = IngestorConfig.load(JsonToYaml.convertText("""{"ingestion": {"dry_run": true}}"""))
    assert(cfg.ingestion.dryRun)

    val dir = java.nio.file.Files.createTempDirectory("graft_j2y")
    val in = dir.resolve("legacy.json")
    java.nio.file.Files.writeString(in, """{"k": 1}""")
    val out = JsonToYaml.convertFile(in.toString)
    assert(out.getFileName.toString == "legacy.yml") // default .json → .yml
    assert(java.nio.file.Files.readString(out).contains("k: 1"))
    intercept[IllegalStateException] { JsonToYaml.convertFile(in.toString) }
    JsonToYaml.convertFile(in.toString, overwrite = true) // forced is fine
  }

  test("missing config file raises; empty text gives pure defaults") {
    intercept[ConfigError] { IngestorConfig.loadFile("/no/such/file.yml") }
    assert(IngestorConfig.load("") == Config())
    val e = intercept[ConfigError] {
      IngestorConfig.load("", Seq("stray-positional"))
    }
    assert(e.getMessage.contains("stray-positional"))
  }
}
