package perfbench

import graft.functions.PyLiteral._
import Hdf5Writer.{Data, Group, Node}

/** Seeded NeXus trees for the ingest workloads, the imsc schemas that
  * read them, and the dataset fields each file must produce.
  *
  * Small files (~20 KB) follow the layout of the facility's small-ymir /
  * small-coda test files: identifiers, title, times, instrument and
  * sample groups, wildcard `user_*` groups. Bulk files (~280 KB) add
  * NXlog-style `value`/`time` arrays; one log per file is summed by its
  * schema, the rest (and two large detector/monitor arrays) are read by
  * no schema.
  */
object NexusGen {

  /** What the catalog must receive for one file. */
  final case class Expect(
      pid: String,
      jobId: String,
      runNumber: String,
      datasetName: String,
      instrument: String,
      team: String,
      sumValue: Double,
      sumUnit: String)

  final case class FileSpec(name: String, tree: Group, expect: Expect)

  val PidPrefix = "20.500.12269/"

  private val FirstNames = Vector("Ada", "Søren", "Yoganandan", "Maria", "Jonas",
    "Kerstin", "Li", "Ana", "Tomasz", "Ingrid", "Pedro", "Aiko")
  private val LastNames = Vector("Schmidt", "Pandiyan", "Nilsson", "García",
    "Kowalski", "Berg", "Okafor", "Lund", "Rossi", "Chen", "Müller", "Haddad")
  private val Words = Vector("lego", "powder", "calibration", "vanadium", "scan",
    "alignment", "cont", "test", "october", "sample", "run", "empty can")

  /** Instruments of the bulk workload: (name in files, path marker the
    * selector cascade matches, summed log, its unit). */
  val BulkInstruments: Vector[(String, String, String, String)] = Vector(
    ("CODA", "inst_coda", "temperature_1", "K"),
    ("YMIR", "inst_ymir", "motor_1", "mm"),
    ("BIFROST", "inst_bifrost", "field_1", "T"))
  private val LogNames = Vector(("motor_1", "mm"), ("temperature_1", "K"),
    ("field_1", "T"), ("pressure_1", "mbar"))

  private def uuid(r: java.util.Random): String =
    new java.util.UUID(r.nextLong(), r.nextLong()).toString

  private def str(s: String, vlen: Boolean = false): Data =
    if (vlen) Data(PyStr(s), vlen = true) else Data(PyList(Vector(PyStr(s))), compact = true)

  private def floats(xs: Array[Double], unit: String, compact: Boolean = false): Data =
    Data(PyList(xs.toVector.map(PyFloat(_))), Map("units" -> unit), compact = compact)

  private def longs(xs: Array[Long], attrs: Map[String, String] = Map.empty): Data =
    Data(PyList(xs.toVector.map(PyInt(_))), attrs)

  private def users(r: java.util.Random): (Vector[(String, Node)], String) = {
    val n = 2 + r.nextInt(3)
    val people = (0 until n).map { i =>
      val name = FirstNames(r.nextInt(FirstNames.size)) + " " + LastNames(r.nextInt(LastNames.size))
      val group = Group(Vector(
        "name" -> str(name, vlen = i % 2 == 0),
        "email" -> str(name.toLowerCase.replace(' ', '.') + "@example.org"),
        "affiliation" -> str("European Spallation Source ERIC", vlen = true),
        "facility_user_id" -> str(f"u${r.nextInt(100000)}%05d")))
      (s"user_$i", name, group)
    }
    // team order is the reader's order: groups sorted by name
    (people.map(p => p._1 -> (p._3: Node)).toVector,
      people.sortBy(_._1).map(_._2).mkString(", "))
  }

  /** The identity/instrument/sample/user skeleton shared by both sizes. */
  private def skeleton(r: java.util.Random, instrument: String,
      extraInstrument: Vector[(String, Node)], extraEntry: Vector[(String, Node)])
      : (Group, String, String, String, String) = {
    val job = uuid(r)
    val run = (10000 + r.nextInt(90000)).toString
    val title = (0 until 3 + r.nextInt(3)).map(_ => Words(r.nextInt(Words.size))).mkString(" ")
    val proposal = (100000 + r.nextInt(900000)).toString
    val (userGroups, team) = users(r)
    val day = 1 + r.nextInt(28)
    val start = f"2024-10-$day%02dT09:${r.nextInt(60)}%02d:${r.nextInt(60)}%02d.000Z"
    val entry = Group(Vector(
      "entry_identifier" -> str(run),
      "entry_identifier_uuid" -> str(job, vlen = true),
      "experiment_identifier" -> str(proposal),
      "title" -> str(title, vlen = true),
      "start_time" -> str(start),
      "end_time" -> str(start.replace("T09", "T10")),
      "definition" -> str("NXmx"),
      "instrument" -> Group(Vector(
        "name" -> str(instrument, vlen = true),
        "source" -> Group(Vector(
          "name" -> str("European Spallation Source", vlen = true),
          "probe" -> str("neutron"))),
        "chopper_1" -> Group(Vector(
          "delay" -> floats(Array.fill(64)(r.nextDouble() * 1e4), "us"),
          "rotation_speed" -> Data(PyFloat(14.0 * (1 + r.nextInt(4))),
            Map("units" -> "Hz"), compact = true))),
        "slit_1" -> Group(Vector(
          "x_gap" -> floats(Array(r.nextDouble() * 10), "mm", compact = true)))) ++ extraInstrument),
      "sample" -> Group(Vector(
        "name" -> str(s"sample-${r.nextInt(1000)}", vlen = true),
        "chemical_formula" -> str("V"),
        "temperature" -> floats(Array(250 + r.nextDouble() * 100), "K", compact = true))),
      "monitor_1" -> Group(Vector(
        "data" -> longs(Array.fill(256)(r.nextInt(1 << 20).toLong))))) ++
      userGroups ++ extraEntry)
    (Group(Vector("entry" -> entry)), job, run, title, team)
  }

  /** ~20 KB file read by [[smallSchema]]. */
  def smallFile(seed: Long, index: Int, dir: String): FileSpec = {
    val r = new java.util.Random(seed * 1000003L + index)
    val (root, job, run, title, team) = skeleton(r, "YMIR", Vector.empty, Vector.empty)
    FileSpec(f"$dir/small/run-$index%06d.nxs", root,
      Expect(PidPrefix + job, job, run, title, "YMIR", team, 0.0, ""))
  }

  /** Bulk file for instrument `inst` (index into [[BulkInstruments]]):
    * four NXlogs of `n` samples plus two unread arrays of 4n values,
    * ~280 KB at the default n = 2048. */
  def bulkFile(seed: Long, index: Int, inst: Int, dir: String, n: Int = 2048): FileSpec = {
    val r = new java.util.Random(seed * 7919L + index * 31L + inst)
    val (name, marker, summed, unit) = BulkInstruments(inst)
    var summedValues: Array[Double] = null
    val logs = LogNames.map { case (log, u) =>
      val base = 10 + r.nextInt(300)
      val values = Array.fill(n)(base + r.nextGaussian())
      if (log == summed) summedValues = values
      val t0 = 1729000000000000000L + r.nextInt(1000000).toLong * 1000000L
      log -> (Group(Vector(
        "value" -> floats(values, u),
        "time" -> longs(Array.tabulate(n)(i => t0 + i * 14286000L), Map("units" -> "ns")))): Node)
    }
    val detector = "detector_1" -> (Group(Vector(
      "event_time_offset" -> floats(Array.fill(4 * n)(r.nextDouble() * 71000), "ns"))): Node)
    val monitor = "monitor_2" -> (Group(Vector(
      "data" -> longs(Array.fill(4 * n)(r.nextInt(1 << 16).toLong)))): Node)
    val (root, job, run, title, team) =
      skeleton(r, name, logs :+ detector, Vector(monitor))
    val sum = summedValues.foldLeft(0.0)(_ + _)
    FileSpec(f"$dir/$marker/bulk-$index%06d.nxs", root,
      Expect(PidPrefix + job, job, run, title, name, team, sum, unit))
  }

  private def highLevel(extra: String): String =
    s"""  pid:
       |    field_type: high_level
       |    machine_name: pid
       |    value: $PidPrefix<job_id>
       |    type: string
       |  proposal_id:
       |    field_type: high_level
       |    machine_name: proposalId
       |    value: <proposal_id>
       |    type: string
       |  dataset_name:
       |    field_type: high_level
       |    machine_name: datasetName
       |    value: <dataset_original_name>
       |    type: string
       |  principal_investigator:
       |    field_type: high_level
       |    machine_name: principalInvestigator
       |    value: ''
       |    type: string
       |  owner:
       |    field_type: high_level
       |    machine_name: owner
       |    value: ''
       |    type: string
       |  owner_email:
       |    field_type: high_level
       |    machine_name: ownerEmail
       |    value: ''
       |    type: string
       |  contact_email:
       |    field_type: high_level
       |    machine_name: contactEmail
       |    value: ''
       |    type: string
       |  creation_location:
       |    field_type: high_level
       |    machine_name: creationLocation
       |    value: ESS:<instrument_name>
       |    type: string
       |  start_time_hl:
       |    field_type: high_level
       |    machine_name: startTime
       |    value: <start_time>
       |    type: date
       |  run_number_hl:
       |    field_type: high_level
       |    machine_name: runNumber
       |    value: <run_number>
       |    type: string
       |  source_folder:
       |    field_type: high_level
       |    machine_name: sourceFolder
       |    value: <data_file_path>
       |    type: string
       |  creation_time:
       |    field_type: high_level
       |    machine_name: creationTime
       |    value: '2024-01-01T00:00:00Z'
       |    type: date
       |  acquisition_team_members:
       |    field_type: scientific_metadata
       |    machine_name: acquisition_team_members
       |    human_name: Acquisition Team Members
       |    value: <acquisition_team_members>
       |    type: string
       |  job_id_sm:
       |    field_type: scientific_metadata
       |    machine_name: job_id
       |    human_name: Data Collection Job Id
       |    value: <job_id>
       |    type: string
       |  sample_temperature:
       |    field_type: scientific_metadata
       |    machine_name: sample_temperature
       |    human_name: Sample Temperature
       |    value: <sample_temperature>
       |    type: float
       |$extra""".stripMargin

  private val commonVariables: String =
    """  job_id:
      |    source: NXS
      |    path: /entry/entry_identifier_uuid
      |    value_type: string
      |  proposal_id:
      |    source: NXS
      |    path: /entry/experiment_identifier
      |    value_type: string
      |  dataset_original_name:
      |    source: NXS
      |    path: /entry/title
      |    value_type: string
      |  instrument_name:
      |    source: NXS
      |    path: /entry/instrument/name
      |    value_type: string
      |  start_time:
      |    source: NXS
      |    path: /entry/start_time
      |    value_type: date
      |  run_number:
      |    source: NXS
      |    path: /entry/entry_identifier
      |    value_type: integer
      |  sample_temperature:
      |    source: NXS
      |    path: /entry/sample/temperature
      |    value_type: float
      |  acquisition_team_members_list:
      |    source: NXS
      |    path: /entry/user_*/name
      |    value_type: string[]
      |  acquisition_team_members:
      |    source: VALUE
      |    operator: join_with_space
      |    value: <acquisition_team_members_list>
      |    value_type: string
      |""".stripMargin

  /** The paced workload's one schema, shaped like the facility's
    * small-ymir schema. */
  val smallSchema: String =
    s"""order: 1
       |id: bench-small
       |name: Bench Small Schema
       |instrument: ymir
       |selector: 'filename:contains:/small/'
       |variables:
       |$commonVariables""".stripMargin.stripSuffix("\n") +
      "\nschema:\n" + highLevel("")

  /** Bulk schema for instrument `inst`: the common variables plus one
    * SC catalog lookup and one summed NXlog. */
  def bulkSchema(inst: Int): String = {
    val (name, marker, log, _) = BulkInstruments(inst)
    s"""order: ${10 * (inst + 1)}
       |id: bench-${name.toLowerCase}
       |name: Bench ${name.toLowerCase.capitalize} Schema
       |instrument: ${name.toLowerCase}
       |selector: 'filename:contains:/$marker/'
       |variables:
       |$commonVariables  instrument_pid:
       |    source: SC
       |    url: instruments/<instrument_name>
       |    field: pid
       |    value_type: string
       |  log_values:
       |    source: NXS
       |    path: /entry/instrument/$log/value
       |    value_type: float[]
       |  log_total:
       |    source: VALUE
       |    operator: sum
       |    value: <log_values>
       |    value_type: float
       |schema:
       |""".stripMargin + highLevel(
      """  instrument_id:
        |    field_type: high_level
        |    machine_name: instrumentId
        |    value: <instrument_pid>
        |    type: string
        |  log_total_sm:
        |    field_type: scientific_metadata
        |    machine_name: log_total
        |    human_name: Summed Log
        |    value: <log_total>
        |    type: float
        |""".stripMargin)
  }
}
