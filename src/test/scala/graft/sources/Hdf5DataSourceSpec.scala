package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** The V2 `graft-hdf5` source must expose the same trees the golden
  * Hdf5ReaderSpec fixtures prove, as a relational scan with working
  * file pruning, path pushdown, and column pruning.
  *
  * The golden-value and path-pushdown tests read the reference's real
  * small-ymir fixture and cancel where it is absent; the others need
  * any valid NeXus files and read the real fixtures where they exist,
  * else the generated stand-ins of [[Hdf5Fixtures]]. */
class Hdf5DataSourceSpec extends AnyFunSuite {
  import TestSpark.spark

  val ymir = "/root/reference/test-data/small-ymir.hdf"
  val coda = "/root/reference/test-data/small-coda.hdf"
  private lazy val anyYmir = Hdf5Fixtures.orGenerated(ymir)
  private lazy val anyCoda = Hdf5Fixtures.orGenerated(coda)

  private def readYmir = spark.read.format("graft-hdf5").load(ymir)

  test("scalar dataset rows match the golden fixture values") {
    assume(Hdf5Fixtures.present(ymir), s"$ymir not present")
    val rows = readYmir
      .filter(col("path").isin("/entry/title", "/entry/instrument/name",
        "/entry/entry_identifier"))
      .select(col("path"), col("value_str"), col("dtype"))
      .collect().map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap
    assert(rows("/entry/title") == ("october 28th, lego test 1, cont", "string"))
    assert(rows("/entry/instrument/name") == ("YMIR", "string"))
    assert(rows("/entry/entry_identifier") == ("11465", "string"))
  }

  test("short name resolves via DataSourceRegister; both fixtures scan") {
    val df = spark.read.format("graft-hdf5")
      .load(anyYmir, anyCoda)
    val byFile = df.groupBy(col("file")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byFile.keySet == Set(anyYmir, anyCoda))
    assert(byFile.values.forall(_ > 0))
  }

  test("directory option walks recursively and file prefix filter prunes at planning") {
    val dir = Files.createTempDirectory("dsv2")
    Files.copy(Paths.get(anyYmir), dir.resolve("a.hdf"))
    val sub = Files.createDirectory(dir.resolve("sub"))
    Files.copy(Paths.get(anyCoda), sub.resolve("b.nxs"))
    val df = spark.read.format("graft-hdf5").load(dir.toString)
    assert(df.select(col("file")).distinct().count() == 2)
    // file-level pushdown: only one partition planned under the prefix
    val pruned = df.filter(col("file").startsWith(dir.resolve("sub").toString))
    val scan = pruned.queryExecution.executedPlan.collectFirst {
      case b: BatchScanExec => b }.get
    assert(scan.inputPartitions.length == 1,
      s"expected 1 planned file, got ${scan.inputPartitions.length}")
    assert(pruned.select(col("file")).distinct().count() == 1)
  }

  test("path prefix pushdown reaches the scan and column pruning narrows the schema") {
    assume(Hdf5Fixtures.present(ymir), s"$ymir not present")
    val q = readYmir.filter(col("path").startsWith("/entry/user_"))
      .select(col("path"), col("value_str"))
    val scan = q.queryExecution.executedPlan.collectFirst {
      case b: BatchScanExec => b }.get
    // pruned read schema: only the two requested columns
    assert(scan.scan.readSchema().fieldNames.toSet == Set("path", "value_str"))
    val names = q.filter(col("path").endsWith("/name"))
      .collect().map(_.getString(1))
    assert(names.length == 12)
    assert(names.contains("Søren Schmidt"))
  }

  test("units + dims + n_elems surface for array datasets") {
    // every dataset row carries a consistent dims/n_elems contract
    val rows = spark.read.format("graft-hdf5").load(anyYmir)
      .select(col("dims"), col("n_elems")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val dims = r.getSeq[Int](0)
      val expect = if (dims.isEmpty) 1L else dims.map(_.toLong).product
      assert(r.getLong(1) == expect)
    }
  }

  test("F11 permissive: corrupt file contributes zero rows; failfast throws") {
    val dir = Files.createTempDirectory("dsv2bad")
    Files.copy(Paths.get(anyYmir), dir.resolve("ok.hdf"))
    Files.write(dir.resolve("garbage.nxs"), "not an hdf5 file".getBytes)
    val df = spark.read.format("graft-hdf5").load(dir.toString)
    assert(df.select(col("file")).distinct().count() == 1)
    val ff = spark.read.format("graft-hdf5").option("mode", "failfast")
      .load(dir.resolve("garbage.nxs").toString)
    assertThrows[Exception](ff.count())
  }
}
