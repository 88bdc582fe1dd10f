package graft.streaming

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.operators.IngestDemo
import graft.streaming.Messages._

/** Sustained-throughput parity with the reference's stress envelope
  * (BASELINE.md: 1 msg/s for 300 s, ≤60 s per-record) on the ingest
  * stream.
  */
class StreamSubstrateSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  test("throughput: 300 wrdn messages end-to-end well above 1 msg/s") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Array[Byte]]
    val results = new ConcurrentLinkedQueue[Row]()
    val cfg = IngestStream.Config(
      schemas = Seq(IngestDemo.schema),
      fileReader = IngestStreamFixture.reader,
      fileLister = IngestStreamFixture.lister)
    val query = IngestStream.ingestQuery(
      input.toDF(), cfg, (batch, _) => batch.collect().foreach(results.add))

    val t0 = System.nanoTime()
    val msgs = (1 to 300).map(i => MessageCodec.encodeWrdnFb(
      WritingFinished("svc", s"job-$i", error_encountered = false,
        s"/data/a/run$i.nxs", "{}", "done")))
    msgs.grouped(100).foreach(batch => input.addData(batch))
    query.processAllAvailable()
    query.stop()
    val secs = (System.nanoTime() - t0) / 1e9
    assert(results.size == 300, s"got ${results.size}")
    val rate = 300 / secs
    info(f"ingested 300 msgs in $secs%.1f s → $rate%.0f msg/s")
    assert(rate > 1.0, f"below the reference envelope: $rate%.2f msg/s")
  }
}

class CheckpointRecoverySpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  test("restart from checkpoint resumes offsets — no reprocessing (§2.7)") {
    implicit val sqlCtx = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val input = MemoryStream[Array[Byte]]
    val results = new ConcurrentLinkedQueue[String]()
    val cfg = IngestStream.Config(
      schemas = Seq(IngestDemo.schema),
      fileReader = IngestStreamFixture.reader,
      fileLister = IngestStreamFixture.lister)
    def sink(batch: org.apache.spark.sql.DataFrame, id: Long): Unit =
      batch.select("runNumber").collect().foreach(r => results.add(r.getString(0)))

    def wrdn(i: Int) = MessageCodec.encodeWrdnFb(WritingFinished(
      "svc", s"j$i", error_encountered = false, s"/data/a/r$i.nxs", "{}", "ok"))

    val q1 = IngestStream.ingestQuery(input.toDF(), cfg, sink, Some(ckpt))
    input.addData(wrdn(1), wrdn(2), wrdn(3))
    q1.processAllAvailable()
    q1.stop()
    assert(results.size == 3)

    // restart against the same checkpoint: only NEW offsets process
    input.addData(wrdn(4), wrdn(5))
    val q2 = IngestStream.ingestQuery(input.toDF(), cfg, sink, Some(ckpt))
    q2.processAllAvailable()
    q2.stop()
    assert(results.size == 5, s"expected no reprocessing, got ${results.size}")
  }
}
