package graft

import org.scalatest.funsuite.AnyFunSuite

/** Locks the bench harness contract so BENCH_r{N}.json can't silently
  * regress to unparseable again (VERDICT r2 "What's wrong" #1-3):
  * the emitted line must be a single valid JSON object with the fields
  * the driver expects, failures must surface in "failed", and the
  * timing statistic must be a median.
  */
class BenchSpec extends AnyFunSuite {
  import TestSpark.{spark, sfDir}

  test("buildLine emits a BOUNDED driver-parseable final line: metric/value/n_queries/failed/sf/loadavg") {
    val line = Bench.buildLine(
      Seq("q1_pricing" -> Seq(1.5, 1.25, 1.3), "bad_query" -> Seq(0.4, -1.0, 0.5)),
      sfDir, loadStart = Seq(1.0, 2.0, 3.0), loadEnd = Seq(4.0, 5.0, 6.0),
      loadLaunch = Seq(0.25, 0.5, 0.75))
    assert(!line.contains("\n"))
    // Parse with the JSON parser that ships in the Spark jars.
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(line)
    assert(node.get("metric").asText() == "total")
    assert(node.get("unit").asText() == "sec")
    assert(math.abs(node.get("value").asDouble() - 1.3) < 1e-9,
      "failed queries must not shrink or inflate the total")
    assert(node.get("n_queries").asInt() == 2)
    // per-query payloads moved OUT of the final line (BENCH_r05 carried
    // repeats, r06 carried medians — BOTH overflowed the driver's ~2 KB
    // tail capture and parsed as null): the final line must stay bounded
    // no matter how many queries the bench runs
    assert(node.get("queries") == null,
      "per-query medians must not ride the compact final line")
    assert(node.get("repeats") == null,
      "per-repeat arrays must not ride the compact final line")
    assert(node.get("failed").get(0).asText() == "bad_query")
    assert(node.get("sf").asText() == sfDir)
    assert(node.get("loadavg_start").get(0).asDouble() == 1.0)
    assert(node.get("loadavg_end").get(2).asDouble() == 6.0)
    // pre-warm-up launch load rides the line so the artifact itself
    // distinguishes co-tenant load from self-load (r16 verdict #3)
    assert(node.get("loadavg_launch").get(0).asDouble() == 0.25)
  }

  test("buildLine stays <=300 bytes even at 200 queries with zero failures") {
    val many = (1 to 200).map(i => f"query_with_a_long_name_$i%03d" -> Seq(1.234567891, 2.3456789, 3.456789))
    val line = Bench.buildLine(many, "/root/testdata/sf0.1",
      loadStart = Seq(11.234, 22.345, 33.456), loadEnd = Seq(44.567, 55.678, 66.789),
      loadLaunch = Seq(77.891, 88.912, 99.123))
    assert(line.getBytes("UTF-8").length <= 300,
      s"final line must fit the driver's tail capture, was ${line.length}B: $line")
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    assert(node.get("n_queries").asInt() == 200)
  }

  test("buildMediansLine carries 3-decimal per-query medians on its own line") {
    val medians = Bench.buildMediansLine(
      Seq("q1_pricing" -> Seq(1.5, 1.304823836, 1.2), "bad_query" -> Seq(0.4, -1.0, 0.5)))
    assert(!medians.contains("\n"))
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(medians)
    assert(node.get("metric").asText() == "medians")
    assert(node.get("queries").get("q1_pricing").asDouble() == 1.305,
      "medians must be rounded to 3 decimals (full-precision doubles " +
        "tripled the r06 line length)")
    assert(node.get("queries").get("bad_query").asDouble() == -1.0)
  }

  test("buildDetailLine carries the per-repeat contention audit") {
    val detail = Bench.buildDetailLine(
      Seq("q1_pricing" -> Seq(1.5, 1.25, 1.3), "bad_query" -> Seq(0.4, -1.0, 0.5)))
    assert(!detail.contains("\n"))
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(detail)
    assert(node.get("metric").asText() == "repeats")
    assert(node.get("repeats").get("q1_pricing").size() == 3)
    assert(node.get("repeats").get("q1_pricing").get(1).asDouble() == 1.25)
    assert(node.get("repeats").get("bad_query").get(1).asDouble() == -1.0)
  }

  test("buildLine/buildMediansLine escape quotes/backslashes in sf dir and query names") {
    val rows = Seq("""od"d\name""" -> Seq(1.0, 1.0, 1.0))
    val line = Bench.buildLine(rows, """/tmp/sf"0.1\x""")
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    assert(node.get("sf").asText() == """/tmp/sf"0.1\x""")
    val medians = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Bench.buildMediansLine(rows))
    assert(medians.get("queries").get("""od"d\name""").asDouble() == 1.0)
  }

  test("loadAvg reads three non-negative values on linux") {
    val l = Bench.loadAvg()
    assert(l.isEmpty || (l.length == 3 && l.forall(_ >= 0.0)))
  }

  test("interleaved runs round-robin passes, not consecutive per-query repeats") {
    val order = scala.collection.mutable.ArrayBuffer.empty[(Int, String)]
    val results = Bench.interleaved(Seq("a", "b", "c"), 3, (p, n) => {
      order += ((p, n)); p * 10.0 + n.head.toDouble
    })
    // execution order is pass-major: a,b,c then a,b,c then a,b,c
    assert(order.toSeq == Seq((0, "a"), (0, "b"), (0, "c"),
      (1, "a"), (1, "b"), (1, "c"), (2, "a"), (2, "b"), (2, "c")))
    // per-query repeat vectors come back in pass order
    assert(results.map(_._1) == Seq("a", "b", "c"))
    assert(results.head._2 == Seq('a'.toDouble, 10 + 'a'.toDouble, 20 + 'a'.toDouble))
  }

  test("median of 3 is the middle value") {
    assert(Bench.median(Seq(5.0, 1.0, 2.0)) == 2.0)
    assert(Bench.median(Seq(3.0)) == 3.0)
  }

  test("a mini-run of one query through Bench.once returns a positive time") {
    val t = Bench.once(spark, sfDir, "q1_pricing")
    assert(t > 0.0)
  }

  test("run reports -1 when any repeat fails") {
    assert(Bench.run(spark, sfDir, "no_such_query") == -1.0)
  }

  test("the stage-metrics listener records one row per timed run, and the sidecar line parses") {
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.{Seconds, Span}
    val metrics = new Bench.QueryMetrics
    spark.sparkContext.addSparkListener(metrics)
    try {
      val wall = Bench.once(spark, sfDir, "q3_shipping", Some(metrics), pass = 2)
      assert(wall > 0.0)
      assert(Bench.once(spark, sfDir, "no_such_query", Some(metrics), pass = 2) == -1.0)
      val rows = metrics.rows.toArray(Array.empty[Bench.MetricsRow]).toSeq
      assert(rows.map(r => (r.query, r.pass)) == Seq(("q3_shipping", 2), ("no_such_query", 2)))
      val Seq(q3, missing) = rows
      assert(q3.wallS == wall)
      assert(missing.wallS == -1.0)
      // the listener bus delivers stage events asynchronously
      eventually(timeout(Span(30, Seconds))) {
        assert(q3("jobs") >= 1 && q3("stages") >= 1 && q3("tasks") >= 1)
        assert(q3("shuffle_write_bytes") > 0, "q3_shipping aggregates through a shuffle")
      }
      // a query that fails before planning starts no job of its own
      assert(missing("jobs") == 0 && missing("stages") == 0)

      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(q3.json)
      import scala.jdk.CollectionConverters._
      assert(node.fieldNames.asScala.toSeq == Seq("query", "pass", "wall_s") ++ Bench.MetricKeys)
      assert(node.get("query").asText() == "q3_shipping")
      assert(node.get("pass").asInt() == 2)
      assert(node.get("stages").asLong() == q3("stages"))
      assert(new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(missing.json).get("wall_s").asDouble() == -1.0)
    } finally spark.sparkContext.removeSparkListener(metrics)
  }

  test("the metrics sidecar is named after the bench output file") {
    assert(Bench.sidecarPath("bench_out.json") == "bench_out.metrics.jsonl")
    assert(Bench.sidecarPath("/tmp/run/bench_all_sf0.1.json") == "/tmp/run/bench_all_sf0.1.metrics.jsonl")
    assert(Bench.sidecarPath("out.txt") == "out.txt.metrics.jsonl")
  }
}
