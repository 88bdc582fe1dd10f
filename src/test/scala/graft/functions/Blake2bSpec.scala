package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets.UTF_8

/** RFC 7693 test vectors + the reference's checksum usage shape
  * (blake2b-512 over file bytes, hex digest). */
class Blake2bSpec extends AnyFunSuite {

  test("BLAKE2b-512 empty input (RFC 7693 vector)") {
    assert(Blake2b.hashHex(Array.emptyByteArray) ==
      "786a02f742015903c6c6fd852552d272912f4740e15847618a86e217f71f5419" +
        "d25e1031afee585313896444934eb04b903a685b1448b755d56f701afe9be2ce")
  }

  test("BLAKE2b-512 of 'abc' (RFC 7693 appendix A)") {
    assert(Blake2b.hashHex("abc".getBytes(UTF_8)) ==
      "ba80a53f981c4d0d6a2797b69f12f6e94c212f14685ac4b74b12bb6fdbffa2d1" +
        "7d87c5392aab792dc252d5de4533cc9518d38aa8dbf1925ab92386edd4009923")
  }

  test("multi-block input (>128 bytes) hashes consistently") {
    val data = ("x" * 300).getBytes(UTF_8)
    assert(Blake2b.hashHex(data).length == 128)
    assert(Blake2b.hashHex(data) == Blake2b.hashHex(data))
    assert(Blake2b.hashHex(data) != Blake2b.hashHex(("x" * 301).getBytes(UTF_8)))
  }

  test("incremental updates of any split equal the one-shot hash") {
    val data = new Array[Byte](1000)
    new scala.util.Random(7).nextBytes(data)
    for (total <- Seq(0, 1, 127, 128, 129, 256, 1000); chunk <- Seq(1, 64, 128, 200, 1000)) {
      val hasher = new Blake2b.Hasher()
      data.take(total).grouped(chunk).foreach(c => hasher.update(c, 0, c.length))
      assert(Blake2b.hex(hasher.digest()) == Blake2b.hashHex(data.take(total)), s"$total/$chunk")
    }
  }

  test("digest size 32 truncated variant") {
    assert(Blake2b.hashHex("abc".getBytes(UTF_8), 32) ==
      "bddd813c634239723171ef3fee98579b94964e3bb1cb3e427262c8c068d52319")
  }
}

class CommonPathSpec extends AnyFunSuite {
  import graft.plans.CommonPath._

  test("os.path.commonpath semantics") {
    assert(commonPath(Seq("/ess/data/run1/a.nxs", "/ess/data/run2/b.nxs")) ==
      Some("/ess/data"))
    assert(commonPath(Seq("/ess/data/run1/a.nxs")) == Some("/ess/data/run1/a.nxs"))
    assert(commonPath(Seq("/a/b", "/a/bc")) == Some("/a"))
    assert(commonPath(Nil) == None)
  }

  test("groupBy aggregation via CommonPathAggregator") {
    import graft.TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val agg = udaf(new graft.plans.CommonPathAggregator)
    val df = Seq(
      ("g1", "/ess/data/run1/a.nxs"), ("g1", "/ess/data/run2/b.nxs"),
      ("g2", "/opt/x/y.dat"), ("g2", "/opt/x/z.dat"))
      .toDF("g", "p")
      .groupBy($"g").agg(agg($"p").as("common"))
    val got = df.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map("g1" -> "/ess/data", "g2" -> "/opt/x"))
  }
}
