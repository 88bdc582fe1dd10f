package graft.plans

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.operators.Similarity

/** The native codegen'd cosine expression must be BIT-identical to the
  * higher-order-function fold (same index-order double accumulation) —
  * that identity is what keeps the DuckDB oracle valid. */
class CosineSimilaritySpec extends AnyFunSuite {
  import TestSpark.{spark, sfDir}

  test("native expression equals HOF fold bit-for-bit on real embeddings") {
    CosineSimilarity.register(spark)
    val emb = graft.Tables.embeddings(spark, sfDir)
    val a = emb.select(col("vec_id").as("id1"), col("embedding").as("e1")).filter(col("id1") < 40)
    val b = emb.select(col("vec_id").as("id2"), col("embedding").as("e2")).filter(col("id2") < 40)
    val pairs = a.join(b, col("id1") < col("id2"))
      .select(
        Similarity.cosine(col("e1"), col("e2")).as("native"),
        Similarity.cosineFold(col("e1"), col("e2")).as("fold"))
    val diff = pairs.filter(col("native") =!= col("fold")).count()
    assert(diff == 0)
    assert(pairs.count() == 40L * 39 / 2)
  }

  test("edge cases: zero vector null, identical vectors 1.0, orthogonal 0.0") {
    CosineSimilarity.register(spark)
    import spark.implicits._
    val df = Seq(
      (Array(1.0, 0.0), Array(1.0, 0.0)),
      (Array(1.0, 0.0), Array(0.0, 2.0)),
      (Array(0.0, 0.0), Array(1.0, 1.0)))
      .toDF("a", "b")
      .select(call_function("cosine_sim", col("a"), col("b")).as("c"))
    val got = df.collect().map(r => if (r.isNullAt(0)) null else r.getDouble(0))
    assert(got(0) == 1.0 && got(1) == 0.0 && got(2) == null)
  }

  test("non-nullable inputs: a zero vector compiles to null, the field is nullable") {
    CosineSimilarity.register(spark)
    val conf = Seq(
      // literals stay in the projection instead of folding on the driver
      "spark.sql.optimizer.excludedRules" ->
        "org.apache.spark.sql.catalyst.optimizer.ConstantFolding",
      // a generated class Janino rejects fails the query instead of
      // falling back to the interpreted projection
      "spark.sql.codegen.fallback" -> "false")
    val saved = conf.map { case (k, _) => k -> spark.conf.getOption(k) }
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val df = spark.range(1).select(call_function("cosine_sim",
        typedLit(Array(0.0, 0.0)), typedLit(Array(1.0, 1.0))).as("c"))
      // the projection runs inside a whole-stage-codegen stage
      assert(df.queryExecution.executedPlan.toString.linesIterator
        .exists(l => l.contains("*(") && l.contains("cosine_sim")))
      assert(df.collect().map(_.isNullAt(0)).toSeq == Seq(true))
      assert(df.schema("c").nullable)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("interpreted eval path matches codegen (eval via filter on literal)") {
    CosineSimilarity.register(spark)
    import spark.implicits._
    // force interpreted path through a non-codegen context: collect a
    // literal projection both ways
    val v = Seq((Array(0.5, 0.25, -1.5), Array(-0.75, 2.0, 0.125)))
      .toDF("a", "b")
    val native = v.select(call_function("cosine_sim", col("a"), col("b"))).collect()(0).getDouble(0)
    val fold = v.select(graft.operators.Similarity.cosineFold(col("a"), col("b"))).collect()(0).getDouble(0)
    assert(native == fold)
  }
}
