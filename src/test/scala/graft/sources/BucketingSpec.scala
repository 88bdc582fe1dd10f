package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Tables, TestSpark}

/** Plan-level proof of the bucketing contract: a self-join on the
  * bucket key plans with zero Exchange nodes (the write-time shuffle
  * bought co-location), while the identical join over plain parquet
  * shuffles both sides.
  */
class BucketingSpec extends AnyFunSuite {
  import TestSpark.{spark, sfDir}

  test("bucketed self-join has no Exchange; plain parquet twin does") {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    docs.write.bucketBy(8, "doc_id").sortBy("doc_id")
      .mode("overwrite").saveAsTable("docs_bucketed")
    // the test tables are broadcast-sized; disable broadcast so the
    // join key's distribution requirement is visible in the plan
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val b = spark.table("docs_bucketed")
      val bucketedJoin = b.as("x").join(b.as("y"), "doc_id")
        .select(col("x.doc_id"), col("y.n_chars"))
      val bucketedPlan = bucketedJoin.queryExecution.executedPlan.toString
      assert(!bucketedPlan.contains("Exchange"),
        s"bucketed join must not shuffle:\n$bucketedPlan")
      assert(bucketedPlan.contains("SelectedBucketsCount"), bucketedPlan)

      val plainPlan = docs.as("x").join(docs.as("y"), "doc_id")
        .select(col("x.doc_id"), col("y.n_chars"))
        .queryExecution.executedPlan.toString
      assert(plainPlan.contains("Exchange hashpartitioning(doc_id"),
        s"control: the non-bucketed twin should shuffle on the key:\n$plainPlan")

      // and the results agree
      assert(bucketedJoin.count() ==
        docs.as("x").join(docs.as("y"), "doc_id").count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS docs_bucketed")
    }
  }

  test("as-of exec on a (key, ts)-bucket-sorted layout elides both exchanges") {
    val events = Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    // one write-time shuffle buys the layout every as-of after it reuses
    events.write.mode("overwrite")
      .bucketBy(8, "user_id").sortBy("user_id", "ts")
      .saveAsTable("events_asof_bucketed")
    try {
      val t = spark.table("events_asof_bucketed")
      val errors = t.filter(col("event_id") % 7 === 0)
        .select(col("event_id"), col("user_id"), col("ts"), col("value").as("err_value"))
      val clicks = t.filter(col("event_id") % 7 === 3)
        .select(col("user_id"), col("ts"), col("value").as("click_value"))
      val joined = graft.plans.AsofJoinNative.asofJoin(
        errors, clicks, Seq("user_id"), "ts")
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("AsofJoin"), p)
      assert(!p.contains("Exchange"),
        s"bucketed layout must satisfy the exec's ClusteredDistribution:\n$p")
      assert(joined.count() > 0)
      // control: the same join over plain parquet shuffles both sides
      val pe = Tables.events(spark, sfDir)
      val pErr = pe.filter(col("event_id") % 7 === 0)
        .select(col("event_id"), col("user_id"), col("ts"), col("value").as("err_value"))
      val pClk = pe.filter(col("event_id") % 7 === 3)
        .select(col("user_id"), col("ts"), col("value").as("click_value"))
      val plain = graft.plans.AsofJoinNative.asofJoin(pErr, pClk, Seq("user_id"), "ts")
      assert(plain.queryExecution.executedPlan.toString.contains("Exchange"),
        "control: plain parquet sides should shuffle")
      // and the layouts agree on the result
      assert(joined.exceptAll(plain).isEmpty && plain.exceptAll(joined).isEmpty)
    } finally {
      spark.sql("DROP TABLE IF EXISTS events_asof_bucketed")
    }
  }
}
