package graft

import org.apache.spark.sql.functions._

/** The durable bucketed-staging artifact (Pipeline.writeStagedBucketed)
  * must let a NEW SparkSession join the staged views on account_id with
  * no exchange on either side — the cross-job analog of the reference's
  * `CREATE INDEX` (`01_staging_layer.sql:13-14`). Broadcast is disabled
  * so the join can only be exchange-free via the catalog's bucket spec.
  */
class BucketedStagingSpec extends SparkSpec {

  test("new session joins bucketed staging with zero exchanges, same result") {
    val v = Pipeline.stageAndPersist(spark,
      Derive.stgAccounts(spark, sfSmoke), Derive.stgActivities(spark, sfSmoke),
      tieCols = Seq("src_seq"))
    val base = tempDir("graft_bucketed").toString
    try Pipeline.writeStagedBucketed(v, base, nBuckets = 4, prefix = "t_staged")
    finally Pipeline.persisted(v).foreach(_.unpersist())

    // expected result computed in the ORIGINAL session from the live views
    val expected = v.primary.select("account_id", "collection_channel")
      .join(v.field.select(col("account_id"), col("contact_outcome")), "account_id")
      .collect().map(_.toString).sorted.toSeq

    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    val b = Pipeline.readStagedBucketed(s2, prefix = "t_staged")
    val joined = b.primary.select("account_id", "collection_channel")
      .join(b.field.select(col("account_id"), col("contact_outcome")), "account_id")
    val got = joined.collect().map(_.toString).sorted.toSeq
    assert(got == expected)

    // final (post-AQE) physical plan: bucketed scan on both sides, no
    // shuffle or broadcast exchange anywhere
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"expected exchange-free bucketed join, got:\n$plan")

    // aggregation on the bucket key is exchange-free too
    val agg = b.primary.groupBy("account_id").agg(count(lit(1)).as("n"))
    agg.collect()
    val aggPlan = agg.queryExecution.executedPlan.toString
    assert(!aggPlan.contains("Exchange"), s"expected exchange-free bucketed agg, got:\n$aggPlan")
  }
}
