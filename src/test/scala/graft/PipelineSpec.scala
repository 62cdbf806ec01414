package graft

import org.apache.spark.sql.functions._
import graft.sources.Tables

/** End-to-end pipeline run + physical-layout tests. */
class PipelineSpec extends SparkSpec {

  test("runAll: stage-once pipeline equals per-report paths and exports CSVs") {
    val out = tempDir("graft-pipe").toString
    val res = Pipeline.runAll(spark, sfSmoke, csvOutDir = Some(out))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.mkString("|")).sorted.toSeq
    assert(rows(res.report1) == rows(Queries.report1(spark, sfSmoke)))
    assert(rows(res.report2) == rows(Queries.report2(spark, sfSmoke)))
    assert(rows(res.report3) == rows(Queries.report3(spark, sfSmoke)))
    Seq("mortgage_portfolio_report", "restructuring_pipeline_report",
      "commercial_promises_report").foreach { name =>
      assert(spark.read.option("header", "true").csv(s"$out/$name").count() > 0)
    }
  }

  test("partitioned staging write enables partition pruning (PartitionFilters)") {
    val out = tempDir("graft-part").toString
    Derive.stgAccounts(spark, sfSmoke).write
      .partitionBy("business_division").mode("overwrite").parquet(out)
    val pruned = spark.read.parquet(out).filter(col("business_division") === "RETAIL")
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [isnotnull(business_division"),
      s"partition filter must prune directories:\n$scan")
    assert(scan.contains("business_division#") && scan.contains("= RETAIL)"),
      s"equality predicate must be a partition filter, not a data filter:\n$scan")
    // the filter is NOT pushed as a data filter — it prunes directories
    assert(!scan.contains("PushedFilters: [IsNotNull(business_division)"))
    val expected = Derive.stgAccounts(spark, sfSmoke)
      .filter(col("business_division") === "RETAIL").count()
    assert(pruned.count() == expected && expected > 0)
  }

  test("bucketed staging tables join without a shuffle (the CREATE INDEX analog)") {
    val s = spark
    val prevBroadcast = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // force a non-broadcast join so bucketing (not a broadcast) is what
    // avoids the shuffle — the layout that matters when BOTH sides are
    // too big to broadcast (the 100 TB case)
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val acc = Derive.stgAccounts(s, sfSmoke)
      val act = Derive.stgActivities(s, sfSmoke)
      Tables.writeBucketed(acc, "b_accounts", "account_id", 8)
      Tables.writeBucketed(act, "b_activities", "account_id", 8)
      val joined = s.table("b_accounts").join(s.table("b_activities"), "account_id")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed co-located join must not shuffle:\n$plan")
      assert(joined.count() > 0)
    } finally {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
      s.sql("DROP TABLE IF EXISTS b_accounts")
      s.sql("DROP TABLE IF EXISTS b_activities")
    }
  }
}
