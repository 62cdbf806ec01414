package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions.col
import graft.staging.{StagingLayer, StagingViews}

/** The fused staging frame (`StagingLayer.contacts`, one activity scan
  * and one shuffle for the four contact views) must give each view
  * exactly the rows of its own per-view function.
  */
class FusedStagingSpec extends SparkSpec {

  private val ties = Seq("src_seq")

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  private def perView(act: DataFrame): Seq[DataFrame] = Seq(
    StagingLayer.cleanContactsPrimary(act, ties), StagingLayer.cleanContactsField(act, ties),
    StagingLayer.cleanContactsPromise(act, ties), StagingLayer.cleanContactsRestructure(act, ties))

  private def assertFusedEqualsPerView(act: DataFrame): Unit = {
    val fused = StagingViews(spark.emptyDataFrame, StagingLayer.contacts(act, ties))
    StagingLayer.contactViews.zip(fused.contactFrames).zip(perView(act)).foreach {
      case ((cv, got), want) =>
        assert(got.columns.toSeq == StagingLayer.viewCols, cv.name)
        assert(rows(got) == rows(want), cv.name)
    }
  }

  /** Activity rows in the `Derive.stgActivities` shape. */
  private def activities(rs: (String, String, String, String, String, String, String,
                              String, Long)*): DataFrame = {
    import spark.implicits._
    rs.toDF("account_id", "activity_date", "activity_time", "collection_channel",
        "contact_type", "contact_outcome", "agent_name", "notes", "src_seq")
      .select(col("account_id"), col("activity_date"), col("activity_time"),
        col("activity_date").as("next_activity_date"), col("collection_channel"),
        col("contact_type"), col("contact_outcome"), col("contact_outcome").as("non_payment_reason"),
        col("notes").as("contact_location"), col("notes").as("next_action"), col("notes"),
        col("notes").as("phone_number"), col("agent_name").as("department"), col("agent_name"),
        col("src_seq"))
  }

  test("fused views equal the per-view functions on sfSmoke") {
    assertFusedEqualsPerView(Derive.stgActivities(spark, sfSmoke))
  }

  test("fused views equal the per-view functions on edge-case rows") {
    // an activity row qualifies for 1 view (primary), 2 (+ field, or +
    // promise / restructure) or 3 (field and an outcome); a1 and a4 are
    // in all 4 views through two rows
    val act = activities(
      ("a1", "01/02/2024", "10:00:00", "FIELD", "PRIMARY", "PAYMENT_PROMISE", "AG", "n1", 1L),
      ("a1", "02/02/2024", "09:00:00", "PHONE", "RELATIVE", "RESTRUCTURE_REQUEST", "AG", "n2", 2L),
      ("a1", "03/02/2024", "08:00:00", "EMAIL", "NO_CONTACT", "NO_AGREEMENT", "AUTO_DIALER", "n3", 3L),
      ("a2", "05/03/2024", "11:00:00", "PHONE", "PRIMARY", "NO_AGREEMENT", "AG", "n4", 4L),
      ("a2", "05/03/2024", "11:00:00", "PHONE", "PRIMARY", "RESTRUCTURE_REQUEST", "AG", "n5", 5L),
      // NULL channel / outcome / type: primary only, unclassified
      ("a3", "06/03/2024", "12:00:00", null, null, null, null, "n6", 6L),
      ("a3", "06/03/2024", "12:00:00", "MESSAGING", "GUARANTOR", null, "AG", "n7", 7L),
      // NULL and malformed dates parse to NULL and sort last in recency
      ("a4", null, "07:00:00", "FIELD", "THIRD_PARTY", "PAYMENT_PROMISE", "AG", "n8", 8L),
      ("a4", "99/99/9999", "07:00:00", "FIELD", "THIRD_PARTY", "PAYMENT_PROMISE", "AG", "n9", 9L),
      ("a4", "31/02/2024", "06:00:00", "AGENT_BANK", "ESCALATION", "RESTRUCTURE_REQUEST",
        "AG", "n10", 10L),
      ("a4", "1/2/24", "06:00:00", "AGENT_BANK", "ESCALATION", "RESTRUCTURE_REQUEST",
        "AG", "n11", 11L),
      // ties in every view's order that only src_seq breaks (the lower
      // wins), listed high-seq first
      ("a5", "09/09/2024", "09:09:09", "FIELD", "PRIMARY", "PAYMENT_PROMISE", "AG", "n13", 13L),
      ("a5", "09/09/2024", "09:09:09", "FIELD", "PRIMARY", "PAYMENT_PROMISE", "AG", "n12", 12L),
      ("a6", "10/10/2024", "10:10:10", "PHONE", "PRIMARY", "RESTRUCTURE_REQUEST", "AG", "n15", 15L),
      ("a6", "10/10/2024", "10:10:10", "PHONE", "PRIMARY", "RESTRUCTURE_REQUEST", "AG", "n14", 14L),
      // a NULL account is one key of its own in every view it reaches
      (null, "11/11/2024", "11:11:11", "FIELD", "PRIMARY", "PAYMENT_PROMISE", "AG", "n16", 16L),
      (null, "12/11/2024", "11:11:11", "FIELD", "PRIMARY", "NO_AGREEMENT", "AG", "n17", 17L))
    assertFusedEqualsPerView(act)
    // every view is non-empty, and the src_seq tie went to the lower seq
    val fused = StagingViews(spark.emptyDataFrame, StagingLayer.contacts(act, ties))
    assert(fused.contactFrames.forall(_.count() > 0))
    assert(fused.promise.filter(col("account_id") === "a5").select("notes").head().getString(0)
      == "n12")
    assert(fused.restructure.filter(col("account_id") === "a6").select("notes").head()
      .getString(0) == "n14")
  }

  test("the fused frame scans once and shuffles once, after a partial top-1") {
    val df = StagingLayer.contacts(Derive.stgActivities(spark, sfSmoke), ties)
    df.collect()
    val ops = JobSites.operators(Seq(df.queryExecution.executedPlan))
    val plan = df.queryExecution.executedPlan.toString
    assert(ops.count(_.isInstanceOf[FileSourceScanExec]) == 1, plan)
    assert(ops.count(_.isInstanceOf[ShuffleExchangeExec]) == 1, plan)
    // the top-1 per (view, account) runs on both sides of the exchange
    val exchange = ops.collectFirst { case e: ShuffleExchangeExec => e }.get
    assert(exchange.child.nodeName == "TopKPerKey", plan)
  }
}
