package graft

import org.apache.spark.sql.Row
import graft.reports.ReportingLayer
import graft.sources.Tables
import graft.staging.StagingLayer

/** SURVEY.md §7.1 item 5: the registered temp views must make the SQL
  * path reach the identical results as the DataFrame path — an internal
  * differential test of the declarative parity (S3/S4), plus the CSV
  * sink round-trip (S7).
  */
class SqlFacadeSpec extends SparkSpec {

  private def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.mkString("|")).sorted.toSeq

  test("report 1 via spark.sql over registered views == DataFrame path") {
    val acc = Derive.stgAccounts(spark, sfSmoke)
    val act = Derive.stgActivities(spark, sfSmoke)
    val views = StagingLayer.build(spark, acc, act, tieCols = Seq("src_seq"))
    val dfPath = ReportingLayer.mortgagePortfolio(views, Seq("operation_number"))
    val sqlPath = spark.sql(
      """WITH joined AS (
        |  SELECT a.account_id, a.account_checkdigit, a.agent_type, a.customer_name,
        |         a.product_type, a.risk_segment, a.outstanding_balance, a.agent_name,
        |         a.operation_number, a.business_division, a.customer_city, a.coverage_area,
        |         COALESCE(c.phone_number, 'NO_CONTACT') AS contact_phone,
        |         COALESCE(c.notes, 'NO_CONTACT') AS activity_notes,
        |         COALESCE(CASE WHEN c.contact_type = '01.PRIMARY' THEN 'PRIMARY'
        |                       WHEN c.contact_type = '02.THIRD_PARTY' THEN 'THIRD_PARTY'
        |                       WHEN c.contact_type = '03.NO_CONTACT' THEN 'NO_CONTACT'
        |                       WHEN c.contact_type = '04.AUTO_DIALER' THEN 'AUTO_DIALER'
        |                       ELSE 'NO_CONTACT' END, 'NO_CONTACT') AS contact_type,
        |         COALESCE(date_format(c.activity_date, 'yyyy-MM-dd'), 'NO_CONTACT') AS last_activity_date,
        |         CASE WHEN f.account_id IS NOT NULL THEN 'YES' ELSE 'NO' END AS field_visit_completed
        |  FROM clean_accounts a
        |  LEFT JOIN clean_contacts_primary c ON a.account_id = c.account_id
        |  LEFT JOIN (SELECT account_id FROM clean_contacts_field) f ON a.account_id = f.account_id
        |  WHERE a.product_type = 'MORTGAGE' AND a.business_division = 'RETAIL'
        |    AND a.containment_percentage = 0),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY account_id
        |        ORDER BY risk_segment DESC NULLS LAST, operation_number ASC NULLS FIRST) AS rn
        |      FROM joined)
        |SELECT 'COMPANY_NAME' AS company, account_id, account_checkdigit, agent_type,
        |       customer_name, product_type, risk_segment, outstanding_balance, agent_name,
        |       operation_number, contact_phone, activity_notes, contact_type,
        |       last_activity_date, field_visit_completed, business_division, customer_city,
        |       coverage_area
        |FROM r WHERE rn = 1""".stripMargin)
    assert(sortedRows(sqlPath) == sortedRows(dfPath))
    assert(dfPath.count() > 0)
  }

  test("reports 2 and 3 via spark.sql over registered views == DataFrame path") {
    val acc = Derive.stgAccounts(spark, sfSmoke)
    val act = Derive.stgActivities(spark, sfSmoke)
    val views = StagingLayer.build(spark, acc, act, tieCols = Seq("src_seq"))
    val df2 = ReportingLayer.restructuringPipeline(views, Seq("operation_number"))
    // report 2, written the reference's way: LEFT JOIN restructure +
    // null-rejecting WHERE (Catalyst's EliminateOuterJoin derives the
    // semi join the DataFrame path spells out; SURVEY §2 F7)
    val sql2 = spark.sql(
      """WITH joined AS (
        |  SELECT a.account_id, a.account_checkdigit, a.agent_type, a.customer_name,
        |         a.product_type, a.risk_segment, a.outstanding_balance, a.agent_name,
        |         a.operation_number, a.business_division, a.customer_city, a.coverage_area,
        |         COALESCE(c.phone_number, 'NO_CONTACT') AS contact_phone,
        |         COALESCE(c.notes, 'NO_CONTACT') AS activity_notes,
        |         COALESCE(CASE WHEN c.contact_type = '01.PRIMARY' THEN 'PRIMARY'
        |                       WHEN c.contact_type = '02.THIRD_PARTY' THEN 'THIRD_PARTY'
        |                       WHEN c.contact_type = '03.NO_CONTACT' THEN 'NO_CONTACT'
        |                       WHEN c.contact_type = '04.AUTO_DIALER' THEN 'AUTO_DIALER'
        |                       ELSE 'NO_CONTACT' END, 'NO_CONTACT') AS contact_type,
        |         COALESCE(date_format(c.activity_date, 'yyyy-MM-dd'), 'NO_CONTACT') AS last_activity_date,
        |         CASE WHEN f.account_id IS NOT NULL THEN 'YES' ELSE 'NO' END AS field_visit_completed
        |  FROM clean_accounts a
        |  LEFT JOIN clean_contacts_primary c ON a.account_id = c.account_id
        |  LEFT JOIN (SELECT account_id FROM clean_contacts_field) f ON a.account_id = f.account_id
        |  LEFT JOIN clean_contacts_restructure r ON a.account_id = r.account_id
        |  WHERE a.business_division = 'RETAIL' AND a.containment_percentage = 0
        |    AND r.contact_type = 'RESTRUCTURE'),
        |rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY account_id
        |         ORDER BY product_type ASC NULLS FIRST, risk_segment DESC NULLS LAST,
        |                  operation_number ASC NULLS FIRST) AS rn
        |       FROM joined)
        |SELECT 'COMPANY_NAME' AS company, account_id, account_checkdigit, agent_type,
        |       customer_name, product_type, risk_segment, outstanding_balance, agent_name,
        |       operation_number, contact_phone, activity_notes, contact_type,
        |       last_activity_date, field_visit_completed, business_division, customer_city,
        |       coverage_area
        |FROM rk WHERE rn = 1""".stripMargin)
    assert(sortedRows(sql2) == sortedRows(df2))

    val df3 = ReportingLayer.commercialPromises(views, Seq("operation_number"))
    val sql3 = spark.sql(
      """WITH joined AS (
        |  SELECT a.account_id, a.account_checkdigit, a.customer_name, a.agent_type,
        |         a.risk_segment, a.outstanding_balance, a.operation_number,
        |         COALESCE(c.collection_channel, 'NO_CONTACT') AS collection_channel,
        |         COALESCE(CASE WHEN c.contact_type = '01.PRIMARY' THEN 'PRIMARY'
        |                       WHEN c.contact_type = '02.THIRD_PARTY' THEN 'THIRD_PARTY'
        |                       WHEN c.contact_type = '03.NO_CONTACT' THEN 'NO_CONTACT'
        |                       WHEN c.contact_type = '04.AUTO_DIALER' THEN 'AUTO_DIALER'
        |                       ELSE 'NO_CONTACT' END, 'NO_CONTACT') AS contact_type,
        |         CASE WHEN p.account_id IS NOT NULL THEN 'YES' ELSE 'NO' END AS payment_promise_active,
        |         COALESCE(date_format(p.next_activity_date, 'yyyy-MM-dd'), 'NO_PROMISE_DATE') AS promise_date,
        |         COALESCE(c.phone_number, 'NO_CONTACT') AS contact_phone,
        |         COALESCE(c.notes, 'NO_CONTACT') AS activity_notes
        |  FROM clean_accounts a
        |  LEFT JOIN clean_contacts_primary c ON a.account_id = c.account_id
        |  LEFT JOIN clean_contacts_promise p ON a.account_id = p.account_id
        |  WHERE a.business_division = 'RETAIL' AND a.containment_percentage = 0
        |    AND a.product_type = 'COMMERCIAL_LOAN'),
        |rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY account_id
        |         ORDER BY risk_segment DESC NULLS LAST, operation_number ASC NULLS FIRST) AS rn
        |       FROM joined)
        |SELECT 'COMPANY_NAME' AS company, account_id, account_checkdigit, customer_name,
        |       agent_type, risk_segment, outstanding_balance, collection_channel,
        |       contact_type, payment_promise_active, promise_date, contact_phone,
        |       activity_notes
        |FROM rk WHERE rn = 1""".stripMargin)
    assert(sortedRows(sql3) == sortedRows(df3))
  }

  test("csv sink round-trips a report (S7)") {
    val out = tempDir("graft-csv").toString
    val report = Queries.report3(spark, sfSmoke)
    Tables.writeCsv(report, out, singleFile = true)
    val back = spark.read.option("header", "true").csv(out)
    assert(back.columns.toSeq == report.columns.toSeq)
    assert(back.count() == report.count())
  }
}
