package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.{Derive, DeriveSql, Pipeline}
import graft.staging.StagingLayer

/** One `Pipeline.runAll` per round: the five staged views, QA, the three
  * reports and their CSV export. Its jobs are attributed to those layers
  * by call site (see [[Ledger.layers]]; the raw-table mapping `Derive`
  * counts as staging).
  */
final class EtlReports(spark: SparkSession, ledger: Ledger, in: String, work: String)
    extends Workload {

  private val csvDir = s"$work/csv"
  private var last: Option[Pipeline.RunResult] = None
  private val viewNames = Seq("clean_accounts", "contacts_primary", "contacts_field",
    "contacts_promise", "contacts_restructure")
  private def views(r: Pipeline.RunResult) = {
    val v = r.views
    Seq(v.cleanAccounts, v.primary, v.field, v.promise, v.restructure)
  }

  ledger.layers ++= Seq(
    "graft.Derive$." -> "staging",
    "graft.Pipeline$.stageAndPersist(" -> "staging",
    "graft.Pipeline$.qa(" -> "qa",
    "graft.reports." -> "reports",
    "graft.sources.Tables$.writeCsv(" -> "sources.csv")

  def pass(i: Int): Unit = {
    last = Some(ledger.span("runAll")(Pipeline.runAll(spark, in, Some(csvDir))))
    if (ledger.traced) ledger.note("staging.cached_mb",
      spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1e6)
  }

  override def afterPass(i: Int): Unit = last.foreach(views(_).foreach(_.unpersist(blocking = true)))

  /** Writes what the checker compares against DuckDB: the last round's
    * staged views (still cached) and reports (the reports as plain
    * parquet are also the space figure's base), the preprocessed
    * primary-contact rows (malformed-date check) and the oracle SQL.
    */
  def finish(): Map[String, Any] = {
    val out = s"$work/out"
    val r = last.get
    viewNames.zip(views(r)).foreach { case (n, df) => df.write.parquet(s"$out/views/$n") }
    StagingLayer.preprocessPrimary(Derive.stgActivities(spark, in), Seq("src_seq"))
      .select(col("src_seq"), col("activity_date"), col("next_activity_date"))
      .write.parquet(s"$out/primary_pre")
    Seq("mortgage_portfolio_report" -> r.report1, "restructuring_pipeline_report" -> r.report2,
      "commercial_promises_report" -> r.report3)
      .foreach { case (n, df) => df.write.parquet(s"$out/reports_parquet/$n") }
    val sql = Map("report" -> Map(
        "mortgage_portfolio_report" -> DeriveSql.report1,
        "restructuring_pipeline_report" -> DeriveSql.report2,
        "commercial_promises_report" -> DeriveSql.report3),
      "view" -> Map(
        "clean_accounts" -> DeriveSql.withStaging("SELECT * FROM clean_accounts"),
        "contacts_primary" -> DeriveSql.withStaging("SELECT * FROM clean_contacts_primary"),
        "contacts_field" -> DeriveSql.withStaging("SELECT * FROM clean_contacts_field"),
        "contacts_promise" -> DeriveSql.withStaging("SELECT * FROM clean_contacts_promise"),
        "contacts_restructure" -> DeriveSql.withStaging("SELECT * FROM clean_contacts_restructure")))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$out/oracle_sql.json"),
      Json.write(sql).getBytes("UTF-8"))
    Map("outputs" -> Map("csv" -> csvDir, "out" -> out),
      "space" -> Map("root" -> csvDir, "plain" -> s"$out/reports_parquet"))
  }
}
