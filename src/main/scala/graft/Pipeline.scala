package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.Quality
import graft.reports.ReportingLayer
import graft.sources.Tables
import graft.staging.{StagingLayer, StagingViews}

/** Production entry point mirroring the reference's run shape
  * (`README.md:60-76`): build the staging layer ONCE, QA it, run the 3
  * reports against the same staged views, export CSVs.
  *
  * Materialization judgment (contra the reference's blanket
  * no-materialization stance, which it itself scale-qualifies at
  * `README.md:116`): the 5 staged views are 1-row-per-account and orders
  * of magnitude smaller than the raw activity log, and every report
  * reads ALL of them — so persist them once (MEMORY_AND_DISK, spillable)
  * instead of re-deriving per report. At 100 TB that converts 15 scans
  * of the activity log (3 reports × 5 views) into 5, and AQE broadcasts
  * the persisted deduped views into the report joins.
  */
object Pipeline {

  final case class RunResult(
      views: StagingViews,
      report1: DataFrame, report2: DataFrame, report3: DataFrame)

  def stageAndPersist(spark: SparkSession, accounts: DataFrame, activities: DataFrame,
                      tieCols: Seq[String]): StagingViews = {
    val v = StagingLayer.build(spark, accounts, activities, tieCols)
    Seq(v.cleanAccounts, v.primary, v.field, v.promise, v.restructure)
      .foreach(_.persist())
    v
  }

  private def stagedTableNames(prefix: String): Seq[String] = Seq(
    s"${prefix}_clean_accounts", s"${prefix}_contacts_primary",
    s"${prefix}_contacts_field", s"${prefix}_contacts_promise",
    s"${prefix}_contacts_restructure")

  /** Durable bucketed staging artifact — the cross-job analog of the
    * reference's `CREATE INDEX idx_stg_accounts_account_id`
    * (`01_staging_layer.sql:13-14`). [[stageAndPersist]] covers runs that
    * share one SparkSession; this writes the 5 staged views as
    * `account_id`-bucketed, bucket-sorted Parquet TABLES so any LATER
    * session (the catalog keeps the bucket spec; a plain parquet re-read
    * would lose it) joins or aggregates them on account_id with no
    * exchange on the staged side — the staging shuffle is paid once at
    * write time, then amortized over every downstream report run.
    *
    * nBuckets sizes the parallelism floor at read time: pick ≈ the
    * cluster's target partition count for the staged size (buckets are
    * not splittable — too few caps parallelism, too many makes small
    * files).
    */
  def writeStagedBucketed(v: StagingViews, basePath: String, nBuckets: Int,
                          prefix: String = "staged"): Unit =
    stagedTableNames(prefix)
      .zip(Seq(v.cleanAccounts, v.primary, v.field, v.promise, v.restructure))
      .foreach { case (name, df) =>
        df.write.mode("overwrite")
          .format("parquet")
          .option("path", s"$basePath/$name")
          .bucketBy(nBuckets, "account_id")
          .sortBy("account_id")
          .saveAsTable(name)
      }

  /** Reread the bucketed staging artifact (from any session sharing the
    * catalog) as a StagingViews ready for the reporting layer.
    */
  def readStagedBucketed(spark: SparkSession, prefix: String = "staged"): StagingViews = {
    val Seq(a, p, f, pr, r) = stagedTableNames(prefix).map(spark.table)
    StagingViews(a, p, f, pr, r)
  }

  /** The reference's §5.1 data-quality checks, as hard assertions. */
  def qa(v: StagingViews): Unit = {
    Seq("clean_contacts_primary" -> v.primary, "clean_contacts_field" -> v.field,
      "clean_contacts_promise" -> v.promise, "clean_contacts_restructure" -> v.restructure)
      .foreach { case (name, df) =>
        Quality.assertUniqueKey(df, org.apache.spark.sql.functions.col("account_id"), name)
        Quality.assertNoNullKey(df, org.apache.spark.sql.functions.col("account_id"), name)
      }
    Quality.assertNoNullKey(v.cleanAccounts,
      org.apache.spark.sql.functions.col("account_id"), "clean_accounts")
  }

  /** Stage → QA → 3 reports (+ optional CSV export). */
  def runAll(spark: SparkSession, dir: String,
             csvOutDir: Option[String] = None): RunResult = {
    val v = stageAndPersist(spark,
      Derive.stgAccounts(spark, dir), Derive.stgActivities(spark, dir),
      tieCols = Seq("src_seq"))
    qa(v)
    val tie = Seq("operation_number")
    val r1 = ReportingLayer.mortgagePortfolio(v, tie)
    val r2 = ReportingLayer.restructuringPipeline(v, tie)
    val r3 = ReportingLayer.commercialPromises(v, tie)
    csvOutDir.foreach { out =>
      Tables.writeCsv(r1, s"$out/mortgage_portfolio_report", singleFile = true)
      Tables.writeCsv(r2, s"$out/restructuring_pipeline_report", singleFile = true)
      Tables.writeCsv(r3, s"$out/commercial_promises_report", singleFile = true)
    }
    RunResult(v, r1, r2, r3)
  }
}
