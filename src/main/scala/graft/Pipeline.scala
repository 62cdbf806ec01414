package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

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
  * `README.md:116`): the staged views are 1-row-per-account and orders
  * of magnitude smaller than the raw activity log, and every report
  * reads ALL of them — so [[runAll]] persists them once
  * (MEMORY_AND_DISK, spillable) for its own scope instead of
  * re-deriving per report. The four contact views are staged as one
  * tagged frame ([[StagingLayer.contacts]]), so at 100 TB the run reads
  * the activity log ONCE — not once per contact view and report — and
  * AQE broadcasts the persisted deduped views into the report joins.
  */
object Pipeline {

  final case class RunResult(
      views: StagingViews,
      report1: DataFrame, report2: DataFrame, report3: DataFrame)

  /** The staged views, with `clean_accounts` and the tagged contact
    * frame persisted; the caller releases both ([[runAll]] does before
    * it returns).
    */
  def stageAndPersist(spark: SparkSession, accounts: DataFrame, activities: DataFrame,
                      tieCols: Seq[String]): StagingViews = {
    val v = StagingLayer.build(spark, accounts, activities, tieCols)
    persisted(v).foreach(_.persist())
    v
  }

  /** The frames [[stageAndPersist]] persists. */
  def persisted(v: StagingViews): Seq[DataFrame] = Seq(v.cleanAccounts, v.contacts)

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
      .zip(v.cleanAccounts +: v.contactFrames)
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

  /** The reference's §5.1 data-quality checks, as hard assertions: each
    * contact view is unique per `account_id` (rows == distinct non-NULL
    * keys, so a NULL key fails this first) and has no NULL key;
    * `clean_accounts` has no NULL key. Every view's counts come from
    * ONE aggregate query over the tagged contact frame and
    * `clean_accounts` ([[Quality.keyCounts]]); the checks then fail in
    * the order and with the messages of one `Quality.assertUniqueKey` /
    * `assertNoNullKey` call per view and check.
    */
  def qa(v: StagingViews): Unit = {
    val views = StagingLayer.contactViews
    val accounts = views.size
    val counts = Quality.keyCounts(
      v.contacts.select(col(StagingLayer.tagCol), col("account_id")).unionByName(
        v.cleanAccounts.select(lit(accounts).as(StagingLayer.tagCol), col("account_id"))),
      StagingLayer.tagCol, "account_id")
    views.indices.foreach { t =>
      require(counts(t).unique, s"${views(t).name}: key not unique")
      require(counts(t).nulls == 0L, s"${views(t).name}: NULL keys present")
    }
    require(counts(accounts).nulls == 0L, "clean_accounts: NULL keys present")
  }

  /** Stage → QA → 3 reports (+ optional CSV export). The staged frames
    * are persisted for this call only: they are released before it
    * returns, and the returned frames are lazy plans over the sources.
    */
  def runAll(spark: SparkSession, dir: String,
             csvOutDir: Option[String] = None): RunResult = {
    val v = stageAndPersist(spark,
      Derive.stgAccounts(spark, dir), Derive.stgActivities(spark, dir),
      tieCols = Seq("src_seq"))
    try {
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
    } finally persisted(v).foreach(_.unpersist())
  }
}
