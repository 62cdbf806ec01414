package graft

import graft.operators.{Bm25Index, IvfIndex}
import graft.sources.Tables
import graft.staging.StagingViews
import org.apache.spark.sql.functions.col

/** Jobs of the paper's pipeline and the stored-index verbs it feeds,
  * counted by call site ([[JobSites]]): the QA is one aggregate query,
  * and reads of files the engine or the test-data generator wrote take
  * their schema from a footer, so no job is a schema inference.
  */
class ReadJobBudgetSpec extends SparkSpec {

  private def all(v: StagingViews) =
    Seq(v.cleanAccounts, v.primary, v.field, v.promise, v.restructure)

  private def readerJobs(jobs: Seq[JobSites.Job]): Seq[String] =
    jobs.map(_.site).filter(JobSites.startedByReader)
      .map(_.linesIterator.take(4).mkString(" <- "))

  test("Pipeline.qa over persisted views runs one SQL execution and at most 3 jobs") {
    val v = Pipeline.stageAndPersist(spark, Derive.stgAccounts(spark, sfSmoke),
      Derive.stgActivities(spark, sfSmoke), tieCols = Seq("src_seq"))
    try {
      all(v).foreach(_.count())
      val jobs = JobSites.of(spark)(Pipeline.qa(v))
      val executions = jobs.map(_.execution)
      assert(executions.forall(_.isDefined) && executions.distinct.size == 1,
        s"qa ran ${executions.distinct.size} SQL executions")
      assert(jobs.size <= 3, s"qa ran ${jobs.size} jobs (budget 3)")
    } finally all(v).foreach(_.unpersist(blocking = true))
  }

  test("Pipeline.runAll starts no schema-inference job") {
    val out = tempDir("graft-reads").toString
    var res: Option[Pipeline.RunResult] = None
    try {
      val jobs = JobSites.of(spark) {
        res = Some(Pipeline.runAll(spark, sfSmoke, csvOutDir = Some(out)))
      }
      assert(readerJobs(jobs).isEmpty, readerJobs(jobs).mkString("\n  ", "\n  ", ""))
    } finally res.foreach(r => all(r.views).foreach(_.unpersist(blocking = true)))
  }

  test("Bm25Index.append and scoredTopK start no schema-inference job") {
    import spark.implicits._
    val base = tempDir("graft-reads").toString
    val table = "bm25_reads_" + java.util.UUID.randomUUID().toString.replace("-", "")
    try {
      val s0 = Bm25Index.build(spark, Seq((1L, "apple banana cherry"), (2L, "banana date"))
        .toDF("doc_id", "text"), table, base)
      var s1 = s0
      val fold = JobSites.of(spark) {
        s1 = Bm25Index.append(spark, s0, Seq((3L, "cherry date elder")).toDF("doc_id", "text"),
          1)._1
      }
      assert(readerJobs(fold).isEmpty, readerJobs(fold).mkString("\n  ", "\n  ", ""))
      val query = JobSites.of(spark)(Bm25Index.scoredTopK(spark, s1,
        Seq((1L, "banana"), (1L, "date")).toDF("query_id", "word"), k = 2).collect())
      assert(readerJobs(query).isEmpty, readerJobs(query).mkString("\n  ", "\n  ", ""))
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("IvfIndex.append starts no schema-inference job; readCentroids starts no job") {
    val base = tempDir("graft-reads").toString
    val table = "ivf_reads_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val vecs = Tables.load(spark, sfSmoke, "embeddings")
    try {
      val stored = IvfIndex.build(spark, vecs.filter(col("vec_id") % 5 =!= 0), k = 4,
        iterations = 2, table, base)
      val fold = JobSites.of(spark)(
        IvfIndex.append(spark, stored, vecs.filter(col("vec_id") % 5 === 0), gen = 1))
      assert(readerJobs(fold).isEmpty, readerJobs(fold).mkString("\n  ", "\n  ", ""))
      var centroids = Seq.empty[(Int, Array[Double])]
      val read = JobSites.of(spark) { centroids = IvfIndex.readCentroids(spark, stored) }
      assert(read.isEmpty, read.map(_.site.linesIterator.take(4).mkString(" <- ")))
      assert(centroids.map(_._1) == (0 until 4))
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }
}
