package graft

import graft.operators.{Bm25Index, GraphIndex, IvfIndex}
import graft.sources.Tables
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.functions.col

/** Jobs of the paper's pipeline and the stored-index verbs it feeds,
  * counted by call site ([[JobSites]]): the staging layer reads the
  * activity log once, the QA is one aggregate query, and reads of files
  * the engine or the test-data generator wrote take their schema from a
  * footer, so no job is a schema inference.
  */
class ReadJobBudgetSpec extends SparkSpec {

  private def readerJobs(jobs: Seq[JobSites.Job]): Seq[String] =
    jobs.map(_.site).filter(JobSites.startedByReader)
      .map(_.linesIterator.take(4).mkString(" <- "))

  test("Pipeline.qa over persisted views runs one SQL execution and at most 3 jobs") {
    val v = Pipeline.stageAndPersist(spark, Derive.stgAccounts(spark, sfSmoke),
      Derive.stgActivities(spark, sfSmoke), tieCols = Seq("src_seq"))
    try {
      Pipeline.persisted(v).foreach(_.count())
      val jobs = JobSites.of(spark)(Pipeline.qa(v))
      val executions = jobs.map(_.execution)
      assert(executions.forall(_.isDefined) && executions.distinct.size == 1,
        s"qa ran ${executions.distinct.size} SQL executions")
      assert(jobs.size <= 3, s"qa ran ${jobs.size} jobs (budget 3)")
    } finally Pipeline.persisted(v).foreach(_.unpersist(blocking = true))
  }

  /** One `Pipeline.runAll` on sfSmoke: its jobs, the executed plans of
    * its queries, and the RDDs it left persisted.
    */
  private lazy val runAll: (Seq[JobSites.Job], Seq[SparkPlan], Set[Int]) = {
    val out = tempDir("graft-reads").toString
    val before = spark.sparkContext.getPersistentRDDs.keySet
    var plans = Seq.empty[SparkPlan]
    val jobs = JobSites.of(spark) {
      plans = JobSites.plansOf(spark)(Pipeline.runAll(spark, sfSmoke, csvOutDir = Some(out)))
    }
    (jobs, plans, spark.sparkContext.getPersistentRDDs.keySet.toSet -- before)
  }

  test("Pipeline.runAll starts no schema-inference job") {
    val (jobs, _, _) = runAll
    assert(readerJobs(jobs).isEmpty, readerJobs(jobs).mkString("\n  ", "\n  ", ""))
  }

  test("Pipeline.runAll stages and QAs in one SQL execution of at most 6 jobs") {
    val (jobs, _, _) = runAll
    val staging = jobs.filter(j => j.site.contains("graft.Pipeline$.qa(") ||
      j.site.contains("graft.Pipeline$.stageAndPersist("))
    assert(staging.nonEmpty && staging.forall(_.execution.isDefined) &&
      staging.map(_.execution).distinct.size == 1,
      s"staging and QA ran ${staging.map(_.execution).distinct.size} SQL executions")
    assert(staging.size <= 6, s"staging and QA ran ${staging.size} jobs (budget 6)")
  }

  test("Pipeline.runAll scans the activity log once") {
    val (_, plans, _) = runAll
    val scans = JobSites.operators(plans).collect {
      case f: FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.endsWith("/events.parquet")) => f
    }
    assert(scans.size == 1, s"${scans.size} scans of the activity log")
  }

  test("Pipeline.runAll releases every frame it persisted") {
    val (_, _, left) = runAll
    assert(left.isEmpty, s"RDDs still persisted after runAll: $left")
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

  test("GraphIndex.purge observes its retracted-edge count on the spine write") {
    import spark.implicits._
    val base = tempDir("graft-reads").toString
    val tables = Seq("g", "gp", "gq").map(_ + "_reads_" +
      java.util.UUID.randomUUID().toString.replace("-", ""))
    try {
      val s0 = GraphIndex.build(spark, Seq(("a", "b"), ("b", "a"), ("b", "c"), ("c", "b"))
        .toDF("src", "dst"), tables(0), s"$base/g")
      var retracted = -1L
      val jobs = JobSites.of(spark) {
        retracted = GraphIndex.purge(spark, s0, Seq("b").toDF("node"), tables(1), s"$base/gp")._2
      }
      // b's 2 out-edges and the 2 edges into it; the spine sums ran 16 jobs in all
      assert(retracted == 4L)
      assert(jobs.size <= 14, s"purge ran ${jobs.size} jobs (budget 14)")
      assert(GraphIndex.purge(spark, s0, Seq("z").toDF("node"), tables(2), s"$base/gq")._2 == 0L)
    } finally tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
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
