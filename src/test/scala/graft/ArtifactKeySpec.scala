package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import graft.operators.ArtifactKey

/** Commit-keyed stored artifacts (VERDICT r10 #1): the cache key for
  * the stored graph/BM25 artifacts must be METADATA-ONLY — a pointer
  * read or a file-manifest fold, never a corpus scan. The headline
  * assertion here counts Spark jobs during a warm stored-artifact
  * resolution and pins ZERO: the keying + ready-check path submits no
  * job at all, so no plan (and no corpus byte) can hide in it.
  */
class ArtifactKeySpec extends SparkSpec {

  test("corpusKey is stable, manifest-sensitive, and pointer-backed when published") {
    val base = tempDir("graft-akey").toString
    import spark.implicits._
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.parquet(s"$base/t.parquet")
    val k1 = ArtifactKey.corpusKey(s"$base/t.parquet")
    assert(k1 == ArtifactKey.corpusKey(s"$base/t.parquet"), "key must be deterministic")
    // a new commit (extra data file) must change the key
    Seq((3L, "c")).toDF("k", "v").write.mode("append").parquet(s"$base/t.parquet")
    val k2 = ArtifactKey.corpusKey(s"$base/t.parquet")
    assert(k1 != k2, "appended files must invalidate the manifest key")
    // _SUCCESS / hidden files are not identity: rewriting only markers keeps the key
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$base/t.parquet", "_EXTRA_MARKER"), "x".getBytes)
    assert(ArtifactKey.corpusKey(s"$base/t.parquet") == k2,
      "commit markers must not participate in the manifest key")
    // a Publish-managed root keys on the version pointer alone
    val pubRoot = s"$base/pub"
    val v = graft.operators.Publish.publish(
      Seq((1L, "a")).toDF("k", "v"), pubRoot)
    assert(ArtifactKey.corpusKey(pubRoot) == s"pub:$v")
    val v2 = graft.operators.Publish.publish(
      Seq((2L, "b")).toDF("k", "v"), pubRoot)
    assert(ArtifactKey.corpusKey(pubRoot) == s"pub:$v2")
  }

  test("warm stored-artifact resolution submits ZERO Spark jobs (keying reads no corpus)") {
    // cold call: builds (or finds) the artifact — jobs allowed
    ExtQueries.bm25StoredArtifact(spark, sfSmoke)
    ExtQueries.graphStoredArtifact(spark, sfSmoke)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      ExtQueries.bm25StoredArtifact(spark, sfSmoke)
      ExtQueries.graphStoredArtifact(spark, sfSmoke)
      // listener bus is async — give a phantom job time to surface
      Thread.sleep(800)
      assert(jobs.get() == 0,
        s"stored-artifact keying submitted ${jobs.get()} Spark job(s); " +
          "the warm path must be pointer/manifest reads only")
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("stored BM25 query plan references no corpus parquet") {
    import org.apache.spark.sql.execution.ExplainMode
    val plan = ExtQueries.textBm25StoredTopK(spark, sfSmoke)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(!plan.contains("documents.parquet"),
      "stored BM25 query path must not re-read the corpus:\n" + plan.take(3000))
  }
}
