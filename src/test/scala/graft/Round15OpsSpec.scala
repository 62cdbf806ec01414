package graft

import org.apache.spark.sql.functions._

/** Round-15 ops: the stored/incremental BM25 inverted-index family. */
class Round15OpsSpec extends SparkSpec {

  private def tmpIdx(): (String, String) = (
    tempDir("graft-bm25idx").toString,
    "bm25idx_" + java.util.UUID.randomUUID().toString.replace("-", ""))

  private def qOf(tbl: String) =
    spark.table(tbl).filter(col("doc_id") % 2 === 0)
      .select(col("doc_id").as("query_id"), col("word"))

  test("Bm25Index: fold == from-scratch rebuild (global stats N/L/df move exactly)") {
    import spark.implicits._
    val all = Seq(
      (1L, "apple banana cherry date"),
      (2L, "apple apple banana"),
      (3L, "cherry date elder fig"),
      (4L, "banana fig fig grape"),
      (5L, "apple grape")).toDF("doc_id", "text")
    val (bA, tA) = tmpIdx()
    val s0 = operators.Bm25Index.build(spark, all.filter(col("doc_id") <= 3), tA, bA)
    val (s1, nNew) = operators.Bm25Index.append(spark, s0, all.filter(col("doc_id") > 3), 1)
    assert(nNew == 2)
    val (bB, tB) = tmpIdx()
    val oneShot = operators.Bm25Index.build(spark, all, tB, bB)
    // every appended doc shifts N, L and the df of its terms — scores of
    // PRE-EXISTING docs must move too, identically on both paths
    val got = operators.Bm25Index.scoredTopK(spark, s1, qOf(tA)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    val want = operators.Bm25Index.scoredTopK(spark, oneShot, qOf(tB)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(got == want && got.nonEmpty)
    // folded spines equal the rebuilt ones row-for-row
    val dfA = spark.read.parquet(s1.dfPath).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val dfB = spark.read.parquet(oneShot.dfPath).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(dfA == dfB)
    assert(spark.read.parquet(s1.statsPath).collect().toSeq.map(_.toString) ==
      spark.read.parquet(oneShot.statsPath).collect().toSeq.map(_.toString))
    spark.sql(s"DROP TABLE IF EXISTS $tA")
    spark.sql(s"DROP TABLE IF EXISTS $tB")
  }

  test("Bm25Index: a replayed batch folds ZERO new documents (idempotent append)") {
    import spark.implicits._
    val (base, tbl) = tmpIdx()
    val d = Seq((1L, "a b c"), (2L, "b c d")).toDF("doc_id", "text")
    val batch = Seq((3L, "c d e")).toDF("doc_id", "text")
    val s0 = operators.Bm25Index.build(spark, d, tbl, base)
    val (s1, n1) = operators.Bm25Index.append(spark, s0, batch, 1)
    val rows1 = spark.table(tbl).count()
    // Structured Streaming's at-least-once redelivery: the same docs
    // arrive again — postings, df spine, and stats must all hold still
    val (s2, n2) = operators.Bm25Index.append(spark, s1, batch, 2)
    assert(n1 == 1 && n2 == 0)
    assert(spark.table(tbl).count() == rows1)
    assert(spark.read.parquet(s2.statsPath).collect().toSeq.map(_.toString) ==
      spark.read.parquet(s1.statsPath).collect().toSeq.map(_.toString))
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("text_bm25_stored_topk query path reads ONLY stored artifacts (no tokenize, no corpus scan)") {
    import spark.implicits._
    val (base, tbl) = tmpIdx()
    val d = Seq((1L, "a b c"), (2L, "b c d"), (4L, "a d e")).toDF("doc_id", "text")
    val s0 = operators.Bm25Index.build(spark, d, tbl, base)
    val df = operators.Bm25Index.scoredTopK(spark, s0, qOf(tbl))
    val plan = df.queryExecution.optimizedPlan.toString
    // a raw-corpus path would drag the text column through split/explode;
    // the stored path's only relations are the postings table + spines
    assert(!plan.contains("explode") && !plan.contains("split"),
      s"query-time tokenize found in:\n$plan")
    assert(plan.contains(tbl), s"expected the stored postings table in:\n$plan")
    // zero corpus-side exchanges: the bucketed scan's doc_id partitioning
    // carries through the broadcast joins into the pair aggregation, so
    // the only exchange in the whole plan is the ≤k-per-query heap's
    // query_id shuffle
    val exchanges = "(?m)^.*Exchange hashpartitioning".r
      .findAllIn(df.queryExecution.executedPlan.toString).size
    assert(exchanges <= 1,
      s"expected ≤1 exchange (topk only):\n${df.queryExecution.executedPlan}")
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("vacuumRetain: physical reclaim outside the window, survivors byte-intact, idempotent") {
    import spark.implicits._
    val root = tempDir("graft-vac-spec").toString
    (1 to 4).foreach(i =>
      operators.Publish.publish(Seq((i, s"snap$i")).toDF("n", "tag"), root))
    val beforeBytes = java.nio.file.Files.list(
        java.nio.file.Paths.get(root, "v00003")).toArray.length
    val removed = operators.Publish.vacuumRetain(root, keepLast = 2)
    assert(removed == Seq("v00001", "v00002"))
    // the hash gate can't see the physical claims: dirs actually gone,
    // burned-number markers behind, survivors untouched on disk
    Seq("v00001", "v00002").foreach { v =>
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(root, v)))
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(root, s"$v.purged")))
      intercept[IllegalArgumentException] {
        operators.Publish.readVersion(spark, root, v)
      }
    }
    assert(java.nio.file.Files.list(
      java.nio.file.Paths.get(root, "v00003")).toArray.length == beforeBytes)
    assert(operators.Publish.readVersion(spark, root, "v00003")
      .collect().map(_.getString(1)).toSeq == Seq("snap3"))
    assert(operators.Publish.read(spark, root)
      .collect().map(_.getString(1)).toSeq == Seq("snap4"))
    // idempotent: a second pass finds nothing in the window to reclaim
    assert(operators.Publish.vacuumRetain(root, keepLast = 2).isEmpty)
    // a window wider than the history removes nothing
    assert(operators.Publish.vacuumRetain(root, keepLast = 10).isEmpty)
  }

  test("vacuumRetain: failed-publish tombstones are reclaimed regardless of the window") {
    import spark.implicits._
    val root = tempDir("graft-vac-fail").toString
    operators.Publish.publish(Seq((1, "ok")).toDF("n", "tag"), root)
    intercept[IllegalArgumentException] {
      operators.Publish.publish(Seq((2, "bad")).toDF("n", "tag"), root,
        audit = _ => throw new IllegalArgumentException("veto"))
    }
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(root, "v00002.failed")))
    val removed = operators.Publish.vacuumRetain(root, keepLast = 5)
    // the live v00001 sits inside the window; the tombstone holds no
    // committed data and goes regardless
    assert(removed == Seq("v00002.failed"))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(root, "v00002.purged")))
    // the burned number is NOT reused by the next publish
    assert(operators.Publish.publish(Seq((3, "next")).toDF("n", "tag"), root) == "v00003")
  }
}
