package graft

import org.apache.spark.sql.functions._

/** Round-16 ops: delete propagation into the stored BM25 and graph
  * artifacts, and vacuum composed with the versioned streaming store.
  */
class Round16OpsSpec extends SparkSpec {

  private def tmpIdx(prefix: String): (String, String) = (
    tempDir(prefix).toString,
    prefix.replace("-", "_") + "_" +
      java.util.UUID.randomUUID().toString.replace("-", ""))

  test("Bm25Index.purge: fold == rebuild over survivors; zero roster rows in the artifact") {
    import spark.implicits._
    val all = Seq(
      (1L, "apple banana cherry date"),
      (2L, "apple apple banana"),
      (3L, "cherry date elder fig"),
      (4L, "banana fig fig grape"),
      (5L, "apple grape"),
      (6L, "zebra zebra yak")).toDF("doc_id", "text")
    val roster = Seq(2L, 4L, 6L).toDF("doc_id")
    val (bA, tA) = tmpIdx("graft-bm25prg-a")
    val s0 = operators.Bm25Index.build(spark, all, tA, bA)
    val (bP, tP) = tmpIdx("graft-bm25prg-p")
    val (s1, nPurged) = operators.Bm25Index.purge(spark, s0, roster, tP, bP)
    assert(nPurged == 3)
    // CONTENT AUDIT: the purged artifact holds zero roster doc_ids —
    // the compliance bar is the bytes on disk, not the query result
    assert(spark.table(tP).join(roster, Seq("doc_id"), "left_semi").count() == 0)
    // words wholly owned by purged docs ('zebra', 'yak') left the df
    // spine; nothing non-positive survives the retraction
    val dfRows = spark.read.parquet(s1.dfPath).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(!dfRows.exists(r => r._1 == "zebra" || r._1 == "yak"))
    assert(dfRows.forall(_._2 > 0))
    // folded retraction == rebuild over the surviving corpus: spines
    // row-for-row, scores bit-for-bit (N, L, df all moved exactly)
    val (bB, tB) = tmpIdx("graft-bm25prg-b")
    val rebuilt = operators.Bm25Index.build(spark,
      all.join(roster, Seq("doc_id"), "left_anti"), tB, bB)
    val dfB = spark.read.parquet(rebuilt.dfPath).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(dfRows.toSet == dfB.toSet)
    assert(spark.read.parquet(s1.statsPath).collect().toSeq.map(_.toString) ==
      spark.read.parquet(rebuilt.statsPath).collect().toSeq.map(_.toString))
    def q(tbl: String) = spark.table(tbl).filter(col("doc_id") === 1L)
      .select(col("doc_id").as("query_id"), col("word"))
    val got = operators.Bm25Index.scoredTopK(spark, s1, q(tP)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    val want = operators.Bm25Index.scoredTopK(spark, rebuilt, q(tB)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(got == want && got.nonEmpty)
    Seq(tA, tP, tB).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("GraphIndex.purge: roster edges gone in both directions; spine == rebuild; orphans drop") {
    import spark.implicits._
    val cs = Seq(("c1", "s1"), ("c1", "s2"), ("c2", "s1"), ("c89", "s3"),
      ("c89", "s1")).toDF("a", "b")
    val edges = cs.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(cs.select(col("b").as("src"), col("a").as("dst")))
    val roster = Seq("c89").toDF("node")
    val (bA, tA) = tmpIdx("graft-gprg-a")
    val s0 = operators.GraphIndex.build(spark, edges, tA, bA)
    val (bP, tP) = tmpIdx("graft-gprg-p")
    val (s1, nRemoved) = operators.GraphIndex.purge(spark, s0, roster, tP, bP)
    // c89 sourced 2 edges and received 2 reverses → 4 retracted rows
    assert(nRemoved == 4)
    // CONTENT AUDIT: no roster node survives as src OR dst, and the
    // orphaned supplier (s3: only neighbor was c89) left the graph
    val live = spark.table(tP).select(col("src"), col("dst")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(!live.exists(e => e._1 == "c89" || e._2 == "c89"))
    assert(!live.exists(e => e._1 == "s3" || e._2 == "s3"))
    // folded spine == degree aggregate over the survivors (s1 lost the
    // edge into c89: 3 → 2), zero-degree rows are gone
    val spine = spark.read.parquet(s1.spinePath).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(spine == Map("c1" -> 2L, "c2" -> 1L, "s1" -> 2L, "s2" -> 1L))
    // ranks over the purged artifact == ranks over a from-scratch build
    val (bB, tB) = tmpIdx("graft-gprg-b")
    val survivors = edges.filter(col("src") =!= "c89" && col("dst") =!= "c89")
    val rebuilt = operators.GraphIndex.build(spark, survivors, tB, bB)
    val got = operators.GraphIndex.ranks(spark, s1, iterations = 3).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val want = operators.GraphIndex.ranks(spark, rebuilt, iterations = 3).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want && got.nonEmpty)
    Seq(tA, tP, tB).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("Bm25Index.maintain: drift rule picks fold vs compacting rebuild; scores branch-invariant") {
    import spark.implicits._
    val base = Seq(
      (1L, "apple banana cherry date"),
      (2L, "apple apple banana"),
      (3L, "cherry date elder fig"),
      (4L, "banana fig fig grape")).toDF("doc_id", "text")
    val small = Seq((5L, "apple grape")).toDF("doc_id", "text")
    val big = Seq(
      (6L, "apple banana cherry elder fig grape"),
      (7L, "date elder fig grape apple banana"),
      (8L, "cherry cherry date date elder")).toDF("doc_id", "text")
    def q(tbl: String) = spark.table(tbl).filter(col("doc_id") % 2 === 0)
      .select(col("doc_id").as("query_id"), col("word"))
    // APPEND branch: a small batch stays under the drift threshold
    val (bA, tA) = tmpIdx("graft-bm25mnt-a")
    val s0 = operators.Bm25Index.build(spark, base, tA, bA)
    val (bR1, tR1) = tmpIdx("graft-bm25mnt-r1")
    val r1 = operators.Bm25Index.maintain(spark, s0, small, 1, tR1, bR1)
    assert(!r1.rebuilt && r1.stored.postingsTable == tA)
    assert(!spark.catalog.tableExists(tR1))
    // REBUILD branch: a batch outgrowing the base trips n_new*2 > n_base
    // and compacts to a fresh gen-0 artifact
    val (bR2, tR2) = tmpIdx("graft-bm25mnt-r2")
    val r2 = operators.Bm25Index.maintain(spark, r1.stored, big, 2, tR2, bR2)
    assert(r2.rebuilt && r2.stored.postingsTable == tR2)
    assert(r2.nNew * 2 > r2.nBase)
    // the compacted artifact is all gen-0 (fragmentation bought back)
    assert(spark.table(tR2).filter(col("gen") =!= 0).count() == 0)
    // either branch == a from-scratch build over everything
    val (bB, tB) = tmpIdx("graft-bm25mnt-b")
    val oneShot = operators.Bm25Index.build(spark,
      base.unionByName(small).unionByName(big), tB, bB)
    val got = operators.Bm25Index.scoredTopK(spark, r2.stored, q(tR2)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    val want = operators.Bm25Index.scoredTopK(spark, oneShot, q(tB)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(got == want && got.nonEmpty)
    Seq(tA, tR2, tB).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("publishVersioned x vacuumRetain: burned numbers and replay detection survive a vacuum") {
    import spark.implicits._
    val root = tempDir("graft-vacrp-spec").toString
    val d = Seq((1L, "a")).toDF("k", "v")
    assert(streaming.StreamingStage.publishVersioned(d, root, 0))  // v00001
    assert(streaming.StreamingStage.publishVersioned(d, root, 1))  // v00002
    assert(operators.Publish.vacuumRetain(root, keepLast = 1) == Seq("v00001"))
    // the crash-replay case arriving AFTER the vacuum: batch 0's
    // version is gone, but the CURRENT batchId (1) still outranks it
    assert(!streaming.StreamingStage.publishVersioned(d, root, 0))
    // replay of the current batchId itself is also a no-op
    assert(!streaming.StreamingStage.publishVersioned(d, root, 1))
    // the next batch must take a FRESH number — v00001 stays burned
    // through its .purged marker even though its dir is gone
    assert(streaming.StreamingStage.publishVersioned(d, root, 2))
    assert(operators.Publish.currentVersion(root).contains("v00003"))
    // batchId gaps are fine (a skipped empty batch): monotone advance
    assert(streaming.StreamingStage.publishVersioned(d, root, 7))
    assert(operators.Publish.currentVersion(root).contains("v00004"))
  }

  test("compactPurgedMarkers: watermark preserves burned numbers, idempotent, monotone") {
    import spark.implicits._
    val root = tempDir("graft-cm-spec").toString
    val d = Seq((1L, "a")).toDF("k", "v")
    (0 to 2).foreach(i => streaming.StreamingStage.publishVersioned(d, root, i))
    assert(operators.Publish.vacuumRetain(root, keepLast = 1) == Seq("v00001", "v00002"))
    assert(operators.Publish.compactPurgedMarkers(root) == 2)
    // markers gone, watermark in force: the next number still burns past
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(root, "v00001.purged")))
    assert(streaming.StreamingStage.publishVersioned(d, root, 3))
    assert(operators.Publish.currentVersion(root).contains("v00004"))
    // idempotent: nothing left to fold
    assert(operators.Publish.compactPurgedMarkers(root) == 0)
    // monotone across a second vacuum+fold cycle: the watermark only
    // ever rises, and a crash-shaped leftover marker BELOW it is
    // harmless (both forms coexist; max+1 unchanged)
    assert(operators.Publish.vacuumRetain(root, keepLast = 1) == Seq("v00003"))
    assert(operators.Publish.compactPurgedMarkers(root) == 1)
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(root, "v00002.purged"))
    assert(streaming.StreamingStage.publishVersioned(d, root, 4))
    assert(operators.Publish.currentVersion(root).contains("v00005"))
  }

  test("vacuumRetain orders versions numerically past the %05d padding overflow") {
    val root = tempDir("graft-vac-num")
    // fabricate a history that straddles the padding boundary:
    // lexicographically v99999 sorts AFTER v100000/v100001
    Seq("v99999", "v100000", "v100001").foreach(v =>
      java.nio.file.Files.createDirectory(root.resolve(v)))
    java.nio.file.Files.write(root.resolve("_CURRENT"), "v100001".getBytes)
    val removed = operators.Publish.vacuumRetain(root.toString, keepLast = 2)
    // numeric window = {v100001, v100000}; the OLDEST version goes —
    // a lexicographic sort would instead retain v99999 and reclaim
    // v100000 from inside the window
    assert(removed == Seq("v99999"))
    assert(!java.nio.file.Files.isDirectory(root.resolve("v99999")))
    assert(java.nio.file.Files.isDirectory(root.resolve("v100000")))
    assert(java.nio.file.Files.isDirectory(root.resolve("v100001")))
    assert(java.nio.file.Files.exists(root.resolve("v99999.purged")))
  }
}
