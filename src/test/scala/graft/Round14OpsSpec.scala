package graft

import org.apache.spark.sql.functions._

/** Round-14 ops: r8-verdict/advice hardening (solveAuto routing
  * observability, numeric batch-id recovery, degenerate dedup-eval
  * guards) and the stored/incremental graph-artifact family.
  */
class Round14OpsSpec extends SparkSpec {

  test("solveAuto: distributed star fallback fires past maxCollected") {
    import spark.implicits._
    val verts = Seq(1L, 2L, 3L, 4L, 5L).toDF("id")
    val edges = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("src", "dst")
    val before = operators.ConnectedComponents.starFallbacks.get()
    val got = operators.ConnectedComponents
      .solveAuto(verts, edges, maxCollected = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the routing decision itself is what's under test: past the bound
    // the distributed contraction MUST run (a silent driver collect
    // here is the corpus-scale OOM VERDICT r8 #7 is about)
    assert(operators.ConnectedComponents.starFallbacks.get() > before)
    assert(got == Set((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L)))
  }

  test("solveAuto: driver union-find past 100k edges flags centralization") {
    val n = operators.ConnectedComponents.DriverPathWarnEdges + 1
    val edges = spark.range(n)
      .select(col("id").as("src"), (col("id") + 1).as("dst"))
    val verts = spark.range(n + 1).select(col("id"))
    val before = operators.ConnectedComponents.driverPathWarnings.get()
    val got = operators.ConnectedComponents
      .solveAuto(verts, edges, maxCollected = 10000000L)
    assert(got.agg(countDistinct(col("component"))).head().getLong(0) == 1L)
    assert(operators.ConnectedComponents.driverPathWarnings.get() > before)
  }

  test("readCommitted: numeric batch-id max across the 5→6 digit widening") {
    import spark.implicits._
    val root = tempDir("graft-rc-width").toString
    // 'batch-100000' sorts BEFORE 'batch-99999' as text — the numeric
    // parse must still pick it (ADVICE r8)
    assert(streaming.StreamingStage.commitBatch(Seq(99999L).toDF("v"), root, 99999L))
    assert(streaming.StreamingStage.commitBatch(Seq(100000L).toDF("v"), root, 100000L))
    val got = streaming.StreamingStage.readCommitted(spark, root)
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(100000L))
  }

  private def tmpGraph(): (String, String) = (
    tempDir("graft-gidx").toString,
    "gidx_" + java.util.UUID.randomUUID().toString.replace("-", ""))

  test("GraphIndex: append folds NEW edges only and the spine tracks folded degrees") {
    import spark.implicits._
    val (base, tbl) = tmpGraph()
    val y = Seq(("a", "b"), ("b", "a"), ("a", "c"), ("c", "a")).toDF("src", "dst")
    // batch overlaps stored on (a,b)/(b,a) — only (b,c)/(c,b) are new
    val t = Seq(("a", "b"), ("b", "a"), ("b", "c"), ("c", "b")).toDF("src", "dst")
    val s0 = operators.GraphIndex.build(spark, y, tbl, base)
    val (s1, nNew) = operators.GraphIndex.append(spark, s0, t, gen = 1)
    assert(nNew == 2)
    val edges = spark.table(tbl).collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    assert(edges == Set(("a", "b", 0), ("b", "a", 0), ("a", "c", 0),
      ("c", "a", 0), ("b", "c", 1), ("c", "b", 1)))
    // the regression this spec pins: the spine fold must consume the
    // anti-join BEFORE the table append invalidates its cached plan —
    // a post-append fold sees an empty delta and freezes degrees
    val spine = spark.read.parquet(s1.spinePath).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(spine == Set(("a", 2L), ("b", 2L), ("c", 2L)))
    // folded ranks == one-shot run over the union (the gate's contract)
    val got = operators.GraphIndex.ranks(spark, s1, 3).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val want = operators.PageRank.run(y.unionByName(t), 3).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want)
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("GraphIndex.maintain: small batch folds, outgrown batch rebuilds to gen 0") {
    import spark.implicits._
    val (base, tbl) = tmpGraph()
    val (rbBase, rbTbl) = tmpGraph()
    // base: an 8-edge ring (symmetric closure of a 4-cycle)
    val ring = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"))
    val y = (ring ++ ring.map(_.swap)).toDF("src", "dst")
    val s0 = operators.GraphIndex.build(spark, y, tbl, base)
    // batch 1: ONE new symmetric pair — 2·2 ≤ 8, append branch
    val small = Seq(("a", "c"), ("c", "a")).toDF("src", "dst")
    val r1 = operators.GraphIndex.maintain(spark, s0, small, 1, rbTbl, rbBase)
    assert(!r1.rebuilt && r1.nBase == 8 && r1.nNew == 2)
    assert(r1.stored.edgesTable == tbl && r1.stored.spineGen == 1)
    // batch 2: six new pairs — would-be state 12·2 > 8, rebuild branch
    val big = (Seq(("a", "e"), ("b", "e"), ("c", "e"), ("d", "e"), ("a", "d"), ("b", "d"))
      .flatMap(p => Seq(p, p.swap))).toDF("src", "dst")
    val r2 = operators.GraphIndex.maintain(spark, r1.stored, big, 2, rbTbl, rbBase)
    // (a,d)/(d,a) already sit in the ring closure, so 10 of 12 are new:
    // would-be state n_new = 2 + 10 = 12, 12·2 > 8 trips the rebuild
    assert(r2.rebuilt && r2.nBase == 8 && r2.nNew == 12)
    assert(r2.stored.edgesTable == rbTbl && r2.stored.spineGen == 0)
    // the rebuilt artifact is gen-0 throughout and holds the full set
    val gens = spark.table(rbTbl).select("gen").distinct().collect().map(_.getInt(0)).toSeq
    assert(gens == Seq(0))
    assert(spark.table(rbTbl).count() == 8 + 2 + 10)
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"DROP TABLE IF EXISTS $rbTbl")
  }

  test("warmStartRanks: k warm rounds from a j-round vector == (j+k)-round cold start") {
    import spark.implicits._
    val (base, tbl) = tmpGraph()
    val p = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"))
    val edges = (p ++ p.map(_.swap)).toDF("src", "dst")
    val stored = operators.GraphIndex.build(spark, edges, tbl, base)
    val r3 = operators.GraphIndex.ranks(spark, stored, 3)
      .select(col("node"), col("rank_fp"))
    val warm = operators.GraphIndex.warmStartRanks(spark, stored, r3, 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val cold5 = operators.PageRank.run(edges, 5)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(warm == cold5)
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("graph_pagerank_stored query path reads ONLY stored artifacts (no raw-table scan)") {
    import spark.implicits._
    val (base, tbl) = tmpGraph()
    val e = Seq(("a", "b"), ("b", "a")).toDF("src", "dst")
    val stored = operators.GraphIndex.build(spark, e, tbl, base)
    val plan = operators.GraphIndex.ranksUnmaterialized(spark, stored, 3, 85)
      .queryExecution.optimizedPlan.toString
    // a raw-corpus rescan would drag o_orderkey/l_orderkey columns in;
    // the stored path's only relations are the artifact table + spine
    assert(!plan.contains("o_orderkey") && !plan.contains("l_orderkey"))
    assert(plan.contains(tbl), s"expected the stored edge table in:\n$plan")
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("substringMaxRuns: planted 9/17/33-word repeats report EXACT maximal lengths") {
    import spark.implicits._
    def words(prefix: String, n: Int) = (1 to n).map(i => s"$prefix$i")
    val a = words("t", 80)
    val docs = Seq(
      (1L, a.mkString(" ")),
      (2L, a.slice(4, 13).mkString(" ")),   // words 5..13 of doc 1 → 9
      (3L, a.slice(19, 36).mkString(" ")),  // words 20..36 → 17
      (4L, a.slice(39, 72).mkString(" ")),  // words 40..72 → 33
      // intra-doc repeat: x1..x10 twice around distinct filler
      (5L, (words("x", 10) ++ words("f", 12) ++ words("x", 10)).mkString(" "))
    ).toDF("doc_id", "text")
    val got = ExtQueries.substringMaxRuns(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    // a fixed-W span detector reports ≥-8 spans; the extension must
    // report the exact planted lengths, anchored at the exact offsets
    val want = Set(
      (1L, 2L, 5L, 1L, 9L),
      (1L, 3L, 20L, 1L, 17L),
      (1L, 4L, 40L, 1L, 33L),
      (5L, 5L, 1L, 23L, 10L))
    assert(got == want)
  }

  test("substringCut: non-canonical repeats cut to nothing, canonicals stay intact") {
    import spark.implicits._
    def md5hex(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def words(prefix: String, n: Int) = (1 to n).map(i => s"$prefix$i")
    val t = words("t", 20)
    val d3 = (words("x", 10) ++ words("f", 12) ++ words("x", 10)).mkString(" ")
    val docs = Seq(
      (1L, t.mkString(" ")),
      (2L, t.slice(2, 14).mkString(" ")),  // wholly a copy of doc 1 words 3..14
      (3L, d3)                             // intra-doc repeat of x1..x10
    ).toDF("doc_id", "text")
    val got = ExtQueries.substringCut(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    val want = Set(
      (1L, 20L, 0L, md5hex(t.mkString(" "))),                      // canonical intact
      (2L, 12L, 12L, md5hex("")),                                  // later copy fully cut
      (3L, 32L, 10L, md5hex((words("x", 10) ++ words("f", 12)).mkString(" "))))
    assert(got == want)
  }

  test("substringMaxRuns: maxPostings drops ultra-common seed windows whole") {
    import spark.implicits._
    // the same 8 words in 3 docs: 3 postings for one digest
    val d = (1 to 3).map(i => (i.toLong, (1 to 8).map(j => s"c$j").mkString(" ")))
      .toDF("doc_id", "text")
    assert(ExtQueries.substringMaxRuns(d, maxPostings = 2).count() == 0)
    assert(ExtQueries.substringMaxRuns(d, maxPostings = 3).count() == 3) // 3 doc pairs
  }

  test("publishVersioned: replay no-ops, history keeps one time-travelable version per batch") {
    import spark.implicits._
    import operators.Publish
    val root = tempDir("graft-vpub-spec").toString
    val b0 = Seq((1L, "a")).toDF("k", "v")
    assert(streaming.StreamingStage.publishVersioned(b0, root, 0L))
    // crash-replay of batch 0 delivers DIFFERENT (corrupted) rows — the
    // committed store must be untouched
    assert(!streaming.StreamingStage.publishVersioned(
      Seq((9L, "x")).toDF("k", "v"), root, 0L))
    assert(Publish.read(spark, root).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((1L, "a")))
    assert(streaming.StreamingStage.publishVersioned(
      Seq((2L, "b")).toDF("k", "v"), root, 1L))
    // batch 0's version stays time-travelable AFTER batch 1, with its
    // provenance in _META
    assert(Publish.readVersion(spark, root, "v00001").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((1L, "a")))
    assert(Publish.readMeta(root, "v00001")("batchId") == "0")
    assert(Publish.readMeta(root, "v00002")("batchId") == "1")
    // a stale redelivery of batch 0 after batch 1 is also a no-op
    assert(!streaming.StreamingStage.publishVersioned(b0, root, 0L))
    assert(Publish.currentVersion(root).contains("v00002"))
  }

  test("publishVersioned: a failed attempt burns its number, the replay completes the batch") {
    import spark.implicits._
    import operators.Publish
    val root = tempDir("graft-vpub-crash").toString
    assert(streaming.StreamingStage.publishVersioned(
      Seq((1L, "a")).toDF("k", "v"), root, 0L))
    // simulate a crash mid-publish of batch 1: the audit veto leaves a
    // tombstone and the pointer untouched (so batch 1 is NOT committed)
    intercept[IllegalArgumentException] {
      Publish.publish(Seq((2L, "b")).toDF("k", "v"), root,
        audit = _ => require(false, "injected crash"),
        meta = Map("batchId" -> "1"))
    }
    assert(Publish.currentVersion(root).contains("v00001"))
    // the redelivery of batch 1 must still commit — under a FRESH
    // version number (the tombstone's number is burned)
    assert(streaming.StreamingStage.publishVersioned(
      Seq((2L, "b")).toDF("k", "v"), root, 1L))
    assert(Publish.currentVersion(root).contains("v00003"))
    assert(Publish.readMeta(root, "v00003")("batchId") == "1")
  }

  test("dedupEvalMetrics: degenerate zero counts report zero, not NULL/crash") {
    import spark.implicits._
    val zeroAll = ExtQueries.dedupEvalMetrics(
      Seq((0L, 0L, 0L)).toDF("n_truth", "n_detected", "tp")).head()
    assert(zeroAll.getAs[Number]("precision_ppm").longValue() == 0L)
    assert(zeroAll.getAs[Number]("recall_ppm").longValue() == 0L)
    assert(zeroAll.getAs[Number]("f1_ppm").longValue() == 0L)
    // tp = 0 with non-empty sides: ratios are well-defined zeros and f1
    // hits its own 0/0 — the second guard
    val tpZero = ExtQueries.dedupEvalMetrics(
      Seq((10L, 5L, 0L)).toDF("n_truth", "n_detected", "tp")).head()
    assert(tpZero.getAs[Number]("precision_ppm").longValue() == 0L)
    assert(tpZero.getAs[Number]("f1_ppm").longValue() == 0L)
    // sanity on the live arithmetic: tp=3 of truth=4/det=6
    val live = ExtQueries.dedupEvalMetrics(
      Seq((4L, 6L, 3L)).toDF("n_truth", "n_detected", "tp")).head()
    assert(live.getAs[Number]("precision_ppm").longValue() == 500000L)
    assert(live.getAs[Number]("recall_ppm").longValue() == 750000L)
    assert(live.getAs[Number]("f1_ppm").longValue() ==
      2L * 500000L * 750000L / (500000L + 750000L))
  }
}
