package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{BucketTransform, PartitionTransform, VersionedTable}

/** Round-13 ADVICE closures — the claims the oracle hashes can't
  * state: the CDC-apply watermark survives maintenance commits, a
  * stat-spec drift fails fast instead of silently breaking range
  * pruning, and transform probe literals prune correctly across
  * numeric-type renderings.
  */
class Round17OpsSpec extends SparkSpec {

  private val spec = VersionedTable.Spec(Seq("n"), "k", 1 << 13)

  private def rows(lo: Long, hi: Long): DataFrame = {
    import spark.implicits._
    (lo until hi).map(i => (i, i % 1000)).toDF("k", "n")
  }

  test("applied_upto survives maintenance commits: redelivered + out-of-order windows still no-op") {
    import spark.implicits._
    val a = tempDir("graft-r17-au-a").toString
    val b = tempDir("graft-r17-au-b").toString
    val v1 = VersionedTable.create(spark, rows(0, 100), a, spec)
    VersionedTable.create(spark, VersionedTable.readVersion(spark, a, v1), b, spec,
      extraMeta = Map("applied_upto" -> v1))
    // window 1: k=5 → 5000
    VersionedTable.upsertDV(spark, a, spec, Seq((5L, 5000L)).toDF("k", "n"))
    val h1 = VersionedTable.headVersion(a).get
    assert(VersionedTable.applyChanges(spark, b, spec,
      VersionedTable.changeFeed(spark, a, v1, h1), h1).isDefined)
    // window 2: k=5 → 7000
    VersionedTable.upsertDV(spark, a, spec, Seq((5L, 7000L)).toDF("k", "n"))
    val h2 = VersionedTable.headVersion(a).get
    assert(VersionedTable.applyChanges(spark, b, spec,
      VersionedTable.changeFeed(spark, a, h1, h2), h2).isDefined)
    // maintenance commits the framework itself prescribes land on the
    // replica BETWEEN windows — before the r12 fix each erased the
    // head-only watermark
    VersionedTable.setConstraint(spark, b, "k_pos", "k >= 0")
    // exact redelivery of window 2 must no-op
    assert(VersionedTable.applyChanges(spark, b, spec,
      VersionedTable.changeFeed(spark, a, h1, h2), h2).isEmpty,
      "redelivered window re-applied after a maintenance commit")
    // OUT-OF-ORDER redelivery of the OLDER window must no-op too —
    // re-applying it would resurrect the stale k=5 → 5000
    assert(VersionedTable.applyChanges(spark, b, spec,
      VersionedTable.changeFeed(spark, a, v1, h1), h1).isEmpty,
      "older window re-applied after a maintenance commit")
    val k5 = VersionedTable.read(spark, b).filter(col("k") === 5L)
      .select("n").collect().map(_.getLong(0)).toSeq
    assert(k5 == Seq(7000L), s"replica diverged: k=5 carries $k5")
  }

  test("stat-spec drift fails fast: an append whose Spec omits a manifest stat column is refused") {
    val root = tempDir("graft-r17-drift").toString
    VersionedTable.create(spark, rows(0, 100), root, spec)
    val drifted = VersionedTable.Spec(Seq.empty, "k", 1 << 13)
    val e = intercept[IllegalArgumentException] {
      VersionedTable.append(spark, rows(100, 200), root, drifted)
    }
    assert(e.getMessage.contains("stat-spec drift"), e.getMessage)
    assert(e.getMessage.contains("min_n"), e.getMessage)
    // the table is untouched — the guard fired before any publish
    assert(VersionedTable.read(spark, root).count() == 100L)
    // the EVOLUTION direction stays open: a Spec introducing a NEW
    // stat column (old rows back-fill NULL, NULL-keeping reads) is fine
    val wider = VersionedTable.Spec(Seq("n", "k"), "k", 1 << 13)
    VersionedTable.append(spark, rows(100, 200), root, wider)
    assert(VersionedTable.read(spark, root).count() == 200L)
  }

  test("applyChangesSeq: a STORED sequence column passes through; a transport-only one is dropped") {
    import spark.implicits._
    // replica whose schema carries the sequence column (updated_at)
    val root = tempDir("graft-r17-seq").toString
    val sspec = VersionedTable.Spec(Seq("n"), "k", 1 << 13)
    VersionedTable.create(spark,
      Seq((1L, 10L, 100L), (2L, 20L, 100L)).toDF("k", "n", "updated_at"),
      root, sspec, extraMeta = Map("applied_upto" -> "v1"))
    // out-of-order feed: k=1 gets three ops, latest (updated_at=300)
    // must win and its updated_at must LAND in the replica
    val feed = Seq(
      (1L, 11L, 300L, "insert"),
      (1L, 99L, 200L, "insert"),
      (1L, 10L, 250L, "delete"),
      (2L, 20L, 150L, "delete")).toDF("k", "n", "updated_at", "change_type")
      .repartition(3)
    assert(VersionedTable.applyChangesSeq(spark, root, sspec, feed, "v2",
      "updated_at").isDefined)
    val got = VersionedTable.read(spark, root)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 11L, 300L)), s"resolution wrong: $got")
    // transport-only sequence column (not in the schema) is dropped
    val root2 = tempDir("graft-r17-seq2").toString
    VersionedTable.create(spark, rows(0, 10), root2, spec,
      extraMeta = Map("applied_upto" -> "v1"))
    val feed2 = Seq((5L, 5000L, 7, "insert"), (5L, 4000L, 3, "insert"))
      .toDF("k", "n", "__offset", "change_type")
    assert(VersionedTable.applyChangesSeq(spark, root2, spec, feed2, "v2",
      "__offset").isDefined)
    val k5 = VersionedTable.read(spark, root2).filter(col("k") === 5L).collect()
    assert(k5.map(_.getLong(1)).toSeq == Seq(5000L))
    assert(!VersionedTable.read(spark, root2).columns.contains("__offset"))
  }

  test("labelPropagateSalted ≡ labelPropagate: row-identical under any salt count") {
    import spark.implicits._
    import graft.operators.ConnectedComponents
    // chains, a star (hot key), singletons — mixed degree profile
    val edges = ((1L to 40L).map(i => (i, i + 1)) ++        // 41-chain
      (100L to 160L).map(i => (100L, i)) ++                  // hot star at 100
      Seq((200L, 201L), (201L, 202L), (300L, 301L))).toDF("src", "dst")
    val verts = (1L to 320L).toDF("id")
    val plain = ConnectedComponents.labelPropagate(verts, edges, 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    Seq(1, 3, 8).foreach { salts =>
      val salted = ConnectedComponents.labelPropagateSalted(verts, edges, 6, salts)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(salted == plain, s"salted($salts) diverged from plain propagation")
    }
  }

  test("labelPropagateJump: a 200-hop chain converges in 8 rounds; plain propagation cannot") {
    import spark.implicits._
    import graft.operators.ConnectedComponents
    // the case that defeated the plain unroll at sf0.1: one long
    // chain (diameter 200) plus a separate triangle and singletons
    val edges = ((1L to 200L).map(i => (i, i + 1)) ++
      Seq((500L, 501L), (501L, 502L), (500L, 502L))).toDF("src", "dst")
    val verts = ((1L to 201L) ++ (500L to 502L) ++ Seq(900L)).toDF("id")
    val jumped = ConnectedComponents.labelPropagateJump(verts, edges, 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = ConnectedComponents.runStar(verts, edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(jumped == exact,
      "8 propagate+jump rounds must solve a diameter-200 chain exactly")
    assert(jumped.count(_._2 == 1L) == 201,
      "the whole chain must collapse to min label 1")
    val plain = ConnectedComponents.labelPropagate(verts, edges, 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(plain != exact,
      "the fixture must actually exceed the plain form's 8-hop reach")
  }

  test("bucket probe literals cast to the column's type: Int/Long probes prune correctly on DOUBLE") {
    import spark.implicits._
    val root = tempDir("graft-r17-probe").toString
    val t = BucketTransform(16, "x")
    val dspec = VersionedTable.Spec(Seq("k"), "k", 1 << 13)
    val df = (0L until 500L).map(i => (i, i.toDouble)).toDF("k", "x")
    VersionedTable.create(spark, df, root, dspec,
      PartitionTransform.clusterLayout(8, Seq(t)), transforms = Seq(t))
    // an Int probe against the DOUBLE column: the stored value hashed
    // as "123.0"; an uncast probe hashes "123" → a different bucket →
    // the true holder file pruned (missing rows, not an error)
    val hitInt = VersionedTable.partitionPrunedRead(spark, root, "x", 123)
      .filter(col("x") === 123.0).count()
    assert(hitInt == 1L, "Int probe on DOUBLE column lost its row to bucket mis-hash")
    val hitLong = VersionedTable.partitionPrunedRead(spark, root, "x", 123L)
      .filter(col("x") === 123.0).count()
    assert(hitLong == 1L, "Long probe on DOUBLE column lost its row")
    // roster lookup takes the same cast
    val roster = VersionedTable.partitionPrunedIn(spark, root, "x", Seq(3, 77L, 123))
      .filter(col("x").isin(3.0, 77.0, 123.0)).count()
    assert(roster == 3L, "roster probe on DOUBLE column lost rows")
    // and the prune still actually prunes (not a full-scan fallback)
    val nAll = VersionedTable.manifest(spark, root).count()
    val nSurv = VersionedTable.partitionSurvivorFiles(spark, root, "x", 123).length
    assert(nSurv < nAll, s"no pruning happened: $nSurv of $nAll files survive")
  }
}
