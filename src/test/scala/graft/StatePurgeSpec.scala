package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{ConnectedComponents, IncrementalDedup, Publish, StatePurge}

/** Delete propagation into stored state artifacts (driver r8): each
  * purge rewrite must equal the full recompute over the purged corpus,
  * saturated bands must fail safe, decremental component SPLITS must
  * land exactly, history retirement must physically delete old
  * versions, and no roster id may survive in any live stored artifact.
  */
class StatePurgeSpec extends SparkSpec {

  private def nd = ExtQueries.withNearDups(
    graft.sources.Tables.load(spark, sfSmoke, "documents"))

  private def rule = col("doc_id") % 89 === 0

  private def sortedMembers(st: DataFrame): DataFrame =
    st.select(col("band"), col("cnt"),
      expr("array_sort(members, (a, b) -> CASE WHEN a.doc_id < b.doc_id THEN -1 WHEN a.doc_id > b.doc_id THEN 1 ELSE 0 END)")
        .as("members"))

  test("purgeBandState equals a band-state rebuild over the purged corpus") {
    val banded = ExtQueries.minhashBanded(nd)
    val state = IncrementalDedup.bandState(banded)
    val roster = nd.filter(rule).select(col("doc_id").as("id"))
    assert(roster.count() > 0, "fixture must purge at least one doc")
    val purged = sortedMembers(StatePurge.purgeBandState(state, roster))
    val rebuilt = sortedMembers(
      IncrementalDedup.bandState(ExtQueries.minhashBanded(nd.filter(!rule))))
    assert(purged.exceptAll(rebuilt).isEmpty && rebuilt.exceptAll(purged).isEmpty,
      "incremental band purge diverged from the full rebuild")
  }

  test("fixture precondition: no saturated band (purge loses no membership)") {
    val state = IncrementalDedup.bandState(ExtQueries.minhashBanded(nd))
    assert(StatePurge.affectedSaturatedBands(state).isEmpty,
      "a saturated band would make the purge a re-signature trigger; " +
        "the equivalence contracts assume none in the fixture")
  }

  test("saturated bands pass through unchanged and surface as re-signature triggers") {
    import spark.implicits._
    val banded = Seq(
      (1L, Seq("a"), "hot"), (2L, Seq("b"), "hot"),
      (3L, Seq("c"), "hot"), (4L, Seq("d"), "hot"),
      (5L, Seq("e"), "cold"), (6L, Seq("f"), "cold"))
      .toDF("doc_id", "sigs", "band")
    val state = IncrementalDedup.bandState(banded, cap = 2)
    val roster = Seq(1L, 5L).toDF("id")
    val purged = StatePurge.purgeBandState(state, roster, cap = 2)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    // "hot" crossed cap=2 → saturated (cnt=3, members dropped): the
    // purge cannot reconstruct membership, so it passes through as-is
    assert(purged("hot") == 3L, "saturated band must stay saturated")
    assert(purged("cold") == 1L, "unsaturated band must drop the purged member")
    val triggers = StatePurge.affectedSaturatedBands(state, cap = 2)
      .collect().map(_.getString(0)).toSeq
    assert(triggers == Seq("hot"))
  }

  test("purgeDigestState equals a digest-state rebuild over the purged corpus") {
    val all = ExtQueries.docs(spark, sfSmoke)
    val dup = all.select(col("doc_id"), col("text")).unionByName(
      all.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    val state = IncrementalDedup.digestState(dup)
    val roster = dup.filter(rule).select(col("doc_id").as("id"))
    val survivors = dup.filter(!rule)
      .select(col("doc_id"), md5(col("text").cast("binary")).as("digest"))
    val purged = StatePurge.purgeDigestState(state, survivors, roster)
    val rebuilt = IncrementalDedup.digestState(dup.filter(!rule))
    assert(purged.exceptAll(rebuilt).isEmpty && rebuilt.exceptAll(purged).isEmpty,
      "incremental digest purge diverged from the full rebuild")
    // the purge actually re-elected something: at least one digest had
    // its canonical purged while a copy survived
    val reelected = state.withColumnRenamed("canonical_id", "old_c")
      .join(purged.withColumnRenamed("canonical_id", "new_c"), "digest")
      .filter(col("old_c") =!= col("new_c")).count()
    assert(reelected > 0, "fixture must exercise canonical re-election")
  }

  test("purgeClusters splits a component when the purged doc was the bridge") {
    import spark.implicits._
    // chain 1-2-3 (component 1) + untouched pair 10-11 (component 10);
    // purging 2 severs the chain: 1 and 3 must SPLIT, not keep label 1
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L))
      .toDF("id", "component")
    val roster = Seq(2L).toDF("id")
    // surviving pairs among {1, 3}: none (their only paths ran through 2)
    val pairsAmong: DataFrame => DataFrame = ids =>
      ids.limit(0).select(col("id").as("src"), col("id").as("dst"))
    val out = StatePurge.purgeClusters(labels, roster, pairsAmong)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out == Map(1L -> 1L, 3L -> 3L, 10L -> 10L, 11L -> 10L),
      s"decremental split wrong: $out")
  }

  test("purgeClusters equals a full re-cluster over the purged corpus") {
    val banded = ExtQueries.minhashBanded(nd)
    val pairs = IncrementalDedup.pairsAgainst(
      IncrementalDedup.bandState(banded.limit(0)), banded)
    val labels = ConnectedComponents.solveAuto(
      nd.select(col("doc_id").as("id")),
      pairs.select(col("doc_id_1").as("src"), col("doc_id_2").as("dst")))
    val roster = nd.filter(rule).select(col("doc_id").as("id"))
    val survived = nd.filter(!rule)
    val bandedS = ExtQueries.minhashBanded(survived)
    val rebuiltPairs = IncrementalDedup.pairsAgainst(
      IncrementalDedup.bandState(bandedS.limit(0)), bandedS)
    val rebuilt = ConnectedComponents.solveAuto(
      survived.select(col("doc_id").as("id")),
      rebuiltPairs.select(col("doc_id_1").as("src"), col("doc_id_2").as("dst")))
    val purged = StatePurge.purgeClusters(labels, roster, ids => {
      val sub = nd.join(broadcast(ids.select(col("id").as("doc_id"))),
        Seq("doc_id"), "left_semi")
      val b = ExtQueries.minhashBanded(sub)
      IncrementalDedup.pairsAgainst(IncrementalDedup.bandState(b.limit(0)), b)
        .select(col("doc_id_1").as("src"), col("doc_id_2").as("dst"))
    })
    assert(purged.exceptAll(rebuilt).isEmpty && rebuilt.exceptAll(purged).isEmpty,
      "decremental component maintenance diverged from the full re-cluster")
  }

  test("retireHistory physically deletes old versions, burns numbers, keeps current") {
    import spark.implicits._
    val root = tempDir("graft_retire_spec").toString
    Publish.publish(Seq((1L, "a")).toDF("k", "v"), root)
    Publish.publish(Seq((2L, "b")).toDF("k", "v"), root)
    assert(Publish.currentVersion(root).contains("v00002"))
    val retired = Publish.retireHistory(root)
    assert(retired == Seq("v00001"))
    val r = java.nio.file.Paths.get(root)
    assert(!java.nio.file.Files.exists(r.resolve("v00001")),
      "old version dir must be physically gone")
    assert(java.nio.file.Files.exists(r.resolve("v00001.purged")),
      "retired number must stay burned via the marker")
    assert(Publish.staleVersions(root).isEmpty)
    assert(Publish.read(spark, root).count() == 1,
      "current version must survive retirement")
    // idempotent: a second retirement is a no-op
    assert(Publish.retireHistory(root).isEmpty)
    // the burned number is never reused
    assert(Publish.publish(Seq((3L, "c")).toDF("k", "v"), root) == "v00003")
    graft.operators.Checkpoints.deleteTree(r)
  }

  test("no roster id survives in ANY live published artifact (headline audit)") {
    val audit = ExtQueries.pipelineDeletePropagateState(spark, sfSmoke)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    assert(audit.map(_._1).sorted ==
      Seq("band_state", "cluster_labels", "digest_state"))
    for ((artifact, before, after, refs, leaked, stale) <- audit) {
      assert(refs > 0, s"$artifact: purge must remove at least one reference")
      assert(after < before, s"$artifact: purge must shrink the artifact")
      assert(leaked == 0L, s"$artifact: $leaked roster refs survived on disk")
      assert(stale == 0L, s"$artifact: $stale un-retired old versions remain")
    }
  }

  test("purged IVF lists on disk hold no roster id") {
    ExtQueries.simIvfPurgeTopK(spark, sfSmoke).collect()
    val tables = spark.catalog.listTables().collect()
      .map(_.name).filter(_.startsWith("graft_ivf_prgd_"))
    assert(tables.nonEmpty, "the purged IVF lists table must be live")
    tables.foreach { t =>
      assert(spark.table(t).filter(col("vec_id") % 89 === 0).isEmpty,
        s"$t still holds roster vec_ids")
    }
  }
}
