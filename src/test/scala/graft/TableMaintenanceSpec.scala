package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{PartitionTransform, Publish, TruncateTransform, VersionedTable}

/** partitionsTable + reclusterWhere claims the hash gates can't
  * state: the metadata-only path genuinely reads zero data bytes, the
  * scan path handles straddlers / DVs / NULL transform values
  * exactly, and the selective rewrite routes files by band with DV
  * materialization.
  */
class TableMaintenanceSpec extends SparkSpec {

  private val spec = VersionedTable.Spec(Seq("n"), "k", 1 << 13)
  private val t200 = TruncateTransform(200, "n")

  private def rows(lo: Long, hi: Long): DataFrame = {
    import spark.implicits._
    (lo until hi).map(i => (i, i % 1000)).toDF("k", "n")
  }

  test("partitionsTable answers metadata-only: correct with every data file deleted") {
    val root = tempDir("graft-tm-z").toString
    // 32 range partitions over 5 bins: equal keys can't split, so
    // every non-empty file is single-bin (provably exact)
    VersionedTable.create(spark, rows(0, 1000), root, spec,
      PartitionTransform.clusterLayout(32, Seq(t200)), transforms = Seq(t200))
    val expect = Map(0L -> 200L, 200L -> 200L, 400L -> 200L,
      600L -> 200L, 800L -> 200L)
    // physically remove the data files — the manifest alone must answer
    VersionedTable.manifest(spark, root).select("file").collect()
      .foreach(r => java.nio.file.Files.delete(
        java.nio.file.Paths.get(r.getString(0).stripPrefix("file:"))))
    val got = VersionedTable.partitionsTable(spark, root).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expect, s"metadata-only counts wrong: $got")
  }

  test("partitionsTable scan path: straddlers, DV'd files and NULL transform rows count exactly") {
    import spark.implicits._
    val root = tempDir("graft-tm-s").toString
    VersionedTable.create(spark, rows(0, 1000), root, spec,
      PartitionTransform.clusterLayout(32, Seq(t200)), transforms = Seq(t200))
    // straddling append (one file spanning every bin) with a NULL n row
    val extra = (1000L until 1100L).map(i => (i, Some(i % 1000))) :+
      ((2000L, Option.empty[Long]))
    VersionedTable.append(spark, extra.toDF("k", "n").coalesce(1), root, spec)
    // DV a narrow roster out of the tight generation
    VersionedTable.deleteRosterDV(spark, root, spec,
      Seq(5L, 205L, 405L).toDF("k"))
    val got = VersionedTable.partitionsTable(spark, root).collect()
      .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0)) -> r.getLong(1)).toMap
    // base: 200/bin; DV kills one in bins 0,200,400; append adds 20 to
    // each of bins 0..800 (k%1000 of 1000..1099 → 0..99 → bin 0 only!)
    // — 1000..1099 gives n = 0..99, ALL in bin 0; plus one NULL row
    val expect = Map(0L -> (200L - 1 + 100), 200L -> 199L, 400L -> 199L,
      600L -> 200L, 800L -> 200L, -1L -> 1L)
    assert(got == expect, s"scan-path counts wrong: $got")
  }

  test("maintenancePlan prescribes compact/compact-dv/recluster; running them empties the plan") {
    import spark.implicits._
    val root = tempDir("graft-tm-p").toString
    // tight create, then: a fragmented append (many small files), a
    // straddler (loose under the spec), and a DV
    VersionedTable.create(spark, rows(0, 1000), root, spec,
      PartitionTransform.clusterLayout(32, Seq(t200)), transforms = Seq(t200))
    // n = k % 1000 spans bins 0..400 across the 6 hash-split files —
    // genuinely loose under the spec
    VersionedTable.append(spark, rows(1000, 1600), root, spec,
      layout = _.repartition(6))
    VersionedTable.deleteRosterDV(spark, root, spec, Seq(7L).toDF("k"))
    val plan = VersionedTable.maintenancePlan(spark, root, targetBytes = 4096L)
      .collect().map(r => (r.getString(0), r.getString(1)))
    val actions = plan.map(_._1).toSet
    assert(actions.contains("compact-dv"), s"missing compact-dv in $actions")
    assert(actions.contains("recluster"), s"missing recluster in $actions")
    assert(plan.map(_._1).count(_ == "optimize-compact") >= 2,
      "the fragmented append must prescribe compaction (≥2 small files)")
    // run the prescriptions: DV compaction, then a full recluster
    // under the active spec (tight + single generation)
    VersionedTable.compactDeletes(spark, root, spec)
    VersionedTable.recluster(spark, root, spec,
      PartitionTransform.clusterLayout(32, Seq(t200)))
    val replan = VersionedTable.maintenancePlan(spark, root, targetBytes = 1L)
    assert(replan.isEmpty,
      s"a maintained table plans nothing, got ${replan.collect().toSeq}")
    // content untouched by the maintenance chain
    assert(VersionedTable.read(spark, root).count() == 1599L)
  }

  test("metadataDistinct: zero data IO, DV refusal, compaction restores") {
    import spark.implicits._
    val skSpec = spec.copy(keySketch = true)
    val root = tempDir("graft-tm-d").toString
    VersionedTable.create(spark, rows(0, 500), root, skSpec,
      layout = _.repartition(4))
    VersionedTable.append(spark, rows(400, 700), root, skSpec,
      layout = _.repartition(4))
    // direct truth: 700 distinct keys (overlap 400..499 dedups via
    // min-k union across files)
    def est(): Double = VersionedTable.metadataDistinct(spark, root)
      .head.getDouble(0)
    val e1 = est()
    // k=64 ⇒ σ ≈ 13%; this fixed md5 population draws ~2.9σ high
    // (968 for 700) — the accuracy band is a sanity rail, the REAL
    // claim is the bit-parity with the direct sketch below
    assert(math.abs(e1 - 700.0) / 700.0 < 0.5, s"KMV estimate off: $e1")
    // bit-parity with the direct sketch aggregate over raw keys
    val direct = VersionedTable.read(spark, root)
      .agg(call_function("kmv_sketch", col("k").cast("string"),
        lit(VersionedTable.KmvK)).as("sk"))
      .select(ExtQueries.kmvEstimate(col("sk"), VersionedTable.KmvK))
      .head.getDouble(0)
    assert(java.lang.Double.doubleToLongBits(e1) ==
      java.lang.Double.doubleToLongBits(direct), s"$e1 != $direct")
    // zero IO: the estimate still answers with every data file gone
    VersionedTable.manifest(spark, root).select("file").collect()
      .foreach(r => java.nio.file.Files.delete(
        java.nio.file.Paths.get(r.getString(0).stripPrefix("file:"))))
    assert(java.lang.Double.doubleToLongBits(est()) ==
      java.lang.Double.doubleToLongBits(e1))
    // DV refusal, then compaction restores exactness (compaction
    // re-derives the sidecar under the sketching spec)
    val root2 = tempDir("graft-tm-d2").toString
    VersionedTable.create(spark, rows(0, 500), root2, skSpec)
    VersionedTable.deleteRosterDV(spark, root2, skSpec, Seq(3L).toDF("k"))
    val e = intercept[IllegalArgumentException] {
      VersionedTable.metadataDistinct(spark, root2)
    }
    assert(e.getMessage.contains("compact first"))
    VersionedTable.compactDeletes(spark, root2, skSpec)
    val e2 = VersionedTable.metadataDistinct(spark, root2).head.getDouble(0)
    assert(math.abs(e2 - 499.0) / 499.0 < 0.5, s"post-compact estimate: $e2")
    // default spec (keySketch = false) sheds the per-commit cost; a
    // mixed manifest refuses rather than silently under-count
    val root3 = tempDir("graft-tm-d3").toString
    VersionedTable.create(spark, rows(0, 100), root3, spec)
    val e3 = intercept[IllegalArgumentException] {
      VersionedTable.metadataDistinct(spark, root3)
    }
    assert(e3.getMessage.contains("predates key sketches"))
    VersionedTable.append(spark, rows(100, 200), root3, skSpec) // sketched batch
    val e4 = intercept[IllegalArgumentException] {
      VersionedTable.metadataDistinct(spark, root3)
    }
    assert(e4.getMessage.contains("keySketch = false"),
      s"mixed manifest must refuse, got: ${e4.getMessage}")
  }

  test("vacuumOlderThan: time-based retention with instant inheritance; head always survives") {
    import spark.implicits._
    val root = tempDir("graft-tm-v").toString
    val v1 = VersionedTable.create(spark, rows(0, 100), root, spec,
      extraMeta = Map("commit_ts" -> "100"))
    val v2 = VersionedTable.append(spark, rows(100, 200), root, spec,
      extraMeta = Map("commit_ts" -> "200"))
    // unstamped property commit inherits instant 200
    val v3 = VersionedTable.setConstraint(spark, root, "k_pos", "k >= 0")
    val v4 = VersionedTable.append(spark, rows(200, 300), root, spec,
      extraMeta = Map("commit_ts" -> "300"))
    VersionedTable.vacuumOlderThan(spark, root, cutoffTs = 250L)
    // v4 (ts 300) retained; v1/v2/v3 (instants 100/200/200) reclaimed
    assert(VersionedTable.read(spark, root).count() == 300L)
    intercept[Exception] { VersionedTable.readVersion(spark, root, v1).count() }
    intercept[Exception] { VersionedTable.readVersion(spark, root, v2).count() }
    assert(VersionedTable.readVersion(spark, root, v4).count() == 300L)
    // a cutoff beyond every stamp still keeps the head
    VersionedTable.vacuumOlderThan(spark, root, cutoffTs = 9999L)
    assert(VersionedTable.read(spark, root).count() == 300L)
    assert(v3.nonEmpty) // touch to avoid unused warning
  }

  test("applyChanges chains: a replica's own feed replicates to a third table") {
    import spark.implicits._
    val a = tempDir("graft-tm-a").toString
    val b = tempDir("graft-tm-b").toString
    val c = tempDir("graft-tm-c").toString
    val v1 = VersionedTable.create(spark, rows(0, 300), a, spec)
    VersionedTable.create(spark, VersionedTable.readVersion(spark, a, v1), b, spec,
      extraMeta = Map("applied_upto" -> v1))
    val bBoot = VersionedTable.headVersion(b).get
    VersionedTable.create(spark, VersionedTable.read(spark, b), c, spec,
      extraMeta = Map("applied_upto" -> bBoot))
    // source mutates: append + keyed update via upsert + delete
    VersionedTable.append(spark, rows(300, 400), a, spec)
    VersionedTable.upsertDV(spark, a, spec,
      Seq((5L, 5000L), (6L, 6000L)).toDF("k", "n"))
    val aHead = VersionedTable.deleteRosterDV(spark, a, spec, Seq(9L).toDF("k"))
    // a → b (apply-changes is itself feed-safe) → c
    assert(VersionedTable.applyChanges(spark, b, spec,
      VersionedTable.changeFeed(spark, a, v1, aHead), aHead).isDefined)
    val bHead = VersionedTable.headVersion(b).get
    assert(VersionedTable.applyChanges(spark, c, spec,
      VersionedTable.changeFeed(spark, b, bBoot, bHead), bHead).isDefined)
    // all three tables agree exactly
    def state(root: String) = VersionedTable.read(spark, root)
      .orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(state(b) == state(a), "replica diverged from source")
    assert(state(c) == state(a), "chained replica diverged")
    assert(state(a).toMap.get(5L).contains(5000L))
    assert(!state(a).toMap.contains(9L))
    // stale window against the chained replica no-ops
    assert(VersionedTable.applyChanges(spark, c, spec,
      VersionedTable.changeFeed(spark, b, bBoot, bHead), bHead).isEmpty)
  }

  test("reclusterWhere: band files rewrite (DVs materialized), out-of-band pass through verbatim") {
    import spark.implicits._
    val root = tempDir("graft-tm-r").toString
    val layout = (df: DataFrame) =>
      df.repartitionByRange(8, col("n")).sortWithinPartitions("n")
    VersionedTable.create(spark, rows(0, 1000), root, spec, layout)
    VersionedTable.deleteRosterDV(spark, root, spec, Seq(10L, 900L).toDF("k"))
    val before = VersionedTable.manifest(spark, root)
      .select("file", "dv_path").collect()
      .map(r => r.getString(0) -> Option(r.getString(1))).toMap
    val v = VersionedTable.reclusterWhere(spark, root, spec, "n", 0, 300,
      _.repartitionByRange(2, col("n")))
    val after = VersionedTable.manifest(spark, root)
      .select("file", "dv_path").collect()
      .map(r => r.getString(0) -> Option(r.getString(1))).toMap
    val kept = before.keySet intersect after.keySet
    val rewritten = before.keySet -- after.keySet
    assert(rewritten.nonEmpty && kept.nonEmpty, "the rewrite must be selective")
    // every kept file keeps its manifest row verbatim (incl. DV pointer)
    kept.foreach(f => assert(after(f) == before(f)))
    // rewritten files' DVs are materialized: new generation carries none
    (after.keySet -- before.keySet).foreach(f => assert(after(f).isEmpty))
    // out-of-band DV survives: k=900 (n=900) was outside the band
    assert(after.values.flatten.nonEmpty,
      "the out-of-band file must keep its deletion vector")
    // content identity
    val live = VersionedTable.read(spark, root)
      .agg(count(lit(1)), sum(col("k"))).head
    assert(live.getLong(0) == 998L)
    assert(live.getLong(1) == (0L until 1000L).sum - 10L - 900L)
    // noop band publishes a content-identical commit
    val v2 = VersionedTable.reclusterWhere(spark, root, spec, "n", 5000, 6000,
      identity)
    assert(VersionedTable.versionMeta(root, v2)("verb") == "recluster-where-noop")
    // the feed segments across the selective rewrite
    val feed = VersionedTable.changeFeed(spark, root, v, v2)
    assert(feed.count() == 0L, "a rewrite-only window must fold to nothing")
  }
}
