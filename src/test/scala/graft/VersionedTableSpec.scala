package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import graft.operators.{ForwardingTableStore, LocalTableStore, Publish, TableStore, VersionedTable}

/** Manifest-as-table claims the `layout_versioned_publish` hash gate
  * can't see: pruning actually drops files, superseded generations
  * stay on disk but invisible to the head version, time travel is
  * byte-identical after a later delete, and the manifest audit vetoes
  * a manifest naming a missing file it adds.
  */
class VersionedTableSpec extends SparkSpec {

  private val spec = VersionedTable.Spec(Seq("k"), "k", 1 << 13)

  private def fixture(): String = {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-vt").toString
    val layout = (df: org.apache.spark.sql.DataFrame) =>
      df.repartitionByRange(4, col("k")).sortWithinPartitions("k")
    VersionedTable.create(spark,
      (0L until 400L).map(i => (i, s"v$i")).toDF("k", "v"), root, spec, layout)
    VersionedTable.append(spark,
      (400L until 600L).map(i => (i, s"v$i")).toDF("k", "v"), root, spec, layout)
    root
  }

  test("a dropped root re-created with other columns reads the new table, not cached state") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-vt-recreate").toString
    VersionedTable.create(spark, (0L until 50L).map(i => (i, s"v$i")).toDF("k", "v"),
      root, spec)
    assert(VersionedTable.read(spark, root).count() == 50L)
    operators.TableStore.get.deleteTree(root)
    VersionedTable.create(spark,
      (100L until 130L).map(i => (i, i * 2, i % 3)).toDF("k", "w", "b"), root, spec)
    val again = VersionedTable.read(spark, root)
    assert(again.columns.toSeq == Seq("k", "w", "b"))
    assert(again.as[(Long, Long, Long)].collect().toSet ==
      (100L until 130L).map(i => (i, i * 2, i % 3)).toSet)
    // the same holds for a plain Publish root re-published over its
    // dropped tree
    val proot = java.nio.file.Files.createTempDirectory("graft-pub-recreate").toString
    Publish.publish(Seq((1L, "a")).toDF("x", "y"), proot)
    assert(Publish.read(spark, proot).count() == 1L)
    operators.TableStore.get.deleteTree(proot)
    Publish.publish(Seq((2L, 3L, 4L)).toDF("p", "q", "r"), proot)
    assert(Publish.read(spark, proot).as[(Long, Long, Long)].collect().toSeq ==
      Seq((2L, 3L, 4L)))
  }

  test("append folds without rescanning gen0; manifest row counts account for every row") {
    val root = fixture()
    val m = VersionedTable.manifest(spark, root)
    assert(m.agg(sum("n_rows")).head.getLong(0) == 600L)
    assert(VersionedTable.read(spark, root).count() == 600L)
    // the v1 manifest is intact and reads only gen0
    assert(VersionedTable.readVersion(spark, root, "v00001").count() == 400L)
  }

  test("pruned band read lists strictly fewer files; range spans both generations") {
    val root = fixture()
    val total = VersionedTable.manifest(spark, root).count()
    val band = VersionedTable.manifest(spark, root)
      .filter(col("min_k") <= 450L && col("max_k") >= 350L).count()
    assert(band < total, s"band kept $band of $total files — layout broke")
    val got = VersionedTable.prunedRead(spark, root, "k", 350L, 450L)
      .filter(col("k").between(350L, 450L))
    assert(got.count() == 101L)
  }

  test("delete rewrites only holders; time travel reads superseded content byte-identically") {
    import spark.implicits._
    val root = fixture()
    val before = VersionedTable.readVersion(spark, root, "v00002")
      .orderBy("k").as[(Long, String)].collect()
    val v3 = VersionedTable.deleteRoster(spark, root, spec,
      (0L until 600L by 7L).toDF("k"))
    assert(v3 == "v00003")
    val head = VersionedTable.read(spark, root)
    assert(head.filter(col("k") % 7 === 0).count() == 0L)
    assert(head.count() == 600L - 86L)
    // v2 still reads exactly its pre-delete content (generations are
    // immutable; the delete wrote a NEW generation and a NEW manifest)
    val after = VersionedTable.readVersion(spark, root, "v00002")
      .orderBy("k").as[(Long, String)].collect()
    assert(after.sameElements(before))
    // superseded holder files remain ON DISK but are invisible to the
    // head manifest — the directory is never the table
    val mFiles = VersionedTable.manifest(spark, root)
      .select("file").as[String].collect().toSet
    val onDisk = {
      val buf = scala.collection.mutable.ArrayBuffer.empty[String]
      def walk(p: java.nio.file.Path): Unit = {
        if (java.nio.file.Files.isDirectory(p)) {
          val s = java.nio.file.Files.list(p)
          try s.forEach(walk(_)) finally s.close()
        } else if (p.toString.endsWith(".parquet")) buf += p.toString
      }
      walk(java.nio.file.Paths.get(s"$root/files"))
      buf.toSet
    }
    // input_file_name() yields file:///… URIs; compare normalized paths
    val mPaths = mFiles.map(f =>
      java.nio.file.Paths.get(f.stripPrefix("file:")).toString)
    assert(mPaths.forall(onDisk.contains),
      "manifest names a file missing on disk")
    assert(onDisk.size > mPaths.size,
      "superseded generation files should remain on disk for time travel")
  }

  test("delete of absent keys publishes a content-identical manifest (no rewrite)") {
    import spark.implicits._
    val root = fixture()
    val filesBefore = VersionedTable.manifest(spark, root)
      .select("file").as[String].collect().toSet
    VersionedTable.deleteRoster(spark, root, spec, Seq(999999L).toDF("k"))
    val filesAfter = VersionedTable.manifest(spark, root)
      .select("file").as[String].collect().toSet
    assert(filesAfter == filesBefore)
  }

  test("publish audit vetoes a manifest naming missing files; pointer untouched") {
    import spark.implicits._
    val root = fixture()
    val current = Publish.currentVersion(s"$root/manifest").get
    val live = VersionedTable.manifest(spark, root)
      .select("file").as[String].collect().map(_.stripPrefix("file:")).toSet
    // corrupt the table root mid-commit: once the delete's manifest is
    // written (its `_SUCCESS` probe), physically remove a data file the
    // commit adds — the audit probes exactly those
    val corrupting = new ForwardingTableStore(LocalTableStore) {
      override def exists(p: String): Boolean = {
        if (p.startsWith(s"$root/manifest/") && p.endsWith("/_SUCCESS")) {
          val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$root/files"))
          try walk.iterator().asScala.map(_.toString)
            .find(f => f.contains("/files/g-") && f.endsWith(".parquet") && !live(f))
            .foreach(f => java.nio.file.Files.delete(java.nio.file.Paths.get(f)))
          finally walk.close()
        }
        super.exists(p)
      }
    }
    TableStore.set(corrupting)
    val e =
      try intercept[IllegalArgumentException] {
        VersionedTable.deleteRoster(spark, root, spec, Seq(5L).toDF("k"))
      } finally TableStore.set(LocalTableStore)
    assert(e.getMessage.contains("missing file"), e.getMessage)
    assert(Publish.currentVersion(s"$root/manifest").contains(current),
      "a vetoed publish must leave the pointer untouched")
  }

  // ---- merge-on-read (deletion vectors) ----

  test("DV delete rewrites NO data file; vectors stack; accounting matches") {
    import spark.implicits._
    val root = fixture()
    val filesBefore = VersionedTable.manifest(spark, root)
      .select("file").as[String].collect().toSet
    VersionedTable.deleteRosterDV(spark, root, spec, (0L until 600L by 7L).toDF("k"))
    val m2 = VersionedTable.manifest(spark, root)
    // merge-on-read: the data file set is IDENTICAL — only the
    // manifest's dv columns moved
    assert(m2.select("file").as[String].collect().toSet == filesBefore,
      "a DV commit must not rewrite or retire any data file")
    assert(m2.agg(sum("n_deleted")).head.getLong(0) == 86L)
    assert(VersionedTable.read(spark, root).count() == 600L - 86L)
    assert(VersionedTable.read(spark, root)
      .filter(col("k") % 7 === 0).count() == 0L)
    // second, overlapping DV commit: stacks without resurrecting
    VersionedTable.deleteRosterDV(spark, root, spec, (0L until 600L by 3L).toDF("k"))
    val m3 = VersionedTable.manifest(spark, root)
    assert(m3.select("file").as[String].collect().toSet == filesBefore)
    val live = VersionedTable.read(spark, root)
    assert(live.filter(col("k") % 7 === 0 || col("k") % 3 === 0).count() == 0L)
    val expected = (0L until 600L).count(k => k % 7 != 0 && k % 3 != 0).toLong
    assert(live.count() == expected)
    assert(m3.agg(sum("n_deleted")).head.getLong(0) == 600L - expected)
    // exactly one complete vector per file: every dv'd row points at
    // the NEWEST sidecar (prior rows folded forward)
    assert(m3.filter(col("dv_path").isNotNull)
      .select("dv_path").distinct().count() == 1L)
  }

  test("DV read resolves as a broadcast anti-join — the corpus never shuffles") {
    import spark.implicits._
    val root = fixture()
    VersionedTable.deleteRosterDV(spark, root, spec, (0L until 600L by 7L).toDF("k"))
    val plan = VersionedTable.read(spark, root)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"DV resolution must be a broadcast anti-join:\n${plan.take(2000)}")
    assert(!plan.contains("SortMergeJoin"),
      s"DV resolution must not sort-merge the corpus:\n${plan.take(2000)}")
  }

  test("compaction materializes vectors content-identically; old versions keep resolving") {
    import spark.implicits._
    val root = fixture()
    VersionedTable.deleteRosterDV(spark, root, spec, (0L until 600L by 7L).toDF("k"))
    val dvVersion = Publish.currentVersion(s"$root/manifest").get
    val viewBefore = VersionedTable.read(spark, root)
      .orderBy("k").as[(Long, String)].collect()
    val v4 = VersionedTable.compactDeletes(spark, root, spec)
    val head = VersionedTable.manifest(spark, root)
    assert(head.filter(col("dv_path").isNotNull).count() == 0L,
      "compaction must clear every dv_path")
    assert(head.agg(sum("n_deleted")).head.getLong(0) == 0L)
    val viewAfter = VersionedTable.read(spark, root)
      .orderBy("k").as[(Long, String)].collect()
    assert(viewAfter.sameElements(viewBefore),
      "compaction changed the table's content")
    // physical accounting: compacted files really dropped the rows
    assert(head.agg(sum("n_rows")).head.getLong(0) == 600L - 86L)
    // the DV'd version still resolves through ITS vector (the sidecar
    // outlives the compaction — generations and sidecars are immutable)
    assert(VersionedTable.readVersion(spark, root, dvVersion).count() == 600L - 86L)
    // and the pre-delete version still reads the full content
    assert(VersionedTable.readVersion(spark, root, "v00002").count() == 600L)
    assert(v4 != dvVersion)
  }

  test("copy-on-write delete over a DV'd holder does not resurrect vectored rows") {
    import spark.implicits._
    val root = fixture()
    VersionedTable.deleteRosterDV(spark, root, spec, (0L until 600L by 7L).toDF("k"))
    // the roster hits files that already carry vectors; the rewrite
    // must apply those vectors, not re-read the physical rows
    VersionedTable.deleteRoster(spark, root, spec, (0L until 600L by 5L).toDF("k"))
    val live = VersionedTable.read(spark, root)
    assert(live.filter(col("k") % 7 === 0 || col("k") % 5 === 0).count() == 0L)
    assert(live.count() ==
      (0L until 600L).count(k => k % 7 != 0 && k % 5 != 0).toLong)
  }

  // ---- optimistic concurrency ----

  test("publishIf vetoes a stale head with a tombstone; appendOcc rebases exactly once") {
    import spark.implicits._
    val root = fixture()
    val mroot = s"$root/manifest"
    val raced = new java.util.concurrent.atomic.AtomicBoolean(false)
    val (vA, attempts) = VersionedTable.appendOcc(spark,
      (600L until 700L).map(i => (i, s"v$i")).toDF("k", "v"), root, spec,
      beforeCommit = () =>
        if (raced.compareAndSet(false, true)) {
          VersionedTable.append(spark,
            (700L until 800L).map(i => (i, s"v$i")).toDF("k", "v"), root, spec)
          ()
        })
    assert(attempts == 2, s"expected one conflict + one rebase, got $attempts")
    assert(vA == "v00005", s"conflicted attempt must burn its number, got $vA")
    // the loser's attempt is tombstoned, never silently deleted
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(mroot).resolve("v00004.failed")))
    // no lost update, no double apply
    val head = VersionedTable.read(spark, root)
    assert(head.count() == 800L)
    assert(head.select(sum("k")).head.getLong(0) == (0L until 800L).sum)
    // direct CAS check: a publish conditioned on a stale head throws
    intercept[Publish.PublishConflict] {
      Publish.publishIf(Seq(1L).toDF("x"), mroot, Some("v00001"))
    }
  }

  test("upsertDV replaces by key in one commit; no existing data file rewritten") {
    import spark.implicits._
    val root = fixture()
    val filesBefore = VersionedTable.manifest(spark, root)
      .select("file").as[String].collect().toSet
    val versionsBefore = Publish.currentVersion(s"$root/manifest").get
    // replace k in [0,50) with new payloads; insert k in [600,650)
    val updates = ((0L until 50L).map(i => (i, s"UPD$i")) ++
      (600L until 650L).map(i => (i, s"v$i"))).toDF("k", "v")
    val v = VersionedTable.upsertDV(spark, root, spec, updates)
    // ONE commit: exactly one version advanced
    assert(v == "v%05d".format(versionsBefore.drop(1).toLong + 1))
    val m = VersionedTable.manifest(spark, root)
    // merge-on-read: every pre-existing data file is still listed
    assert(filesBefore.subsetOf(m.select("file").as[String].collect().toSet),
      "upsert must not rewrite or retire existing data files")
    val head = VersionedTable.read(spark, root)
    assert(head.count() == 650L)
    // replaced exactly once, with the new payload
    assert(head.filter(col("k") < 50).count() == 50L)
    assert(head.filter(col("k") < 50 && !col("v").startsWith("UPD")).count() == 0L)
    assert(m.agg(sum("n_deleted")).head.getLong(0) == 50L)
  }

  test("vacuum reclaims only unreferenced files; retained versions read on; refused time travel") {
    import spark.implicits._
    val root = fixture()
    VersionedTable.deleteRoster(spark, root, spec, (0L until 600L by 5L).toDF("k"))
    val v4 = VersionedTable.deleteRosterDV(spark, root, spec,
      (0L until 600L by 3L).toDF("k"))
    val v5 = VersionedTable.compactDeletes(spark, root, spec)
    val headBefore = VersionedTable.read(spark, root)
      .orderBy("k").as[(Long, String)].collect()
    val v4Before = VersionedTable.readVersion(spark, root, v4)
      .orderBy("k").as[(Long, String)].collect()
    val (retired, nFiles, nDvs) = VersionedTable.vacuum(spark, root, keepLast = 2)
    assert(retired.toSet == Set("v00001", "v00002", "v00003"), retired.toString)
    assert(nFiles > 0, "vacuum must reclaim the superseded generation files")
    // the DV sidecar is still referenced by retained v4; the ONE
    // sidecar reclaimed is retired v3's CDC dir (the CoW delete's
    // writer-side change rows go with their commit)
    assert(nDvs == 1, s"expected only v3's CDC sidecar reclaimed, got $nDvs")
    assert(VersionedTable.read(spark, root)
      .orderBy("k").as[(Long, String)].collect().sameElements(headBefore))
    assert(VersionedTable.readVersion(spark, root, v4)
      .orderBy("k").as[(Long, String)].collect().sameElements(v4Before))
    intercept[IllegalArgumentException] {
      VersionedTable.readVersion(spark, root, "v00002")
    }
    // idempotent: nothing further to reclaim
    assert(VersionedTable.vacuum(spark, root, keepLast = 2) == (Seq(), 0, 0))
    // tightening the window reclaims v4 and, with it, the vector
    val (retired2, _, nDvs2) = VersionedTable.vacuum(spark, root, keepLast = 1)
    assert(retired2 == Seq(v4) && nDvs2 == 1,
      s"keepLast=1 must retire $v4 and its sidecar, got ($retired2, $nDvs2)")
    assert(VersionedTable.read(spark, root)
      .orderBy("k").as[(Long, String)].collect().sameElements(headBefore))
  }

  test("changeFeed: net CDF semantics, full delete payloads, rewrite windows refused") {
    import spark.implicits._
    val root = fixture()                                   // v1: 0-399, v2: +400-599
    // window v2 → v4: an append whose rows are PARTIALLY deleted by a
    // later DV — inserted-then-deleted rows must net out of the feed
    VersionedTable.append(spark,
      (600L until 700L).map(i => (i, s"v$i")).toDF("k", "v"), root, spec) // v3
    VersionedTable.deleteRosterDV(spark, root, spec,
      ((650L until 660L) ++ (0L until 10L)).toDF("k"))     // v4
    val feed = VersionedTable.changeFeed(spark, root, "v00002", "v00004")
    val ins = feed.filter(col("change_type") === "insert")
    val del = feed.filter(col("change_type") === "delete")
    // inserts: the appended 100 minus the 10 deleted inside the window
    assert(ins.count() == 90L)
    assert(ins.filter(col("k").between(650L, 659L)).count() == 0L,
      "a row inserted and deleted inside the window must net out")
    // deletes: only PRE-EXISTING rows (0-9), with their full payloads
    assert(del.count() == 10L)
    assert(del.select("k").as[Long].collect().toSet == (0L until 10L).toSet)
    assert(del.filter(col("v").isNull).count() == 0L,
      "deletes must carry the full old row, not just the key")
    // applying the feed to a v2 replica reproduces v4 exactly
    val applied = VersionedTable.readVersion(spark, root, "v00002")
      .join(del.select(col("k").as("__dk")), col("k") === col("__dk"), "left_anti")
      .unionByName(ins.drop("change_type"))
      .orderBy("k").as[(Long, String)].collect()
    val head = VersionedTable.read(spark, root)
      .orderBy("k").as[(Long, String)].collect()
    assert(applied.sameElements(head))
    // a compaction inside the window is refused by the verb guard
    // a CONTENT-IDENTICAL rewrite inside the window segments, not
    // refuses (Delta CDF's dataChange=false skip): the feed across
    // the compaction equals the pre-compaction feed
    VersionedTable.compactDeletes(spark, root, spec)       // v5 (rewrite)
    val across = VersionedTable.changeFeed(spark, root, "v00002", "v00005")
    assert(across.filter(col("change_type") === "insert").count() == 90L)
    assert(across.filter(col("change_type") === "delete").count() == 10L)
    assert(across.filter(col("change_type") === "insert")
      .select("k").as[Long].collect().toSet ==
      feed.filter(col("change_type") === "insert")
        .select("k").as[Long].collect().toSet)
    // changes AFTER the rewrite land in the post-rewrite segment
    VersionedTable.deleteRosterDV(spark, root, spec, Seq(20L).toDF("k")) // v6
    val spanning = VersionedTable.changeFeed(spark, root, "v00002", "v00006")
    assert(spanning.filter(col("change_type") === "delete")
      .select("k").as[Long].collect().toSet == ((0L until 10L).toSet + 20L))
    // a CONTENT-CHANGING rewrite (CoW delete) carries WRITER-SIDE CDC:
    // the window folds across it — the removed row arrives as a
    // full-payload delete, and the rewrite's churned survivors must
    // NOT leak into the feed as inserts
    VersionedTable.deleteRoster(spark, root, spec, Seq(30L).toDF("k")) // v7
    val withCow = VersionedTable.changeFeed(spark, root, "v00002", "v00007")
    assert(withCow.filter(col("change_type") === "delete")
      .select("k").as[Long].collect().toSet ==
      ((0L until 10L).toSet + 20L + 30L))
    assert(withCow.filter(col("change_type") === "delete" && col("v").isNull)
      .count() == 0L, "CDC deletes must carry the full old row")
    assert(withCow.filter(col("change_type") === "insert").count() == 90L,
      "the CoW rewrite's churned survivors must not leak as inserts")
  }

  test("changeFeed: vacuumed window version refuses; failed tombstone skips; empty window typed") {
    import spark.implicits._
    val root = fixture()
    val mroot = s"$root/manifest"
    // an OCC conflict burns a number with a .failed tombstone inside
    // the window — the feed must SKIP it (the attempt never committed)
    val raced = new java.util.concurrent.atomic.AtomicBoolean(false)
    VersionedTable.appendOcc(spark,
      (600L until 650L).map(i => (i, s"v$i")).toDF("k", "v"), root, spec,
      beforeCommit = () =>
        if (raced.compareAndSet(false, true)) {
          VersionedTable.append(spark,
            (700L until 750L).map(i => (i, s"v$i")).toDF("k", "v"), root, spec)
          ()
        })
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(mroot).resolve("v00004.failed")))
    val feed = VersionedTable.changeFeed(spark, root, "v00002", "v00005")
    assert(feed.filter(col("change_type") === "insert").count() == 100L)
    // an all-property window returns an EMPTY typed frame (consumers
    // advance their offset past it instead of crashing)
    VersionedTable.setConstraint(spark, root, "k_pos", "k >= 0") // v6
    val empty = VersionedTable.changeFeed(spark, root, "v00005", "v00006")
    assert(empty.isEmpty && empty.columns.contains("change_type")
      && empty.columns.contains("k"))
    // a VACUUMED version inside the window refuses — its diff is
    // unrecoverable, and silently skipping it would emit the next
    // segment's churn as phantom changes (ADVICE r11 #1)
    VersionedTable.deleteRoster(spark, root, spec, Seq(30L).toDF("k")) // v7
    VersionedTable.append(spark,
      (800L until 810L).map(i => (i, s"v$i")).toDF("k", "v"), root, spec) // v8
    VersionedTable.vacuum(spark, root, keepLast = 2) // reclaims ≤ v6
    val e = intercept[IllegalArgumentException] {
      VersionedTable.changeFeed(spark, root, "v00002", "v00008")
    }
    assert(e.getMessage.contains("vacuumed"), e.getMessage)
    // ...and the refusal survives marker compaction into _BURNED
    Publish.compactPurgedMarkers(mroot)
    val e2 = intercept[IllegalArgumentException] {
      VersionedTable.changeFeed(spark, root, "v00002", "v00008")
    }
    assert(e2.getMessage.contains("vacuumed"), e2.getMessage)
    // a window wholly inside the retained tail still folds
    val tail = VersionedTable.changeFeed(spark, root, "v00007", "v00008")
    assert(tail.filter(col("change_type") === "insert").count() == 10L)
  }

  test("shallow clone: zero data copied, divergence isolated, vacuum custody respected") {
    import spark.implicits._
    val src = fixture()
    val dst = java.nio.file.Files.createTempDirectory("graft-vt-clone").toString
    VersionedTable.shallowClone(spark, src, dst)
    // zero-copy: the clone's files dir holds NO data generations
    def parquetsUnder(p: String): Seq[String] = {
      val buf = scala.collection.mutable.ArrayBuffer.empty[String]
      val d = java.nio.file.Paths.get(p)
      if (java.nio.file.Files.isDirectory(d)) {
        def walk(q: java.nio.file.Path): Unit =
          if (java.nio.file.Files.isDirectory(q)) {
            val st = java.nio.file.Files.list(q)
            try st.forEach(walk(_)) finally st.close()
          } else if (q.toString.endsWith(".parquet")) buf += q.toString
        walk(d)
      }
      buf.toSeq
    }
    assert(parquetsUnder(s"$dst/files").isEmpty,
      "a shallow clone must copy no data files")
    assert(VersionedTable.read(spark, dst).count() == 600L)
    // divergence: a DV delete on the clone leaves the source untouched
    val srcBefore = VersionedTable.read(spark, src)
      .orderBy("k").as[(Long, String)].collect()
    VersionedTable.deleteRosterDV(spark, dst, spec, (0L until 600L by 7L).toDF("k"))
    assert(VersionedTable.read(spark, dst).count() == 600L - 86L)
    assert(VersionedTable.read(spark, src)
      .orderBy("k").as[(Long, String)].collect().sameElements(srcBefore))
    // the clone's DV sidecar lives under ITS root
    assert(parquetsUnder(s"$dst/files").nonEmpty)
    // vacuum custody: the clone's vacuum walks only its own root, so
    // the source files it references stay untouched
    VersionedTable.vacuum(spark, dst, keepLast = 1)
    assert(VersionedTable.read(spark, src)
      .orderBy("k").as[(Long, String)].collect().sameElements(srcBefore))
    assert(VersionedTable.read(spark, dst).count() == 600L - 86L)
  }

  test("restore: vetoed when the restored files were vacuumed; refuses restoring the head") {
    import spark.implicits._
    val root = fixture()
    intercept[IllegalArgumentException] {
      VersionedTable.restore(spark, root, VersionedTable.headVersion(root).get)
    }
    // CoW-delete EVERY file's rows so v3 references only fresh
    // generations, then vacuum v1/v2 away: their gen0/gen1 files are
    // unreferenced and reclaimed
    VersionedTable.deleteRoster(spark, root, spec, (0L until 600L by 2L).toDF("k"))
    VersionedTable.vacuum(spark, root, keepLast = 1)
    val head = VersionedTable.headVersion(root)
    intercept[IllegalArgumentException] {
      VersionedTable.restore(spark, root, "v00001")
    }
    assert(VersionedTable.headVersion(root) == head,
      "a vetoed restore must not move the head")
    // tags: bad name and unpublished version are refused; drop releases
    intercept[IllegalArgumentException] {
      VersionedTable.tag(root, "bad name", head.get)
    }
    intercept[IllegalArgumentException] {
      VersionedTable.tag(root, "ghost", "v99999")
    }
    VersionedTable.tag(root, "keeper", head.get)
    assert(VersionedTable.tags(root) == Map("keeper" -> head.get))
    VersionedTable.dropTag(root, "keeper")
    assert(VersionedTable.tags(root).isEmpty)
  }

  test("CHECK constraints: NULL passes, veto writes nothing, drop re-enables, OCC+upsert enforce") {
    import spark.implicits._
    val root = fixture()
    VersionedTable.setConstraint(spark, root, "k_small", "k < 1000")
    VersionedTable.setConstraint(spark, root, "v_prefix", "v LIKE 'v%'")
    def dataFiles(): Long = {
      val d = java.nio.file.Paths.get(s"$root/files")
      val st = java.nio.file.Files.walk(d)
      try {
        import scala.jdk.CollectionConverters._
        st.iterator().asScala.count(_.toString.endsWith(".parquet")).toLong
      } finally st.close()
    }
    // ANSI CHECK: a NULL predicate result passes (unknown ≠ violation)
    VersionedTable.append(spark,
      Seq((700L, None: Option[String])).toDF("k", "v"), root, spec)
    val filesBefore = dataFiles()
    val headBefore = VersionedTable.headVersion(root)
    intercept[IllegalArgumentException] {
      VersionedTable.append(spark,
        Seq((5000L, "big")).toDF("k", "v"), root, spec)
    }
    // the veto left NO trace: no generation written, head unmoved
    assert(dataFiles() == filesBefore, "vetoed append must not write a generation")
    assert(VersionedTable.headVersion(root) == headBefore)
    intercept[IllegalArgumentException] {
      VersionedTable.appendOcc(spark, Seq((5000L, "v-big")).toDF("k", "v"), root, spec)
    }
    intercept[IllegalArgumentException] {
      VersionedTable.upsertDV(spark, root, spec, Seq((5000L, "v-big")).toDF("k", "v"))
    }
    // drop re-enables the previously-vetoed k (v still constrained)
    VersionedTable.dropConstraint(spark, root, "k_small")
    VersionedTable.append(spark, Seq((5000L, "v-big")).toDF("k", "v"), root, spec)
    assert(VersionedTable.read(spark, root).count() == 602L)
  }

  test("CHECK constraints: a shallow clone inherits the source's properties") {
    import spark.implicits._
    val src = fixture()
    VersionedTable.setConstraint(spark, src, "k_small", "k < 1000")
    val dst = java.nio.file.Files.createTempDirectory("graft-vt-ccl").toString
    VersionedTable.shallowClone(spark, src, dst)
    assert(VersionedTable.constraints(dst) == Map("k_small" -> "k < 1000"))
    intercept[IllegalArgumentException] {
      VersionedTable.append(spark, Seq((5000L, "big")).toDF("k", "v"), dst, spec)
    }
  }

  test("metadataAgg: count answers with every data file REMOVED (zero data IO)") {
    import spark.implicits._
    val root = fixture()
    val n = VersionedTable.metadataAgg(spark, root, Some("k"))
    assert(n.head.getLong(0) == 600L)
    // the zero-IO proof: physically remove the data files; the
    // manifest-only count must still answer
    val files = java.nio.file.Paths.get(s"$root/files")
    val st = java.nio.file.Files.walk(files)
    val parquets =
      try {
        import scala.jdk.CollectionConverters._
        st.iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq
      } finally st.close()
    assert(parquets.nonEmpty)
    parquets.foreach(java.nio.file.Files.delete(_))
    assert(VersionedTable.metadataAgg(spark, root, None).head.getLong(0) == 600L)
  }

  test("readAsOfTs resolves from the compacted _ts_index, not per-version _META walks") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-vt-ts").toString
    VersionedTable.create(spark,
      (0L until 10L).map(i => (i, s"v$i")).toDF("k", "v"), root, spec,
      extraMeta = Map("commit_ts" -> "100"))
    VersionedTable.append(spark,
      (10L until 20L).map(i => (i, s"v$i")).toDF("k", "v"), root, spec,
      extraMeta = Map("commit_ts" -> "200"))
    VersionedTable.append(spark,
      (20L until 30L).map(i => (i, s"v$i")).toDF("k", "v"), root, spec,
      extraMeta = Map("commit_ts" -> "300"))
    // first resolution builds the index
    assert(VersionedTable.readAsOfTs(spark, root, 250L).count() == 20L)
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$root/manifest/_ts_index")))
    // destroy the NON-resolved versions' _META: a second resolution
    // must not need them — stamps come from the one index file, and
    // only the RESOLVED version's _META is read (for its logical view)
    Seq("v00001", "v00003").foreach { v =>
      java.nio.file.Files.delete(
        java.nio.file.Paths.get(s"$root/manifest/$v/_META"))
    }
    assert(VersionedTable.readAsOfTs(spark, root, 250L).count() == 20L)
    // a commit landing after the index was built is indexed
    // incrementally (∝ new commits, not ∝ history)
    VersionedTable.append(spark,
      (30L until 40L).map(i => (i, s"v$i")).toDF("k", "v"), root, spec,
      extraMeta = Map("commit_ts" -> "400"))
    assert(VersionedTable.readAsOfTs(spark, root, 350L).count() == 30L)
    assert(VersionedTable.readAsOfTs(spark, root, 400L).count() == 40L)
  }

  // ---- schema evolution ----

  test("evolved append: head merges with NULL back-fill; time travel keeps the old schema") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-vt-evo").toString
    VersionedTable.create(spark,
      (0L until 100L).map(i => (i, s"v$i")).toDF("k", "v"), root, spec)
    intercept[IllegalArgumentException] {
      VersionedTable.append(spark,
        (100L until 200L).map(i => (i, s"v$i", i * 10)).toDF("k", "v", "extra"),
        root, spec)
    }
    VersionedTable.append(spark,
      (100L until 200L).map(i => (i, s"v$i", i * 10)).toDF("k", "v", "extra"),
      root, spec, allowEvolution = true)
    val head = VersionedTable.read(spark, root)
    assert(head.columns.toSeq.contains("extra"))
    assert(head.filter(col("k") < 100 && col("extra").isNotNull).count() == 0L,
      "pre-evolution rows must back-fill the new column as NULL")
    assert(head.filter(col("k") >= 100).agg(sum("extra")).head.getLong(0) ==
      (100L until 200L).map(_ * 10).sum)
    // time travel predates the evolution: the column must NOT appear
    assert(!VersionedTable.readVersion(spark, root, "v00001")
      .columns.toSeq.contains("extra"))
  }

  // ---- MERGE ----

  test("merge routes all three clauses; copy-through and unmatched rows untouched") {
    import spark.implicits._
    val root = fixture() // keys 0..599, v = "v$k"
    val filesBefore = VersionedTable.manifest(spark, root)
      .select("file").collect().map(_.getString(0)).toSet
    // 500..599 matched, 600..699 unmatched
    val source = (500L until 700L).map(i => (i, s"s$i")).toDF("k", "v")
    VersionedTable.merge(spark, root, spec, source,
      matchedUpdate = Map("v" -> col("src_v")),
      matchedUpdateCond = Some(col("k") % 2 === 0),
      matchedDeleteCond = Some(col("k") % 10 === 0),
      notMatchedCond = Some(col("src_k") % 3 === 0))
    val head = VersionedTable.read(spark, root)
    // deleted: 500,510..590 (10); updated: even matched minus those
    // (40); copy-through: odd matched (50); inserts: 600..699 % 3 == 0
    // (34); untouched: 0..499 (500)
    assert(head.count() == 500L + 40L + 50L + 34L)
    val byK = head.filter(col("k") >= 500).as[(Long, String)]
      .collect().toMap
    assert(!byK.contains(510L), "matched delete clause must remove the row")
    assert(byK(502L) == "s502", "matched update must take the source value")
    assert(byK(503L) == "v503", "copy-through row must keep the target value")
    assert(byK(603L) == "s603", "not-matched insert must land")
    assert(!byK.contains(601L), "not-matched condition must filter inserts")
    // merge-on-read: no pre-merge data file was rewritten
    val filesAfter = VersionedTable.manifest(spark, root)
      .select("file").collect().map(_.getString(0)).toSet
    assert(filesBefore.subsetOf(filesAfter),
      "merge must not rewrite existing data files")
  }

  test("merge refusals: ambiguous source, missing column, unknown SET target") {
    import spark.implicits._
    val root = fixture()
    intercept[IllegalArgumentException] {
      VersionedTable.merge(spark, root, spec,
        Seq((1L, "a"), (1L, "b")).toDF("k", "v"),
        matchedUpdate = Map("v" -> col("src_v")))
    }
    intercept[IllegalArgumentException] {
      VersionedTable.merge(spark, root, spec,
        Seq(1L, 2L).toDF("k"), matchedUpdate = Map("v" -> lit("x")))
    }
    intercept[IllegalArgumentException] {
      VersionedTable.merge(spark, root, spec,
        Seq((1L, "a")).toDF("k", "v"), matchedUpdate = Map("zz" -> lit(1)))
    }
  }

  test("merge no-op publishes merge-noop; NULL source keys insert, never match") {
    import spark.implicits._
    val root = fixture()
    val before = VersionedTable.read(spark, root).count()
    val v = VersionedTable.merge(spark, root, spec,
      (9000L until 9005L).map(i => (i, s"s$i")).toDF("k", "v"),
      insertNotMatched = false,
      matchedUpdate = Map("v" -> col("src_v")))
    assert(VersionedTable.versionMeta(root, v)("verb") == "merge-noop")
    assert(VersionedTable.read(spark, root).count() == before)
    // NULL keys fall through to the insert clause (SQL ON equality)
    val withNulls = Seq((Option.empty[Long], "n1"), (Option.empty[Long], "n2"))
      .toDF("k", "v")
    VersionedTable.merge(spark, root, spec, withNulls,
      matchedUpdate = Map("v" -> col("src_v")))
    assert(VersionedTable.read(spark, root)
      .filter(col("k").isNull).count() == 2L)
  }

  test("merge is row-granular: SCD2 close-out keeps the key's history rows") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-vt-scd").toString
    // a dimension WITH history: key 1 carries a closed row and a
    // current row — a key-granular DV would vector both
    VersionedTable.create(spark,
      Seq((1L, "a", false), (1L, "b", true), (2L, "c", true))
        .toDF("k", "attr", "is_current"), root, spec)
    // one merge, the SQL null-key staging pattern: real-key rows close
    // the changed current version (and insert brand-new keys); the
    // null-key row re-inserts the changed key's NEW current version
    // (it can never match) with the real key restored via the custom
    // insert projection
    val source = Seq(
      (Option(1L), 1L, "d"),   // matches → close-out (and 1 is not re-inserted here)
      (Option(3L), 3L, "e"),   // brand-new key → plain insert
      (Option.empty[Long], 1L, "d")) // staged new current version of key 1
      .toDF("k", "real_k", "new_attr")
    VersionedTable.merge(spark, root, spec, source,
      matchedUpdate = Map("is_current" -> lit(false)),
      matchedUpdateCond =
        Some(col("is_current") && col("attr") =!= col("src_new_attr")),
      notMatchedInsert = Map(
        "k" -> col("src_real_k"),
        "attr" -> col("src_new_attr"),
        "is_current" -> lit(true)))
    val head = VersionedTable.read(spark, root)
      .as[(Long, String, Boolean)].collect().toSet
    assert(head == Set(
      (1L, "a", false), // history row SURVIVES the sibling's close-out
      (1L, "b", false), // the old current, closed
      (1L, "d", true),  // the new current via the null-key insert
      (2L, "c", true),  // untouched key
      (3L, "e", true))) // brand-new key
  }

  test("mergeOcc retries by recompute: the rebased merge claims rows a concurrent writer added") {
    import spark.implicits._
    val root = fixture() // keys 0..599
    // the concurrent writer lands key 700 BETWEEN mergeOcc's head read
    // and its commit — attempt 1 must conflict, and attempt 2's
    // recompute must see (and update) the interloper's row
    var fired = false
    val interloper: () => Unit = () => {
      if (!fired) {
        fired = true
        VersionedTable.append(spark, Seq((700L, "race")).toDF("k", "v"),
          root, spec)
        ()
      }
    }
    val source = Seq((500L, "m500"), (700L, "m700")).toDF("k", "v")
    val (v, attempts) = VersionedTable.mergeOcc(spark, root, spec, source,
      matchedUpdate = Map("v" -> col("src_v")),
      insertNotMatched = false,
      beforeCommit = interloper)
    assert(attempts == 2, s"expected one conflict + one win, got $attempts")
    val byK = VersionedTable.read(spark, root)
      .filter(col("k").isin(500L, 700L)).as[(Long, String)].collect().toMap
    assert(byK(500L) == "m500")
    // key 700 did not exist at mergeOcc's first head read; the rebase
    // recomputed against the post-append head, so it IS updated
    assert(byK(700L) == "m700",
      "the rebased merge must claim rows the concurrent commit added")
    assert(VersionedTable.versionMeta(root, v)("attempt") == "2")
  }

  test("deleteBand drops fully-in-band files unread and vectors only straddlers") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-vt-band").toString
    // 4 range files with known boundaries: [0,100), [100,200), [200,300), [300,400)
    VersionedTable.create(spark,
      (0L until 400L).map(i => (i, s"v$i")).toDF("k", "v"), root, spec,
      layout = df => df.repartitionByRange(4, col("k")).sortWithinPartitions("k"))
    val before = VersionedTable.manifest(spark, root)
      .select("file").collect().map(_.getString(0)).toSet
    assert(before.size == 4)
    // band [100, 299]: files 2 and 3 are fully in-band -> metadata
    // drop; files 1 and 4 don't overlap -> untouched; no straddlers
    val v2 = VersionedTable.deleteBand(spark, root, spec, "k", 100L, 299L)
    val after = VersionedTable.manifest(spark, root)
      .select("file", "dv_path").collect()
    assert(after.map(_.getString(0)).toSet.subsetOf(before) &&
      after.length == 2,
      "exactly the two fully-in-band files must drop; none written")
    assert(after.forall(_.isNullAt(1)), "no straddler -> no DV")
    val m2 = VersionedTable.versionMeta(root, v2)
    assert(m2("n_dropped_files") == "2" && m2("n_straddlers") == "0")
    assert(VersionedTable.read(spark, root).count() == 200L)
    // band [50, 149]: keys 100..149 are already gone; file [0,100)
    // straddles -> rows 50..99 vector, the file itself survives
    val v3 = VersionedTable.deleteBand(spark, root, spec, "k", 50L, 149L)
    val m3 = VersionedTable.versionMeta(root, v3)
    assert(m3("n_dropped_files") == "0" && m3("n_straddlers") == "1")
    val head = VersionedTable.read(spark, root)
    assert(head.count() == 150L)
    assert(head.filter(col("k").between(50L, 299L)).count() == 0L)
    // out-of-range band no-ops
    val v4 = VersionedTable.deleteBand(spark, root, spec, "k", 5000L, 6000L)
    assert(VersionedTable.versionMeta(root, v4)("verb") == "delete-band-noop")
    // time travel: v1 still reads the full pre-delete content
    assert(VersionedTable.readVersion(spark, root, "v00001").count() == 400L)
  }

  test("merge enforces CHECK constraints on post-images") {
    import spark.implicits._
    val root = fixture()
    VersionedTable.setConstraint(spark, root, "v_present", "v IS NOT NULL")
    val ex = intercept[IllegalArgumentException] {
      VersionedTable.merge(spark, root, spec,
        Seq((500L, "x")).toDF("k", "v"),
        matchedUpdate = Map("v" -> lit(null).cast("string")))
    }
    assert(ex.getMessage.contains("CHECK"))
    // the violating merge left no trace
    assert(VersionedTable.read(spark, root)
      .filter(col("k") === 500L).as[(Long, String)].head()._2 == "v500")
  }
}
