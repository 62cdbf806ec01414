package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.operators.VersionedTable

/** Round-15 items: the version-true sink custody stamp (VERDICT r14
  * #1 — multi-version windows and offset bootstraps must reclaim
  * their spools), the raw-CDC convention refusal (ADVICE r14), the
  * byte-admission memo (VERDICT #2), the spool retention valve
  * (VERDICT #4), and per-row commit attribution (changeFeed /
  * snapshot / feed-option forms).
  */
class Round19OpsSpec extends SparkSpec {

  private val spec = VersionedTable.Spec(Seq("n"), "k", 1 << 13)

  private def rows(lo: Long, hi: Long): DataFrame = {
    import spark.implicits._
    (lo until hi).map(i => (i, i % 1000)).toDF("k", "n")
  }

  private def spools(root: String): Set[String] = {
    val p = java.nio.file.Paths.get(root, "_stream")
    if (!java.nio.file.Files.isDirectory(p)) Set.empty
    else {
      val st = java.nio.file.Files.list(p)
      try { import scala.jdk.CollectionConverters._
        st.iterator().asScala.map(_.getFileName.toString).toSet
      } finally st.close()
    }
  }

  test("sink custody stamp is version-true: multi-version windows from startingVersion>0 reclaim every spool after catch-up") {
    val src = java.nio.file.Files.createTempDirectory("graft-vt-s").toString
    val replica = java.nio.file.Files.createTempDirectory("graft-vt-r").toString
    val chk = java.nio.file.Files.createTempDirectory("graft-vt-c").toString
    val v1 = VersionedTable.create(spark, rows(0, 30), src, spec)
    (1 to 6).foreach(i =>
      VersionedTable.append(spark, rows(30 * i, 30 * i + 30), src, spec)) // v2..v7
    // out-of-band bootstrap at v1: the SOURCE-VERSION convention the
    // old v(batchId+1) counter silently skipped batches against
    VersionedTable.create(spark, VersionedTable.readVersion(spark, src, v1),
      replica, spec, extraMeta = Map("applied_upto" -> "v00001"))
    val q = spark.readStream.format("graft.sources.FeedStreamProvider")
      .option("root", src).option("startingVersion", v1)
      .option("maxVersionsPerTrigger", "3") // windows (v1,v4], (v4,v7]
      .load()
      .writeStream.format("graft.sources.TableSinkProvider")
      .option("root", replica).option("keyCol", "k").option("statCols", "n")
      .option("mode", "apply")
      .option("checkpointLocation", chk)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    // the watermark is the source HEAD version, not a batch counter
    assert(VersionedTable.headMeta(replica, "applied_upto").contains("v00007"),
      s"got ${VersionedTable.headMeta(replica, "applied_upto")}")
    assert(spools(src) == Set("w_v00001_v00004", "w_v00004_v00007"),
      s"${spools(src)}")
    // the caught-up sink releases EVERY spool — the case the r14
    // batch-counter stamp (floor v2 < window ends v4, v7) pinned
    VersionedTable.vacuum(spark, src,
      keepLast = VersionedTable.publishedVersions(src).size,
      consumers = Seq(replica))
    assert(spools(src).isEmpty, s"${spools(src)}")
    // and the replica content is the source head
    val got = VersionedTable.read(spark, replica).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = VersionedTable.read(spark, src).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want, s"replica ${got.size} vs source ${want.size}")
    Seq(src, replica, chk).foreach(p =>
      graft.operators.Checkpoints.deleteTree(java.nio.file.Paths.get(p)))
  }

  test("sink custody stamp: snapshot bootstrap stamps the snapshot's true version, then window ends") {
    val src = java.nio.file.Files.createTempDirectory("graft-vs-s").toString
    val replica = java.nio.file.Files.createTempDirectory("graft-vs-r").toString + "/t"
    val chk = java.nio.file.Files.createTempDirectory("graft-vs-c").toString
    VersionedTable.create(spark, rows(0, 20), src, spec)  // v1
    VersionedTable.append(spark, rows(20, 30), src, spec) // v2
    def drain(): Unit = {
      val q = spark.readStream.format("graft.sources.FeedStreamProvider")
        .option("root", src).option("startingVersion", "snapshot")
        .load()
        .writeStream.format("graft.sources.TableSinkProvider")
        .option("root", replica).option("keyCol", "k")
        .option("mode", "apply")
        .option("checkpointLocation", chk)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drain() // snapshot window (0, v2]
    assert(VersionedTable.headMeta(replica, "applied_upto").contains("v00002"),
      s"the snapshot bootstrap must stamp the snapshot version, got " +
        s"${VersionedTable.headMeta(replica, "applied_upto")}")
    VersionedTable.append(spark, rows(30, 40), src, spec) // v3
    drain()
    assert(VersionedTable.headMeta(replica, "applied_upto").contains("v00003"))
    VersionedTable.vacuum(spark, src,
      keepLast = VersionedTable.publishedVersions(src).size,
      consumers = Seq(replica))
    assert(spools(src).isEmpty, s"${spools(src)}")
    Seq(src, chk).foreach(p =>
      graft.operators.Checkpoints.deleteTree(java.nio.file.Paths.get(p)))
    graft.operators.Checkpoints.deleteTree(
      java.nio.file.Paths.get(replica).getParent)
  }

  test("feed into an append-mode log stamps applied_upto too: the log registers as a spool custody floor") {
    val src = java.nio.file.Files.createTempDirectory("graft-al-s").toString
    val log = java.nio.file.Files.createTempDirectory("graft-al-l").toString + "/t"
    val chk = java.nio.file.Files.createTempDirectory("graft-al-c").toString
    val v1 = VersionedTable.create(spark, rows(0, 20), src, spec)
    VersionedTable.append(spark, rows(20, 40), src, spec) // v2
    VersionedTable.append(spark, rows(40, 60), src, spec) // v3
    val q = spark.readStream.format("graft.sources.FeedStreamProvider")
      .option("root", src).option("startingVersion", v1)
      .load()
      .writeStream.format("graft.sources.TableSinkProvider")
      .option("root", log).option("keyCol", "k")
      .option("checkpointLocation", chk) // mode=append (default)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    // the CDC log carries every feed row (change_type included)...
    val logged = VersionedTable.read(spark, log)
    assert(logged.columns.contains("change_type"))
    assert(logged.count() == 40L)
    // ...and its applied_upto is the window's true end version, so a
    // consumer-registered vacuum reclaims the spools
    assert(VersionedTable.headMeta(log, "applied_upto").contains("v00003"))
    VersionedTable.vacuum(spark, src,
      keepLast = VersionedTable.publishedVersions(src).size,
      consumers = Seq(log))
    assert(spools(src).isEmpty, s"${spools(src)}")
    Seq(src, chk).foreach(p =>
      graft.operators.Checkpoints.deleteTree(java.nio.file.Paths.get(p)))
    graft.operators.Checkpoints.deleteTree(
      java.nio.file.Paths.get(log).getParent)
  }

  test("raw-CDC fallback refuses a version-bootstrapped replica instead of silently skipping windows") {
    import spark.implicits._
    val stage = java.nio.file.Files.createTempDirectory("graft-rf-st").toString
    val replica = java.nio.file.Files.createTempDirectory("graft-rf-r").toString
    val chk = java.nio.file.Files.createTempDirectory("graft-rf-c").toString
    // a replica whose watermark is a SOURCE version from an
    // out-of-band bootstrap — under the batch-counter convention the
    // first batches would read as already-applied and be lost
    VersionedTable.create(spark, rows(0, 5), replica, spec,
      extraMeta = Map("applied_upto" -> "v00009"))
    Seq((100L, 1L, 1L, "insert"))
      .toDF("k", "n", "seq", "change_type")
      .write.mode("append").parquet(stage)
    val sch = spark.read.parquet(stage).schema
    val q = spark.readStream.schema(sch).parquet(stage)
      .writeStream.format("graft.sources.TableSinkProvider")
      .option("root", replica).option("keyCol", "k")
      .option("mode", "applySeq").option("sequenceBy", "seq")
      .option("checkpointLocation", chk)
      .trigger(Trigger.AvailableNow()).start()
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => e.getMessage +: messages(e.getCause))
    assert(messages(err).exists(m =>
      m != null && m.contains("cannot derive source-version offsets")),
      s"want the convention refusal, got: ${messages(err).take(3)}")
    Seq(stage, replica, chk).foreach(p =>
      graft.operators.Checkpoints.deleteTree(java.nio.file.Paths.get(p)))
  }

  test("byte-admission memoizes: a backlogged catch-up pays each version's estimate once, not once per trigger") {
    val root = java.nio.file.Files.createTempDirectory("graft-bm-t").toString
    val chk = java.nio.file.Files.createTempDirectory("graft-bm-c").toString
    val v1 = VersionedTable.create(spark, rows(0, 30), root, spec)
    (1 to 6).foreach(i =>
      VersionedTable.append(spark, rows(30 * i, 30 * i + 10), root, spec)) // v2..v7
    graft.sources.FeedStream.addedBytesProbes.set(0L)
    var nBatches = 0
    val q = spark.readStream.format("graft.sources.FeedStreamProvider")
      .option("root", root).option("startingVersion", v1)
      .option("maxBytesPerTrigger", "1") // every commit over-budget
      .load()
      .writeStream.option("checkpointLocation", chk)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       _: Long) =>
        b.count(); synchronized { nBatches += 1 }; ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(nBatches == 6, s"one over-budget version per trigger: $nBatches")
    val probes = graft.sources.FeedStream.addedBytesProbes.get()
    // 6 versions, each estimated once (+1 lookahead at the first
    // trigger); the unmemoized walk pays ~2 estimates per trigger
    assert(probes <= 7L,
      s"a 6-version catch-up must estimate each version once, got $probes")
    Seq(root, chk).foreach(p =>
      graft.operators.Checkpoints.deleteTree(java.nio.file.Paths.get(p)))
  }

  test("spool retention valve: unregistered aged spools reclaim; a registered lagging consumer overrides retention") {
    val root = java.nio.file.Files.createTempDirectory("graft-rv-t").toString
    val chk = java.nio.file.Files.createTempDirectory("graft-rv-c").toString
    val v1 = VersionedTable.create(spark, rows(0, 20), root, spec)
    VersionedTable.append(spark, rows(20, 40), root, spec) // v2
    VersionedTable.append(spark, rows(40, 60), root, spec) // v3
    def drain(chkDir: String): Unit = {
      val q = spark.readStream.format("graft.sources.FeedStreamProvider")
        .option("root", root).option("startingVersion", v1)
        .option("maxVersionsPerTrigger", "1").load()
        .writeStream.option("checkpointLocation", chkDir)
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                         _: Long) => b.count(); () }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drain(chk)
    assert(spools(root) == Set("w_v00001_v00002", "w_v00002_v00003"))
    def backdate(): Unit = {
      // aging keys on the spools' CHILDREN (ADVICE r15: no
      // directory-mtime contract) — backdate every file in the tree
      val old = java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 10 * 60 * 1000L)
      val st = java.nio.file.Files.walk(
        java.nio.file.Paths.get(root, "_stream"))
      try { import scala.jdk.CollectionConverters._
        st.iterator().asScala.foreach(p =>
          java.nio.file.Files.setLastModifiedTime(p, old))
      } finally st.close()
    }
    backdate()
    val keepAll = VersionedTable.publishedVersions(root).size
    // young retention, no consumer: nothing aged past 30min → kept
    VersionedTable.vacuum(spark, root, keepLast = keepAll,
      spoolRetainMs = Some(30 * 60 * 1000L))
    assert(spools(root).size == 2, s"young spools must survive: ${spools(root)}")
    // 1min retention, no consumer: the 10min-old spools age out
    VersionedTable.vacuum(spark, root, keepLast = keepAll,
      spoolRetainMs = Some(60 * 1000L))
    assert(spools(root).isEmpty,
      s"unregistered aged spools must reclaim: ${spools(root)}")
    // re-spool from a fresh checkpoint, register a LAGGING consumer
    // (applied_upto=v1): retention must NOT touch windows past its
    // floor, aged or not
    drain(java.nio.file.Files.createTempDirectory("graft-rv-c2").toString)
    backdate()
    val lagging = java.nio.file.Files.createTempDirectory("graft-rv-lag").toString
    VersionedTable.create(spark, rows(0, 5), lagging, spec,
      extraMeta = Map("applied_upto" -> "v00001"))
    VersionedTable.vacuum(spark, root, keepLast = keepAll,
      consumers = Seq(lagging), spoolRetainMs = Some(60 * 1000L))
    assert(spools(root) == Set("w_v00001_v00002", "w_v00002_v00003"),
      s"a registered lagging floor overrides retention: ${spools(root)}")
    Seq(root, chk, lagging).foreach(p =>
      graft.operators.Checkpoints.deleteTree(java.nio.file.Paths.get(p)))
  }

  test("changeFeedWithCommitVersions: rows charge to their committing version, timestamps inherit, renames refuse") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-cv-t").toString
    val v1 = VersionedTable.create(spark, rows(0, 10), root, spec,
      extraMeta = Map("commit_ts" -> "500"))
    VersionedTable.append(spark, rows(10, 20), root, spec) // v2, inherits 500
    VersionedTable.deleteRosterDV(spark, root, spec, Seq(3L).toDF("k"),
      extraMeta = Map("commit_ts" -> "900"))               // v3
    val got = VersionedTable.changeFeedWithCommitVersions(
      spark, root, v1, "v00003").collect()
      .map(r => (r.getLong(0), r.getString(2), r.getString(3),
        if (r.isNullAt(4)) -1L else r.getLong(4))).toSet
    val want =
      (10L until 20L).map(k => (k, "insert", "v00002", 500L)).toSet +
        ((3L, "delete", "v00003", 900L))
    assert(got == want, s"got ${got.size}: ${got.take(5)}")
    // evolution inside the window backfills null on earlier steps
    VersionedTable.append(spark,
      (20L until 25L).map(i => (i, i % 1000, s"x$i")).toDF("k", "n", "x"),
      root, spec, allowEvolution = true)                   // v4
    val evolved = VersionedTable.changeFeedWithCommitVersions(
      spark, root, "v00002", "v00004")
    assert(evolved.columns.toSeq ==
      Seq("k", "n", "x", "change_type", "_commit_version",
        "_commit_timestamp", "_commit_version_num"))
    // the numeric twin agrees with the name stamp, row by row
    assert(evolved.collect().forall(r =>
      r.getLong(6) == r.getString(4).drop(1).toLong))
    val byV = evolved.collect().groupBy(_.getString(4))
    assert(byV("v00003").forall(_.isNullAt(2)),
      "pre-evolution rows must backfill null on the added column")
    assert(byV("v00004").forall(r => r.getString(2) == s"x${r.getLong(0)}"))
    // a RENAME inside a multi-step window refuses: attribution can't
    // re-map a column that changed names between steps
    VersionedTable.renameColumn(spark, root, spec, "n", "m")  // v5
    val err = intercept[IllegalArgumentException] {
      VersionedTable.changeFeedWithCommitVersions(spark, root, "v00003", "v00005")
    }
    assert(err.getMessage.contains("rename"), err.getMessage)
    graft.operators.Checkpoints.deleteTree(java.nio.file.Paths.get(root))
  }

  test("sink expectations: drop discards violations; fail aborts the batch before anything commits") {
    import spark.implicits._
    val stage = java.nio.file.Files.createTempDirectory("graft-ex-st").toString
    val table = java.nio.file.Files.createTempDirectory("graft-ex-t").toString + "/t"
    val chk = java.nio.file.Files.createTempDirectory("graft-ex-c").toString
    (0L until 20L).map(i => (i, i % 1000)).toDF("k", "n")
      .write.mode("append").parquet(stage)
    val sch = spark.read.parquet(stage).schema
    def start(mode: String, chkDir: String, root: String) =
      spark.readStream.schema(sch).parquet(stage)
        .writeStream.format("graft.sources.TableSinkProvider")
        .option("root", root).option("keyCol", "k")
        .option("expect", "k % 4 != 0").option("onViolation", mode)
        .option("checkpointLocation", chkDir)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    val q = start("drop", chk, table)
    q.awaitTermination()
    val kept = VersionedTable.read(spark, table).select("k").collect()
      .map(_.getLong(0)).toSet
    assert(kept == (0L until 20L).filter(_ % 4 != 0).toSet, s"$kept")
    // fail: the violating batch aborts and NOTHING commits
    val table2 = java.nio.file.Files.createTempDirectory("graft-ex-t2").toString + "/t"
    val chk2 = java.nio.file.Files.createTempDirectory("graft-ex-c2").toString
    val q2 = start("fail", chk2, table2)
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.awaitTermination()
    }
    assert(VersionedTable.headVersion(table2).isEmpty,
      "a failed expectation must abort before anything commits")
    // expectations follow the DLT NULL rule: NULL violates
    val stage3 = java.nio.file.Files.createTempDirectory("graft-ex-s3").toString
    Seq((1L, Some(5L)), (2L, None), (3L, Some(8L)))
      .toDF("k", "n").write.mode("append").parquet(stage3)
    val table3 = java.nio.file.Files.createTempDirectory("graft-ex-t3").toString + "/t"
    val chk3 = java.nio.file.Files.createTempDirectory("graft-ex-c3").toString
    val q3 = spark.readStream.schema(spark.read.parquet(stage3).schema)
      .parquet(stage3)
      .writeStream.format("graft.sources.TableSinkProvider")
      .option("root", table3).option("keyCol", "k")
      .option("expect", "n > 0").option("onViolation", "drop")
      .option("checkpointLocation", chk3)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q3.awaitTermination()
    assert(VersionedTable.read(spark, table3).select("k").collect()
      .map(_.getLong(0)).toSet == Set(1L, 3L),
      "a NULL predicate result must violate, not pass")
    Seq(stage, chk, chk2, chk3, stage3).foreach(p =>
      graft.operators.Checkpoints.deleteTree(java.nio.file.Paths.get(p)))
    Seq(table, table2, table3).foreach(p =>
      graft.operators.Checkpoints.deleteTree(
        java.nio.file.Paths.get(p).getParent))
  }

  test("in-commit timestamps: commits auto-stamp monotonically; timestamp addressing works without writer stamps") {
    val root = java.nio.file.Files.createTempDirectory("graft-ict-t").toString
    VersionedTable.create(spark, rows(0, 10), root, spec) // v1: unstamped
    VersionedTable.setInCommitTimestamps(spark, root)     // v2: property, stamped
    VersionedTable.append(spark, rows(10, 20), root, spec) // v3: auto-stamped
    VersionedTable.append(spark, rows(20, 30), root, spec) // v4: auto-stamped
    val stamps = VersionedTable.publishedVersions(root)
      .map(v => v -> VersionedTable.versionMeta(root, v).get("commit_ts").map(_.toLong))
    assert(stamps.head._2.isEmpty, "pre-ICT commits stay unstamped")
    val on = stamps.drop(1).map(_._2)
    assert(on.forall(_.isDefined), s"every post-ICT commit auto-stamps: $stamps")
    assert(on.flatten == on.flatten.sorted && on.flatten.distinct == on.flatten,
      s"stamps must be strictly monotone: $on")
    // timestamp addressing rides the auto-stamps: as-of v3's instant
    // reads exactly v3's content
    val t3 = VersionedTable.versionMeta(root, "v00003")("commit_ts").toLong
    assert(VersionedTable.versionAsOfTs(root, t3) == "v00003")
    assert(VersionedTable.readAsOfTs(spark, root, t3).count() == 20L)
    // the feed segments across the property commit: (v1, head] folds
    val feed = VersionedTable.changeFeed(spark, root, "v00001",
      VersionedTable.headVersion(root).get)
    assert(feed.filter(col("change_type") === "insert").count() == 20L)
    graft.operators.Checkpoints.deleteTree(java.nio.file.Paths.get(root))
  }

  /** The conditional commits, each run on a table whose head is stamped
    * (a branch, if any, next to it); each returns the version it commits.
    */
  private val conditionalCommits = Seq[(String, String => String)](
    "appendOcc" -> (root =>
      VersionedTable.appendOcc(spark, rows(10, 20), root, spec, maxAttempts = 1)._1),
    "mergeOcc" -> (root =>
      VersionedTable.mergeOcc(spark, root, spec, rows(5, 15),
        matchedUpdate = Map("n" -> col("src_n")), maxAttempts = 1)._1),
    "fastForward" -> { root =>
      val br = s"$root-branch"
      VersionedTable.shallowClone(spark, root, br)
      VersionedTable.append(spark, rows(10, 20), br, spec)
      VersionedTable.fastForward(spark, root, br)
    },
    "rebaseBranch" -> { root =>
      val br = s"$root-branch"
      VersionedTable.shallowClone(spark, root, br)
      VersionedTable.append(spark, rows(10, 20), br, spec)
      VersionedTable.append(spark, rows(20, 30), root, spec)
      VersionedTable.rebaseBranch(spark, root, br, spec)
    })

  conditionalCommits.foreach { case (verb, run) =>
    test(s"in-commit timestamps: $verb stamps its version above its predecessor's, " +
      "in a one-file manifest") {
      val root = java.nio.file.Files.createTempDirectory("graft-ict-c").toString + "/t"
      VersionedTable.create(spark, rows(0, 10), root, spec)
      VersionedTable.setInCommitTimestamps(spark, root)
      val v = run(root)
      val prev = VersionedTable.publishedVersions(root).takeWhile(_ != v).last
      def stamp(x: String) = VersionedTable.versionMeta(root, x).get("commit_ts").map(_.toLong)
      assert(stamp(prev).isDefined, s"$verb: the predecessor $prev is stamped")
      assert(stamp(v).exists(_ > stamp(prev).get),
        s"$verb: $v carries ${stamp(v)}, predecessor $prev ${stamp(prev)}")
      assert(VersionedTable.versionAsOfTs(root, stamp(prev).get) == prev,
        s"$verb: the predecessor's instant resolves to a later version")
      val manifestFiles = graft.operators.LocalTableStore.listNames(s"$root/manifest/$v")
        .filter(_.endsWith(".parquet"))
      assert(manifestFiles.size == 1, s"$verb: manifest files $manifestFiles")
      graft.operators.Checkpoints.deleteTree(java.nio.file.Paths.get(root).getParent)
    }
  }

  test("fsck repair: missing-file references drop in one manifest commit; the feed refuses across it; total loss refuses") {
    import graft.operators.{LocalTableStore, VersionedTable => VT}
    val root = java.nio.file.Files.createTempDirectory("graft-fsck").toString
    val v1 = VT.create(spark, rows(0, 40).repartition(4), root, spec)
    VT.append(spark, rows(40, 50), root, spec) // v2
    // no-op repair returns the head untouched
    assert(VT.repairMissingFiles(spark, root) == (VT.headVersion(root).get, 0))
    // externally lose one v1 file
    val victim = VT.manifest(spark, root).select("file").collect()
      .map(_.getString(0)).sorted.head.stripPrefix("file:")
    val victimRows = spark.read.parquet(victim).count()
    LocalTableStore.deleteIfExists(victim)
    intercept[Exception] { VT.read(spark, root).count() }
    val (v3, dropped) = VT.repairMissingFiles(spark, root)
    assert(dropped == 1 && v3 == "v00003")
    assert(VT.read(spark, root).count() == 50L - victimRows)
    // the lost rows have no recoverable payload: a feed window across
    // the fsck refuses instead of silently missing deletes
    val err = intercept[IllegalArgumentException] {
      VT.changeFeed(spark, root, v1, v3).count()
    }
    assert(err.getMessage.contains("fsck") || err.getMessage.contains("rewrite"),
      err.getMessage)
    // total loss is not "repair"
    VT.manifest(spark, root).select("file").collect().map(_.getString(0))
      .foreach(f => LocalTableStore.deleteIfExists(f.stripPrefix("file:")))
    val total = intercept[IllegalArgumentException] {
      VT.repairMissingFiles(spark, root)
    }
    assert(total.getMessage.contains("every data file"), total.getMessage)
    graft.operators.Checkpoints.deleteTree(java.nio.file.Paths.get(root))
  }

  test("multi-writer stress: 8 threads of appendOcc serialize with zero lost updates through the store facade") {
    import graft.operators.{VersionedTable => VT}
    val root = java.nio.file.Files.createTempDirectory("graft-occ8").toString
    VT.create(spark, rows(0, 10), root, spec)
    import spark.implicits._
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val tasks = (0 until 8).map { w =>
        pool.submit(new java.util.concurrent.Callable[Int] {
          override def call(): Int = {
            val df = Seq((1000L + w, w.toLong)).toDF("k", "n")
            // worst case a writer rebases past all 7 rivals (plus
            // jitter) — OCC needs retries ≥ contention, the same
            // sizing rule Delta documents for concurrent writers
            VT.appendOcc(spark, df, root, spec, maxAttempts = 24)._2
          }
        })
      }
      val attempts = tasks.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
      // every writer eventually lands (rebase-and-retry), and the
      // total content shows zero lost updates
      assert(attempts.forall(_ >= 1), s"$attempts")
      val ks = VT.read(spark, root).select("k").collect().map(_.getLong(0)).toSet
      assert(ks == ((0L until 10L) ++ (1000L until 1008L)).toSet,
        s"lost update: ${ks.size} keys")
      // heads are strictly serial: 1 create + 8 appends = 9 versions
      assert(VT.publishedVersions(root).size == 9,
        s"${VT.publishedVersions(root)}")
    } finally pool.shutdownNow()
    graft.operators.Checkpoints.deleteTree(java.nio.file.Paths.get(root))
  }

  test("review fixes: vacuum survives a trailing-slash root; NULL band values violate replaceWhere; self-quarantine refuses; ICT never regresses past a skewed stamp") {
    import spark.implicits._
    import graft.operators.{VersionedTable => VT}
    // vacuum under a NON-normalized root: the referenced-set compare
    // must normalize both sides or every live file reads unreferenced
    val rootDir = java.nio.file.Files.createTempDirectory("graft-norm").toString
    val root = rootDir + "/" // trailing slash, deliberately
    VT.create(spark, rows(0, 30), root, spec)
    VT.append(spark, rows(30, 40), root, spec)
    val (_, nFiles, _) = VT.vacuum(spark, root, keepLast = 2)
    assert(nFiles == 0, s"vacuum deleted $nFiles LIVE files under a trailing-slash root")
    assert(VT.read(spark, root).count() == 40L)
    // NULL band value = outside the band (never silently landed)
    val nullBatch = Seq((900L, Option.empty[Long])).toDF("k", "n")
    val err = intercept[IllegalArgumentException] {
      VT.replaceWhere(spark, root, spec, "n", 0, 2000, nullBatch)
    }
    assert(err.getMessage.contains("outside"), err.getMessage)
    // quarantining into the sink's own table refuses at construction
    val bad = scala.util.Try {
      spark.readStream.schema(rows(0, 1).schema)
        .parquet(rootDir) // never started; createSink runs at start()
        .writeStream.format("graft.sources.TableSinkProvider")
        .option("root", root).option("keyCol", "k")
        .option("expect", "n > 0").option("onViolation", "quarantine")
        .option("quarantineRoot", root)
        .option("checkpointLocation", rootDir + "-chk")
        .start()
    }
    assert(bad.isFailure || { bad.get.stop(); false },
      "self-quarantine must refuse")
    // ICT: a pre-ICT stamp AHEAD of wallclock must not make later
    // auto-stamps run backwards
    val skew = java.nio.file.Files.createTempDirectory("graft-skew").toString
    val future = System.currentTimeMillis() + 10_000_000L
    VT.create(spark, rows(0, 5), skew, spec,
      extraMeta = Map("commit_ts" -> future.toString))
    VT.setInCommitTimestamps(spark, skew)
    VT.append(spark, rows(5, 10), skew, spec)
    val stamps = VT.publishedVersions(skew)
      .flatMap(v => VT.versionMeta(skew, v).get("commit_ts").map(_.toLong))
    assert(stamps == stamps.sorted && stamps.distinct == stamps,
      s"ICT must stay monotone past a skewed stamp: $stamps")
    assert(VT.versionAsOfTs(skew, stamps.max) == VT.headVersion(skew).get)
    Seq(rootDir, skew).foreach(p =>
      graft.operators.Checkpoints.deleteTree(java.nio.file.Paths.get(p)))
  }

  test("commitVersions snapshot: batch 0 attributes each row to the retained version that introduced its file") {
    val root = java.nio.file.Files.createTempDirectory("graft-cs-t").toString
    val chk = java.nio.file.Files.createTempDirectory("graft-cs-c").toString
    VersionedTable.create(spark, rows(0, 10), root, spec,
      extraMeta = Map("commit_ts" -> "700"))               // v1
    VersionedTable.append(spark, rows(10, 20), root, spec) // v2, inherits 700
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    val q = spark.readStream.format("graft.sources.FeedStreamProvider")
      .option("root", root).option("startingVersion", "snapshot")
      .option("commitVersions", "true")
      .load()
      .writeStream.option("checkpointLocation", chk)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       _: Long) =>
        val got = b.collect().map(r => (r.getLong(0), r.getString(2),
          r.getString(3), if (r.isNullAt(4)) -1L else r.getLong(4)))
        synchronized { out ++= got }
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val want = ((0L until 10L).map(k => (k, "insert", "v00001", 700L)) ++
      (10L until 20L).map(k => (k, "insert", "v00002", 700L))).toSet
    assert(out.toSet == want, s"got ${out.size}: ${out.take(4)}")
    Seq(root, chk).foreach(p =>
      graft.operators.Checkpoints.deleteTree(java.nio.file.Paths.get(p)))
  }
}
