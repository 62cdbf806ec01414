package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.operators.VersionedTable

/** The versioned table as a Structured Streaming SOURCE
  * (graft.sources.FeedStreamProvider): version-offset batching,
  * back-pressure, and the claim the oracle hash can't state — OFFSET
  * REPLAY AFTER RESTART (a second run from the same checkpoint emits
  * only the windows committed since, never re-emitting consumed ones).
  */
class FeedStreamSpec extends SparkSpec {

  private val spec = VersionedTable.Spec(Seq("n"), "k", 1 << 13)

  private def rows(lo: Long, hi: Long): DataFrame = {
    import spark.implicits._
    (lo until hi).map(i => (i, i % 1000)).toDF("k", "n")
  }

  private def drain(root: String, startV: String, chk: String,
                    out: scala.collection.mutable.ArrayBuffer[(Long, Long, String)],
                    batches: scala.collection.mutable.ArrayBuffer[Long]): Unit = {
    val q = spark.readStream.format("graft.sources.FeedStreamProvider")
      .option("root", root)
      .option("startingVersion", startV)
      .option("maxVersionsPerTrigger", "1")
      .load()
      .writeStream
      .option("checkpointLocation", chk)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       id: Long) =>
        val got = b.collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
        synchronized { out ++= got; batches += id }
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
  }

  test("feed source streams version windows; restart from checkpoint consumes only new commits") {
    val root = tempDir("graft-fs-t").toString
    val chk = tempDir("graft-fs-chk").toString
    val v1 = VersionedTable.create(spark, rows(0, 100), root, spec)
    import spark.implicits._
    // three data commits → with maxVersionsPerTrigger=1, three batches
    VersionedTable.append(spark, rows(100, 150), root, spec)
    VersionedTable.upsertDV(spark, root, spec, Seq((5L, 5000L)).toDF("k", "n"))
    VersionedTable.deleteRosterDV(spark, root, spec, Seq(7L).toDF("k"))
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, String)]
    val batches = scala.collection.mutable.ArrayBuffer.empty[Long]
    drain(root, v1, chk, out, batches)
    assert(batches.size >= 3,
      s"maxVersionsPerTrigger=1 over 3 commits must batch per version: $batches")
    // the streamed rows ARE the batch change feed v1→head
    val head1 = VersionedTable.headVersion(root).get
    val expect1 = VersionedTable.changeFeed(spark, root, v1, head1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(out.sorted == expect1.sorted,
      s"stream≠batch: ${out.size} streamed vs ${expect1.size} expected")

    // RESTART: two more commits, same checkpoint — only the new
    // windows arrive (offset replay; nothing re-emitted)
    VersionedTable.append(spark, rows(150, 170), root, spec)
    VersionedTable.deleteRosterDV(spark, root, spec, Seq(3L).toDF("k"))
    val out2 = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, String)]
    val batches2 = scala.collection.mutable.ArrayBuffer.empty[Long]
    drain(root, v1, chk, out2, batches2)
    val head2 = VersionedTable.headVersion(root).get
    val expect2 = VersionedTable.changeFeed(spark, root, head1, head2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(out2.sorted == expect2.sorted,
      s"restart must emit exactly the post-checkpoint windows: got ${out2.size}, want ${expect2.size}")
    assert(batches2.forall(id => !batches.contains(id)),
      "restart reused a consumed batch id")
    // spool idempotence: re-planning a window reuses its materialized
    // spool (same _SUCCESS-guarded dir, no second write)
    val spools = {
      val st = java.nio.file.Files.list(
        java.nio.file.Paths.get(root, "_stream"))
      try { import scala.jdk.CollectionConverters._
        st.iterator().asScala.map(_.getFileName.toString).toSet
      } finally st.close()
    }
    assert(spools.nonEmpty && spools.forall(_.startsWith("w_v")), s"$spools")
  }

  test("feed source default start is the head: an idle table yields zero rows, a commit streams") {
    val root = tempDir("graft-fs-h").toString
    val chk1 = tempDir("graft-fs-hc1").toString
    VersionedTable.create(spark, rows(0, 50), root, spec)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, String)]
    val batches = scala.collection.mutable.ArrayBuffer.empty[Long]
    // no startingVersion → "latest": nothing to consume yet
    val q = spark.readStream.format("graft.sources.FeedStreamProvider")
      .option("root", root).load()
      .writeStream.option("checkpointLocation", chk1)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       id: Long) =>
        val got = b.collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
        synchronized { out ++= got; batches += id }
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(out.isEmpty, s"latest-posture start must see no history: $out")
    // a new commit, same checkpoint → exactly its window arrives
    VersionedTable.append(spark, rows(50, 60), root, spec)
    val out2 = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, String)]
    val b2 = scala.collection.mutable.ArrayBuffer.empty[Long]
    drain(root, "v00001", chk1, out2, b2) // startingVersion ignored: checkpoint wins
    assert(out2.map(_._1).toSet == (50L until 60L).toSet,
      s"only the appended window must stream: ${out2.size} rows")
    assert(out2.forall(_._3 == "insert"))
  }

  test("spool custody: vacuum reclaims windows every registered consumer committed past; a lagging checkpoint's window survives") {
    val root = tempDir("graft-fs-vc").toString
    val chk = tempDir("graft-fs-vcc").toString
    val v1 = VersionedTable.create(spark, rows(0, 60), root, spec)
    VersionedTable.append(spark, rows(60, 90), root, spec)   // v2
    VersionedTable.append(spark, rows(90, 120), root, spec)  // v3
    VersionedTable.append(spark, rows(120, 140), root, spec) // v4
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, String)]
    val batches = scala.collection.mutable.ArrayBuffer.empty[Long]
    drain(root, v1, chk, out, batches) // spools w_v1_v2, w_v2_v3, w_v3_v4
    def spools(): Set[String] = {
      val st = java.nio.file.Files.list(java.nio.file.Paths.get(root, "_stream"))
      try { import scala.jdk.CollectionConverters._
        st.iterator().asScala.map(_.getFileName.toString).toSet
      } finally st.close()
    }
    val all = spools()
    assert(all == Set("w_v00001_v00002", "w_v00002_v00003", "w_v00003_v00004"), s"$all")
    val keepAll = VersionedTable.publishedVersions(root).size
    // no registered consumer → custody unknowable, nothing reclaimed
    VersionedTable.vacuum(spark, root, keepLast = keepAll)
    assert(spools() == all, "an unregistered checkpoint must keep every spool")
    // a LAGGING replica (applied_upto=v3) + a caught-up one (v4): the
    // floor is min over consumers, so w_v3_v4 (end past the lagger's
    // commit — its restart could re-plan it) must survive
    import spark.implicits._
    val lagging = tempDir("graft-fs-lag").toString
    val caught = tempDir("graft-fs-cau").toString
    VersionedTable.create(spark, rows(0, 5), lagging, spec,
      extraMeta = Map("applied_upto" -> "v00003"))
    VersionedTable.create(spark, rows(0, 5), caught, spec,
      extraMeta = Map("applied_upto" -> "v00004"))
    VersionedTable.vacuum(spark, root, keepLast = keepAll,
      consumers = Seq(lagging, caught))
    assert(spools() == Set("w_v00003_v00004"),
      s"fully-consumed windows reclaim, the lagging window survives: ${spools()}")
    // every consumer past v4 → the last spool reclaims too
    VersionedTable.vacuum(spark, root, keepLast = keepAll,
      consumers = Seq(caught))
    assert(spools().isEmpty, s"caught-up consumers pin nothing: ${spools()}")
    Seq(root, chk, lagging, caught).foreach(p =>
      graft.operators.Checkpoints.deleteTree(java.nio.file.Paths.get(p)))
  }

  test("complex column types stream through the feed: array<float>, array<string>, timestamp, decimal") {
    import spark.implicits._
    val root = tempDir("graft-fs-cx").toString
    val chk = tempDir("graft-fs-cxc").toString
    def mk(lo: Long, hi: Long) = (lo until hi).map { i =>
      (i, Array(i.toFloat, (i * 2).toFloat, 0.5f),
        Seq(s"t$i", s"u${i % 7}"),
        java.sql.Timestamp.valueOf(s"2026-01-0${1 + (i % 9)} 10:0${i % 6}:00"),
        new java.math.BigDecimal(s"${i}.25"))
    }.toDF("k", "emb", "tags", "ts", "amount")
      .select(col("k"), col("emb"), col("tags"), col("ts"),
        col("amount").cast("decimal(12,2)").as("amount"))
    val cxSpec = VersionedTable.Spec(Seq.empty, "k", 1 << 13)
    val v1 = VersionedTable.create(spark, mk(0, 40), root, cxSpec)
    VersionedTable.append(spark, mk(40, 60), root, cxSpec)
    // delete keys from the BASE version only: a same-window
    // insert-then-delete pair nets out of the batch changeFeed the
    // assertion compares against, while per-version micro-batches
    // legitimately emit both
    VersionedTable.deleteRosterDV(spark, root, cxSpec, Seq(3L, 7L).toDF("k"))
    type R = (Long, Seq[Float], Seq[String], java.sql.Timestamp, java.math.BigDecimal, String)
    def shape(r: org.apache.spark.sql.Row): R =
      (r.getLong(0), r.getSeq[Float](1), r.getSeq[String](2),
        r.getTimestamp(3), r.getDecimal(4), r.getString(5))
    val out = scala.collection.mutable.ArrayBuffer.empty[R]
    val q = spark.readStream.format("graft.sources.FeedStreamProvider")
      .option("root", root).option("startingVersion", v1)
      .option("maxVersionsPerTrigger", "1")
      .load()
      .writeStream.option("checkpointLocation", chk)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       _: Long) =>
        val got = b.collect().map(shape)
        synchronized { out ++= got }
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val head = VersionedTable.headVersion(root).get
    val expect = VersionedTable.changeFeed(spark, root, v1, head)
      .collect().map(shape).toSeq
    assert(out.sortBy(t => (t._1, t._6)).toSeq == expect.sortBy(t => (t._1, t._6)),
      s"stream≠batch over complex types: ${out.size} vs ${expect.size}")
    assert(out.exists(_._3.nonEmpty) && out.forall(_._2.length == 3))
    Seq(root, chk).foreach(p =>
      graft.operators.Checkpoints.deleteTree(java.nio.file.Paths.get(p)))
  }

  test("startingTimestamp streams changes after the version the table had at that instant") {
    val root = tempDir("graft-fs-ts").toString
    val chk = tempDir("graft-fs-tsc").toString
    VersionedTable.create(spark, rows(0, 10), root, spec,
      extraMeta = Map("commit_ts" -> "100"))
    VersionedTable.append(spark, rows(10, 20), root, spec,
      extraMeta = Map("commit_ts" -> "200"))
    VersionedTable.append(spark, rows(20, 30), root, spec,
      extraMeta = Map("commit_ts" -> "300"))
    // at ts=250 the table was v2 → the stream carries v2→head only
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, String)]
    val batches = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = spark.readStream.format("graft.sources.FeedStreamProvider")
      .option("root", root).option("startingTimestamp", "250")
      .load()
      .writeStream.option("checkpointLocation", chk)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       id: Long) =>
        val got = b.collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
        synchronized { out ++= got; batches += id }
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(out.map(_._1).toSet == (20L until 30L).toSet,
      s"only commits after the as-of version must stream: ${out.size}")
    // exclusivity refusal
    val bad = scala.util.Try(spark.readStream
      .format("graft.sources.FeedStreamProvider")
      .option("root", root).option("startingTimestamp", "250")
      .option("startingVersion", "v00001").load())
    assert(bad.isFailure &&
      bad.failed.get.getMessage.contains("exclusive"))
    Seq(root, chk).foreach(p =>
      graft.operators.Checkpoints.deleteTree(java.nio.file.Paths.get(p)))
  }

  test("maxBytesPerTrigger packs versions to the byte budget; a single over-budget commit still admits") {
    val root = tempDir("graft-fs-by").toString
    val v1 = VersionedTable.create(spark, rows(0, 50), root, spec)
    VersionedTable.append(spark, rows(50, 60), root, spec)  // v2
    VersionedTable.append(spark, rows(60, 70), root, spec)  // v3
    VersionedTable.append(spark, rows(70, 120), root, spec) // v4
    def drainBudget(budget: Long): Seq[Long] = {
      val chk = tempDir("graft-fs-byc").toString
      val perBatch = scala.collection.mutable.ArrayBuffer.empty[Long]
      val q = spark.readStream.format("graft.sources.FeedStreamProvider")
        .option("root", root).option("startingVersion", v1)
        .option("maxBytesPerTrigger", budget.toString)
        .load()
        .writeStream.option("checkpointLocation", chk)
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                         _: Long) =>
          val n = b.count()
          synchronized { perBatch += n }
          ()
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      graft.operators.Checkpoints.deleteTree(java.nio.file.Paths.get(chk))
      perBatch.toSeq
    }
    val b2 = VersionedTable.versionAddedBytes(spark, root, "v00002")
    val b3 = VersionedTable.versionAddedBytes(spark, root, "v00003")
    assert(b2 > 0 && b3 > 0)
    // budget = exactly v2+v3's bytes → batch 0 packs both, v4 waits
    val packed = drainBudget(b2 + b3)
    assert(packed == Seq(20L, 50L),
      s"the budget must pack v2+v3 then carry v4 alone: $packed")
    // a 1-byte budget still admits one version per batch (a commit
    // cannot split), degenerating to maxVersionsPerTrigger=1
    val strict = drainBudget(1L)
    assert(strict == Seq(10L, 10L, 50L),
      s"an over-budget commit must still admit, one per batch: $strict")
    graft.operators.Checkpoints.deleteTree(java.nio.file.Paths.get(root))
  }

  test("startingVersion=snapshot: batch 0 is the current content as inserts; a restart never re-emits it") {
    val root = tempDir("graft-fs-sn").toString
    val chk = tempDir("graft-fs-snc").toString
    VersionedTable.create(spark, rows(0, 30), root, spec)
    VersionedTable.append(spark, rows(30, 40), root, spec)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, String)]
    val batches = scala.collection.mutable.ArrayBuffer.empty[Long]
    drain(root, "snapshot", chk, out, batches)
    assert(out.map(_._1).toSet == (0L until 40L).toSet &&
      out.forall(_._3 == "insert"),
      s"the snapshot batch must carry the full current content: ${out.size}")
    assert(batches.size == 1, s"the snapshot is one indivisible batch: $batches")
    // restart: only the NEW commit's window arrives — no re-snapshot
    VersionedTable.append(spark, rows(40, 45), root, spec)
    val out2 = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, String)]
    val b2 = scala.collection.mutable.ArrayBuffer.empty[Long]
    drain(root, "snapshot", chk, out2, b2)
    assert(out2.map(_._1).toSet == (40L until 45L).toSet,
      s"restart must emit only post-snapshot windows: ${out2.size}")
    Seq(root, chk).foreach(p =>
      graft.operators.Checkpoints.deleteTree(java.nio.file.Paths.get(p)))
  }

  test("source schema evolution between drains: the next run picks up the evolved schema from its stream-start inference") {
    import spark.implicits._
    val root = tempDir("graft-fs-ev").toString
    val chk = tempDir("graft-fs-evc").toString
    val v1 = VersionedTable.create(spark, rows(0, 20), root, spec)
    VersionedTable.append(spark, rows(20, 30), root, spec) // v2
    def drainRows(shape: org.apache.spark.sql.Row => Seq[Any]): Seq[Seq[Any]] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
      val q = spark.readStream.format("graft.sources.FeedStreamProvider")
        .option("root", root).option("startingVersion", v1).load()
        .writeStream.option("checkpointLocation", chk)
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                         _: Long) =>
          val got = b.collect().map(shape)
          synchronized { out ++= got.map(_.toSeq) }
          ()
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      out.toSeq
    }
    val first = drainRows(r => Seq(r.getLong(0), r.getString(2)))
    assert(first.map(_.head).toSet == (20L until 30L).toSet)
    // the source evolves: a new column lands with v3; the NEXT drain's
    // stream-start inference carries it (the running-stream schema is
    // pinned at start — the Delta restart-on-evolution posture)
    VersionedTable.append(spark,
      (30L until 40L).map(i => (i, i % 1000, s"x$i")).toDF("k", "n", "x"),
      root, spec, allowEvolution = true)
    // evolved feed schema: (k, n, x, change_type)
    val second = drainRows(r => Seq(r.getLong(0), r.getString(2), r.getString(3)))
    assert(second.map(_.head).toSet == (30L until 40L).toSet,
      s"only the evolved window streams: $second")
    assert(second.forall(s => s(1) == s"x${s.head}" && s(2) == "insert"),
      s"the evolved column's values must ride the feed: ${second.take(3)}")
    Seq(root, chk).foreach(p =>
      graft.operators.Checkpoints.deleteTree(java.nio.file.Paths.get(p)))
  }

  test("gold IVM fold: a fully-drained group tombstones out of the aggregate table") {
    import spark.implicits._
    // a tiny gold table folded by the streaming_gold_agg shape, with a
    // group whose rows ALL delete — the n_docs -> 0 path the gate's
    // fixture can't force: the group must vanish from gold's head
    val gSpec = VersionedTable.Spec(Seq("n_docs"), "lang", 1 << 13)
    val gold = tempDir("graft-gold-dr").toString
    VersionedTable.create(spark,
      Seq(("fi", 2L, 30L), ("sv", 1L, 7L)).toDF("lang", "n_docs", "sum_chars"),
      gold, gSpec, extraMeta = Map("applied_upto" -> "v0"))
    // feed window: both 'sv' rows... 'sv' has 1 doc; delete it, and
    // add one 'fi' doc — 'sv' drains to zero, 'fi' updates
    val batch = Seq(("sv", 7L, "delete"), ("fi", 5L, "insert"))
      .toDF("lang", "n_chars", "change_type")
    def aggOf(df: DataFrame) = df.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
    val delta = aggOf(batch.filter(col("change_type") === "insert"))
      .select(col("lang"), col("n_docs").as("ins_n"), col("sum_chars").as("ins_c"))
      .join(aggOf(batch.filter(col("change_type") === "delete"))
        .select(col("lang"), col("n_docs").as("del_n"), col("sum_chars").as("del_c")),
        Seq("lang"), "full_outer")
    val folded = VersionedTable.read(spark, gold)
      .join(delta, Seq("lang"), "right_outer")
      .select(col("lang"),
        (coalesce(col("n_docs"), lit(0L)) + coalesce(col("ins_n"), lit(0L))
          - coalesce(col("del_n"), lit(0L))).as("n_docs"),
        (coalesce(col("sum_chars"), lit(0L)) + coalesce(col("ins_c"), lit(0L))
          - coalesce(col("del_c"), lit(0L))).as("sum_chars"))
    val changes = folded.filter(col("n_docs") > 0)
      .withColumn("change_type", lit("insert"))
      .unionByName(folded.filter(col("n_docs") <= 0)
        .withColumn("change_type", lit("delete")))
    assert(VersionedTable.applyChanges(spark, gold, gSpec, changes, "v1").isDefined)
    val head = VersionedTable.read(spark, gold).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(head == Set(("fi", 3L, 35L)),
      s"'sv' must tombstone out and 'fi' must fold: $head")
    // replay: the same window no-ops by watermark BEFORE the (now
    // stale-state) fold could land
    assert(VersionedTable.applyChanges(spark, gold, gSpec, changes, "v1").isEmpty,
      "a redelivered window must no-op")
    assert(VersionedTable.read(spark, gold).count() == 1L)
  }
}
