package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Publish, VersionedTable}

/** Round-14-session operators: branch REBASE onto a moved main (the
  * safe subset of cherry-pick — VERDICT r13 frontier gap #3) and the
  * MIN/MAX gold fold's recompute path (gap #4). The gates prove the
  * sf-data composition; these pin the edges the fixtures can't force:
  * the extremum-removing delete, the drained group, the refusal
  * surface, and the rebase commit's feed-safety.
  */
class Round18OpsSpec extends SparkSpec {

  private val spec = VersionedTable.Spec(Seq("n"), "k", 1 << 13)

  private def rows(ks: Long*): DataFrame = {
    import spark.implicits._
    ks.map(k => (k, k * 10)).toDF("k", "n")
  }

  private def keysOf(root: String): Set[Long] =
    VersionedTable.read(spark, root).select("k").collect()
      .map(_.getLong(0)).toSet

  test("rebaseBranch: disjoint divergence replays onto the moved main ≡ serial application; the commit is feed-safe") {
    val main = tempDir("graft-rb-m").toString
    val br = tempDir("graft-rb-b").toString + "/b"
    VersionedTable.create(spark, rows(1, 2, 3, 4), main, spec)
    VersionedTable.shallowClone(spark, main, br)
    // branch: insert {5,6}, delete {1}; main: insert {9,10}, delete {2}
    VersionedTable.append(spark, rows(5, 6), br, spec)
    VersionedTable.deleteRosterDV(spark, br, spec, rows(1).select("k"))
    VersionedTable.append(spark, rows(9, 10), main, spec)
    VersionedTable.deleteRosterDV(spark, main, spec, rows(2).select("k"))
    intercept[Publish.PublishConflict] {
      VersionedTable.fastForward(spark, main, br)
    }
    val preRebase = VersionedTable.headVersion(main).get
    val v = VersionedTable.rebaseBranch(spark, main, br, spec)
    assert(keysOf(main) == Set(3L, 4L, 5L, 6L, 9L, 10L),
      s"rebased main must equal the serial application: ${keysOf(main)}")
    assert(VersionedTable.versionMeta(main, v)("verb") == "branch-rebase")
    // feed-safe: the rebase window states exactly the branch's net diff
    val feed = VersionedTable.changeFeed(spark, main, preRebase, v)
      .select("k", "change_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(feed == Set((1L, "delete"), (5L, "insert"), (6L, "insert")),
      s"the rebase commit's feed must be the branch's own diff: $feed")
    // time travel: the pre-rebase head still reads main's own line
    assert(VersionedTable.readVersion(spark, main, preRebase)
      .select("k").collect().map(_.getLong(0)).toSet ==
      Set(1L, 3L, 4L, 9L, 10L))
  }

  test("rebaseBranch: an unmoved main degenerates to fast-forward") {
    val main = tempDir("graft-rb-ff").toString
    val br = tempDir("graft-rb-ffb").toString + "/b"
    VersionedTable.create(spark, rows(1, 2), main, spec)
    VersionedTable.shallowClone(spark, main, br)
    VersionedTable.append(spark, rows(3), br, spec)
    val v = VersionedTable.rebaseBranch(spark, main, br, spec)
    assert(VersionedTable.versionMeta(main, v)("verb") == "fast-forward")
    assert(keysOf(main) == Set(1L, 2L, 3L))
  }

  test("rebaseBranch refusals: overlap, never-committed branch, not-a-branch, diverged schema") {
    val main = tempDir("graft-rb-rf").toString
    VersionedTable.create(spark, rows(1, 2, 3, 4), main, spec)
    // overlap: both sides delete key 3
    val brO = tempDir("graft-rb-o").toString + "/b"
    VersionedTable.shallowClone(spark, main, brO)
    VersionedTable.deleteRosterDV(spark, brO, spec, rows(3).select("k"))
    VersionedTable.deleteRosterDV(spark, main, spec, rows(3).select("k"))
    val e = intercept[IllegalStateException] {
      VersionedTable.rebaseBranch(spark, main, brO, spec)
    }
    assert(e.getMessage.contains("order-dependent") && e.getMessage.contains("3"))
    // never committed: nothing to replay
    val brN = tempDir("graft-rb-n").toString + "/b"
    VersionedTable.shallowClone(spark, main, brN)
    VersionedTable.append(spark, rows(7), main, spec) // move main
    assert(intercept[IllegalArgumentException] {
      VersionedTable.rebaseBranch(spark, main, brN, spec)
    }.getMessage.contains("never committed"))
    // not a branch: a plain table's v1 is not a clone
    val plain = tempDir("graft-rb-p").toString
    VersionedTable.create(spark, rows(8), plain, spec)
    assert(intercept[IllegalArgumentException] {
      VersionedTable.rebaseBranch(spark, main, plain, spec)
    }.getMessage.contains("not a branch"))
    // diverged schema: the branch evolved a column main never saw
    val brS = tempDir("graft-rb-s").toString + "/b"
    VersionedTable.shallowClone(spark, main, brS)
    import spark.implicits._
    VersionedTable.append(spark,
      Seq((11L, 110L, "x")).toDF("k", "n", "extra"), brS, spec,
      allowEvolution = true)
    VersionedTable.append(spark, rows(12), main, spec) // move main again
    assert(intercept[IllegalArgumentException] {
      VersionedTable.rebaseBranch(spark, main, brS, spec)
    }.getMessage.contains("diverged"))
  }

  test("graft-table sink, append mode: one commit per micro-batch, empty redrain no-ops, content complete") {
    import org.apache.spark.sql.streaming.Trigger
    val stage = tempDir("graft-ts-st").toString
    val table = tempDir("graft-ts-t").toString
    val chk = tempDir("graft-ts-c").toString
    def drain(): Unit = {
      val sch = spark.read.parquet(stage).schema
      val q = spark.readStream.schema(sch).parquet(stage)
        .writeStream.format("graft.sources.TableSinkProvider")
        .option("root", table).option("keyCol", "k").option("statCols", "n")
        .option("checkpointLocation", chk)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    rows(1, 2, 3).write.mode("append").parquet(stage)
    drain()
    assert(VersionedTable.headVersion(table).contains("v00001"))
    rows(4, 5).write.mode("append").parquet(stage)
    drain()
    val head = VersionedTable.headVersion(table)
    assert(head.exists(_ >= "v00002"), s"second wave must commit: $head")
    drain() // nothing staged since → no commit
    assert(VersionedTable.headVersion(table) == head,
      "an empty redrain must not commit")
    assert(keysOf(table) == Set(1L, 2L, 3L, 4L, 5L))
    // a maintenance commit between batches must not erase the batchId
    // watermark the sink's exactly-once rides on (the E228 contract)
    VersionedTable.optimizeCompact(spark, table, spec, 1L << 30)
    assert(VersionedTable.headMeta(table, "batchId").isDefined,
      "batchId must inherit through maintenance commits")
    Seq(stage, table, chk).foreach(p =>
      graft.operators.Checkpoints.deleteTree(java.nio.file.Paths.get(p)))
  }

  test("graft-table sink, apply mode: an absent replica bootstraps from the first window's inserts") {
    import org.apache.spark.sql.streaming.Trigger
    val src = tempDir("graft-ta-s").toString
    val replica = tempDir("graft-ta-r").toString + "/t"
    val chk = tempDir("graft-ta-c").toString
    val v1 = VersionedTable.create(spark, rows(1, 2, 3), src, spec)
    VersionedTable.append(spark, rows(10, 11), src, spec)
    VersionedTable.deleteRosterDV(spark, src, spec, rows(1).select("k"))
    val q = spark.readStream.format("graft.sources.FeedStreamProvider")
      .option("root", src).option("startingVersion", v1)
      .option("maxVersionsPerTrigger", "1").load()
      .writeStream.format("graft.sources.TableSinkProvider")
      .option("root", replica).option("keyCol", "k")
      .option("mode", "apply")
      .option("checkpointLocation", chk)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    // from-scratch bootstrap sees only post-v1 windows: the appended
    // keys land, the base-key delete no-ops against the empty replica
    // (bootstrap-from-a-snapshot is the documented posture for a
    // source that predates the stream)
    assert(keysOf(replica) == Set(10L, 11L), s"${keysOf(replica)}")
    Seq(src, chk).foreach(p =>
      graft.operators.Checkpoints.deleteTree(java.nio.file.Paths.get(p)))
    graft.operators.Checkpoints.deleteTree(
      java.nio.file.Paths.get(replica).getParent)
  }

  test("graft-table sink, applySeq mode: a raw out-of-order CDC feed resolves per key before folding") {
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    val stage = tempDir("graft-tq-st").toString
    val table = tempDir("graft-tq-t").toString
    val chk = tempDir("graft-tq-c").toString
    def drain(): Unit = {
      val sch = spark.read.parquet(stage).schema
      val q = spark.readStream.schema(sch).parquet(stage)
        .writeStream.format("graft.sources.TableSinkProvider")
        .option("root", table).option("keyCol", "k")
        .option("mode", "applySeq").option("sequenceBy", "seq")
        .option("checkpointLocation", chk)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    // wave 1 (bootstraps the replica): shuffled ops — k=1 nets to a
    // delete (never lands), k=2's late insert outranks its delete,
    // k=3 plain insert
    Seq((1L, 10L, 2L, "delete"), (2L, 20L, 2L, "insert"), (3L, 30L, 1L, "insert"),
        (1L, 10L, 1L, "insert"), (2L, 99L, 1L, "delete"))
      .toDF("k", "n", "seq", "change_type")
      .write.mode("append").parquet(stage)
    drain()
    def contents(): Map[Long, Long] =
      VersionedTable.read(spark, table).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(contents() == Map(2L -> 20L, 3L -> 30L), s"${contents()}")
    // wave 2: k=3 updates through an out-of-order pair, k=2 drains
    Seq((3L, 31L, 5L, "insert"), (3L, 30L, 4L, "delete"), (2L, 20L, 9L, "delete"))
      .toDF("k", "n", "seq", "change_type")
      .write.mode("append").parquet(stage)
    drain()
    assert(contents() == Map(3L -> 31L), s"${contents()}")
    // the transport-only sequence column never lands in the replica
    assert(!VersionedTable.read(spark, table).columns.contains("seq"))
    Seq(stage, table, chk).foreach(p =>
      graft.operators.Checkpoints.deleteTree(java.nio.file.Paths.get(p)))
  }

  test("graft-table sink, autoOptimize: compaction fires mid-stream and exactly-once survives it") {
    import org.apache.spark.sql.streaming.Trigger
    val stage = tempDir("graft-to-st").toString
    val table = tempDir("graft-to-t").toString
    val chk = tempDir("graft-to-c").toString
    rows(1L to 60L: _*).repartitionByRange(6, org.apache.spark.sql.functions.col("k"))
      .write.mode("overwrite").parquet(stage)
    val sch = spark.read.parquet(stage).schema
    val q = spark.readStream.schema(sch)
      .option("maxFilesPerTrigger", "1").parquet(stage)
      .writeStream.format("graft.sources.TableSinkProvider")
      .option("root", table).option("keyCol", "k").option("statCols", "n")
      .option("autoOptimize", "true")
      .option("autoOptimizeTargetBytes", (1L << 20).toString)
      .option("checkpointLocation", chk)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val verbs = VersionedTable.history(spark, table)
      .select("verb").collect().map(_.getString(0)).toSeq
    assert(verbs.contains("optimize-compact"),
      s"auto-compaction must fire mid-stream: $verbs")
    assert(VersionedTable.manifest(spark, table).count() < 6L,
      "the head must carry fewer files than the batch count")
    assert(keysOf(table) == (1L to 60L).toSet)
    // redelivered batchId no-ops ACROSS the maintenance commits
    val replayed = streaming.StreamingStage.appendVersionedTable(
      rows(999L), table, spec, 0L)
    assert(!replayed, "a stale batchId must no-op after auto-optimize")
    Seq(stage, table, chk).foreach(p =>
      graft.operators.Checkpoints.deleteTree(java.nio.file.Paths.get(p)))
  }

  test("gold MIN/MAX fold: an extremum-removing delete recomputes the runner-up; a drained group tombstones") {
    import spark.implicits._
    val sSpec = VersionedTable.Spec(Seq("n_chars"), "doc_id", 1 << 13)
    val gSpec = VersionedTable.Spec(Seq("n_docs"), "lang", 1 << 13)
    val silver = tempDir("graft-gmm-s").toString
    val gold = tempDir("graft-gmm-g").toString
    // aa: {10, 99} (99 is the max), bb: {5} (drains entirely)
    val v1 = VersionedTable.create(spark,
      Seq((1L, "aa", 10L), (2L, "aa", 99L), (3L, "bb", 5L))
        .toDF("doc_id", "lang", "n_chars"), silver, sSpec)
    VersionedTable.create(spark,
      VersionedTable.read(spark, silver).groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars").cast("long")).as("sum_chars"),
          min(col("n_chars").cast("long")).as("min_chars"),
          max(col("n_chars").cast("long")).as("max_chars")),
      gold, gSpec, extraMeta = Map("applied_upto" -> "v0"))
    VersionedTable.deleteRosterDV(spark, silver, sSpec,
      Seq(2L, 3L).toDF("doc_id"))
    val v2 = VersionedTable.headVersion(silver).get
    val batch = VersionedTable.changeFeed(spark, silver, v1, v2)
    val affected = streaming.StreamingStage.foldGoldMinMax(
      spark, gold, gSpec, silver, batch, v2, "v1")
    assert(affected == 2L, s"both groups are in the window: $affected")
    val head = VersionedTable.read(spark, gold).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    // a sign-fold would have left max_chars = 99 (the retracted
    // extremum); the recompute must surface the runner-up — and 'bb'
    // must vanish, not linger as a zero row
    assert(head == Set(("aa", 1L, 10L, 10L, 10L)),
      s"recomputed extrema + drained tombstone expected: ${head.mkString(", ")}")
    // a redelivered window no-ops before the (stale) fold could land
    val affected2 = streaming.StreamingStage.foldGoldMinMax(
      spark, gold, gSpec, silver, batch, v2, "v1")
    assert(affected2 == 2L && VersionedTable.read(spark, gold).count() == 1L)
  }
}
