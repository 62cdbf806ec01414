package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{FeedConsumer, Publish, VersionedTable}

/** Consumer-loop claims the `layout_feed_consumer` hash gate can't
  * see: bounded catch-up under maxVersionsPerWake (the
  * maxFilesPerTrigger analog), offset monotonicity across paginated
  * wakes, and exact convergence to the head.
  */
class FeedConsumerSpec extends SparkSpec {

  private val spec = VersionedTable.Spec(Seq("k"), "k", 1 << 13)

  test("paginated catch-up: a backlog folds in bounded bites, converging exactly") {
    import spark.implicits._
    val tableRoot = tempDir("graft-fc-t").toString
    val derivedRoot = tempDir("graft-fc-d").toString
    val layout = (df: DataFrame) =>
      df.repartitionByRange(2, col("k")).sortWithinPartitions("k")
    def count(df: DataFrame): DataFrame = df.agg(sum(col("k")).as("sum_k"))
    def foldSum(state: DataFrame, feed: DataFrame): DataFrame = {
      val ins = feed.filter(col("change_type") === "insert")
        .agg(coalesce(sum(col("k")), lit(0L)).as("d"))
      val del = feed.filter(col("change_type") === "delete")
        .agg(coalesce(sum(col("k")), lit(0L)).as("d"))
      state.crossJoin(ins.select(col("d").as("__i")))
        .crossJoin(del.select(col("d").as("__d")))
        .select((col("sum_k") + col("__i") - col("__d")).as("sum_k"))
    }
    def wake(max: Int) = FeedConsumer.advance(
      spark, tableRoot, derivedRoot, count, foldSum, maxVersionsPerWake = max)
    VersionedTable.create(spark,
      (0L until 100L).map(i => (i, s"v$i")).toDF("k", "v"), tableRoot, spec, layout)
    assert(wake(1)._2 == "bootstrap")
    // backlog: three data commits while the consumer sleeps
    VersionedTable.append(spark,
      (100L until 200L).map(i => (i, s"v$i")).toDF("k", "v"), tableRoot, spec, layout)
    VersionedTable.deleteRosterDV(spark, tableRoot, spec,
      (0L until 200L by 5L).toDF("k"))
    VersionedTable.append(spark,
      (200L until 300L).map(i => (i, s"v$i")).toDF("k", "v"), tableRoot, spec, layout)
    // bounded bites: each wake consumes ONE version of the backlog
    val (d1, a1) = wake(1)
    assert(a1 == "fold")
    assert(Publish.readMeta(derivedRoot, d1)("consumed_upto") == "v00002")
    val (d2, a2) = wake(1)
    assert(a2 == "fold")
    assert(Publish.readMeta(derivedRoot, d2)("consumed_upto") == "v00003")
    val (d3, a3) = wake(1)
    assert(a3 == "fold")
    val (d4, a4) = wake(1)
    assert(a4 == "noop" && d4 == d3, "a caught-up paginated wake must no-op")
    // exact convergence: folded sum == head sum
    val expect = VersionedTable.read(spark, tableRoot)
      .agg(sum(col("k"))).head.getLong(0)
    assert(Publish.read(spark, derivedRoot).head.getLong(0) == expect)
  }

  private def sumState(df: DataFrame): DataFrame =
    df.agg(sum(col("k")).as("sum_k"))

  private def foldSum(state: DataFrame, feed: DataFrame): DataFrame = {
    val ins = feed.filter(col("change_type") === "insert")
      .agg(coalesce(sum(col("k")), lit(0L)).as("d"))
    val del = feed.filter(col("change_type") === "delete")
      .agg(coalesce(sum(col("k")), lit(0L)).as("d"))
    state.crossJoin(ins.select(col("d").as("__i")))
      .crossJoin(del.select(col("d").as("__d")))
      .select((col("sum_k") + col("__i") - col("__d")).as("sum_k"))
  }

  test("consumer crosses an UPDATE commit (writer-side CDC) and skips property-only windows") {
    import spark.implicits._
    val tableRoot = tempDir("graft-fc-u-t").toString
    val derivedRoot = tempDir("graft-fc-u-d").toString
    def wake() = FeedConsumer.advance(
      spark, tableRoot, derivedRoot, sumState, foldSum)
    VersionedTable.create(spark,
      (0L until 100L).map(i => (i, s"v$i")).toDF("k", "v"), tableRoot, spec)
    assert(wake()._2 == "bootstrap")
    // the nightly UPDATE that used to fence off every consumer: SET
    // k := k + 1000 on a band — the feed carries delete pre-images +
    // insert post-images, so the sum fold sees the net movement
    VersionedTable.updateWhere(spark, tableRoot, spec,
      col("k") < 10, Map("k" -> (col("k") + lit(1000L))))
    val (_, a2) = wake()
    assert(a2 == "fold", s"the consumer must fold across an UPDATE, got $a2")
    val expect = VersionedTable.read(spark, tableRoot)
      .agg(sum(col("k"))).head.getLong(0)
    assert(Publish.read(spark, derivedRoot).head.getLong(0) == expect,
      "fold across the UPDATE must equal the head sum")
    // a property-only window must ADVANCE the offset, not crash
    // (ADVICE r11: require(tagged.nonEmpty) used to throw here)
    VersionedTable.setConstraint(spark, tableRoot, "k_pos", "k >= 0")
    val (d3, a3) = wake()
    assert(a3 == "skip", s"property-only window must skip-advance, got $a3")
    assert(Publish.readMeta(derivedRoot, d3)("consumed_upto") ==
      VersionedTable.headVersion(tableRoot).get)
    assert(Publish.read(spark, derivedRoot).head.getLong(0) == expect,
      "a skip must republish the state unchanged")
    assert(wake()._2 == "noop", "after the skip the consumer is caught up")
  }

  test("caller-provided layout: a bucketed derived artifact keeps its file count through folds") {
    import spark.implicits._
    val tableRoot = tempDir("graft-fc-l-t").toString
    val derivedRoot = tempDir("graft-fc-l-d").toString
    // index-sized derived state: the live rows themselves, bucketed by
    // key range — the artifact a query path would probe per-bucket
    def ident(df: DataFrame): DataFrame = df.select("k", "v")
    def foldRows(state: DataFrame, feed: DataFrame): DataFrame =
      state.join(feed.filter(col("change_type") === "delete").select(col("k").as("__dk")),
          col("k") === col("__dk"), "left_anti")
        .unionByName(feed.filter(col("change_type") === "insert").select("k", "v"))
    val bucketed = (df: DataFrame) =>
      df.repartitionByRange(4, col("k")).sortWithinPartitions("k")
    def wake() = FeedConsumer.advance(
      spark, tableRoot, derivedRoot, ident, foldRows, layout = bucketed)
    def derivedParts(v: String): Long = {
      val d = java.nio.file.Paths.get(derivedRoot).resolve(v)
      val st = java.nio.file.Files.list(d)
      try {
        import scala.jdk.CollectionConverters._
        st.iterator().asScala.count(_.toString.endsWith(".parquet")).toLong
      } finally st.close()
    }
    VersionedTable.create(spark,
      (0L until 400L).map(i => (i, s"v$i")).toDF("k", "v"), tableRoot, spec)
    val (b, _) = wake()
    assert(derivedParts(b) == 4L,
      s"bootstrap must land under the caller's bucketing, got ${derivedParts(b)}")
    VersionedTable.append(spark,
      (400L until 600L).map(i => (i, s"v$i")).toDF("k", "v"), tableRoot, spec)
    val (f, a) = wake()
    assert(a == "fold")
    assert(derivedParts(f) == 4L,
      s"a fold must retain the bucketing — coalesce(1) would funnel " +
        s"the index through one task, got ${derivedParts(f)}")
    assert(Publish.read(spark, derivedRoot).count() == 600L)
  }

  test("consumer racing OCC writers: no lost windows, no double-applies") {
    import spark.implicits._
    val tableRoot = tempDir("graft-fc-o-t").toString
    val derivedRoot = tempDir("graft-fc-o-d").toString
    def wake() = FeedConsumer.advance(
      spark, tableRoot, derivedRoot, sumState, foldSum)
    VersionedTable.create(spark,
      (0L until 100L).map(i => (i, s"v$i")).toDF("k", "v"), tableRoot, spec)
    assert(wake()._2 == "bootstrap")
    // the production collision: a consumer wakes INSIDE an OCC
    // writer's commit window (after its head capture, before its
    // pointer swap). The in-flight batch is invisible to the feed —
    // the consumer folds what is PUBLISHED and stamps that offset;
    // the writer's commit lands after and is picked up next wake.
    val actions = scala.collection.mutable.ArrayBuffer.empty[String]
    val raced = new java.util.concurrent.atomic.AtomicBoolean(false)
    val (_, attempts) = VersionedTable.appendOcc(spark,
      (100L until 200L).map(i => (i, s"v$i")).toDF("k", "v"), tableRoot, spec,
      beforeCommit = () =>
        if (raced.compareAndSet(false, true)) {
          // a competing writer lands first AND the consumer wakes
          VersionedTable.append(spark,
            (200L until 300L).map(i => (i, s"v$i")).toDF("k", "v"), tableRoot, spec)
          actions += wake()._2
          ()
        })
    assert(attempts == 2, s"the interleaved append must force one rebase, got $attempts")
    assert(actions.toSeq == Seq("fold"),
      s"the mid-commit wake must fold the published window, got $actions")
    // the OCC commit that landed AFTER the consumer's fold: one more
    // wake catches up; its window starts exactly where the last fold
    // stamped (no version skipped over the tombstoned attempt)
    val (d2, a2) = wake()
    assert(a2 == "fold", s"the post-commit wake must fold the OCC batch, got $a2")
    assert(Publish.readMeta(derivedRoot, d2)("consumed_upto") ==
      VersionedTable.headVersion(tableRoot).get)
    val expect = VersionedTable.read(spark, tableRoot)
      .agg(sum(col("k"))).head.getLong(0)
    assert(Publish.read(spark, derivedRoot).head.getLong(0) == expect,
      "every window applied exactly once across the race")
    assert(wake()._2 == "noop")
  }
}
