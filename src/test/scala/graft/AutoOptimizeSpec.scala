package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.VersionedTable
import graft.streaming.StreamingStage

/** The ingest-loop maintenance composition: the claim the
  * `streaming_auto_optimize` hash gate states end-to-end, pinned at
  * the verb level — the `batchId` replay watermark INHERITS through
  * maintenance commits (the streaming-sink twin of ADVICE r12's
  * `applied_upto` erasure), and the plan-consult → compact loop is
  * idempotent.
  */
class AutoOptimizeSpec extends SparkSpec {

  private val spec = VersionedTable.Spec(Seq("k"), "k", 1 << 13)

  private def rows(lo: Long, hi: Long): DataFrame = {
    import spark.implicits._
    (lo until hi).map(i => (i, s"v$i")).toDF("k", "v")
  }

  test("batchId watermark inherits through optimize/recluster/constraint commits") {
    val root = tempDir("graft-ao-wm").toString
    assert(StreamingStage.appendVersionedTable(rows(0, 50), root, spec, 0L))
    assert(StreamingStage.appendVersionedTable(rows(50, 100), root, spec, 1L))
    // three maintenance commits between ingest commits — each used to
    // ERASE the head's batchId (it only lived on ingest commits)
    VersionedTable.optimizeCompact(spark, root, spec, targetBytes = 1L << 40)
    VersionedTable.setConstraint(spark, root, "k_pos", "k >= 0")
    VersionedTable.recluster(spark, root, spec, _.repartitionByRange(2, col("k")))
    assert(VersionedTable.headMeta(root, "batchId").contains("1"),
      "the watermark must ride maintenance commits")
    assert(!StreamingStage.appendVersionedTable(rows(50, 100), root, spec, 1L),
      "a redelivered batch must no-op after maintenance")
    assert(!StreamingStage.appendVersionedTable(rows(0, 50), root, spec, 0L),
      "an OLDER redelivered batch must no-op after maintenance")
    assert(StreamingStage.appendVersionedTable(rows(100, 120), root, spec, 2L),
      "the next fresh batch must still commit")
    assert(VersionedTable.read(spark, root).count() == 120L)
  }

  test("the plan-consult -> compact loop is idempotent and content-identical") {
    val root = tempDir("graft-ao-id").toString
    (0 until 5).foreach { i =>
      StreamingStage.appendVersionedTable(
        rows(i * 20L, i * 20L + 20L), root, spec, i.toLong)
    }
    val before = VersionedTable.read(spark, root)
      .agg(count(lit(1)), sum("k")).head()
    val due = VersionedTable.maintenancePlan(spark, root, 1L << 20)
      .filter(col("action") === "optimize-compact").count()
    assert(due >= 4, s"five tiny generations must all plan sub-target: $due")
    VersionedTable.optimizeCompact(spark, root, spec, 1L << 20)
    assert(VersionedTable.maintenancePlan(spark, root, 1L << 20)
      .filter(col("action") === "optimize-compact").count() <= 1L,
      "the re-plan after compaction must be (near-)empty")
    val after = VersionedTable.read(spark, root)
      .agg(count(lit(1)), sum("k")).head()
    assert(before == after, "compaction must be content-identical")
  }
}
