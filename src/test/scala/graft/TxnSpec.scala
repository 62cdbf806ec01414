package graft

import org.apache.spark.sql.functions._
import graft.operators.{Publish, Txn, VersionedTable}

/** Cross-artifact transaction claims the `layout_txn_commit` hash gate
  * can't see: crash invisibility (unpinned participant versions exist
  * on disk but readers stay on the old set), the pinned-version audit
  * veto, OCC conflict at the coordinator, and time travel of the
  * whole set at an old coordinator version.
  */
class TxnSpec extends SparkSpec {

  private val spec = VersionedTable.Spec(Seq("k"), "k", 1 << 13)

  /** (tableRoot, mvRoot, txnRoot, v1, m1, t1): a 400-row table + its
    * count MV pinned as the first consistent set.
    */
  private def fixture(): (String, String, String, String, String, String) = {
    import spark.implicits._
    val tableRoot = tempDir("graft-txn-t").toString
    val mvRoot = tempDir("graft-txn-m").toString
    val txnRoot = tempDir("graft-txn-l").toString
    val layout = (df: org.apache.spark.sql.DataFrame) =>
      df.repartitionByRange(4, col("k")).sortWithinPartitions("k")
    val v1 = VersionedTable.create(spark,
      (0L until 400L).map(i => (i, s"v$i")).toDF("k", "v"), tableRoot, spec, layout)
    val m1 = Publish.publish(
      VersionedTable.readVersion(spark, tableRoot, v1)
        .agg(count(lit(1)).as("n")).coalesce(1), mvRoot)
    val t1 = Txn.commit(spark, txnRoot,
      Map("t" -> (tableRoot, v1), "mv" -> (mvRoot, m1)), None)
    (tableRoot, mvRoot, txnRoot, v1, m1, t1)
  }

  test("crash window: unpinned participant versions are invisible through the coordinator") {
    import spark.implicits._
    val (tableRoot, mvRoot, txnRoot, _, _, _) = fixture()
    val layout = (df: org.apache.spark.sql.DataFrame) =>
      df.repartitionByRange(4, col("k")).sortWithinPartitions("k")
    // both participants publish new versions; the coordinator commit
    // never lands (the crash)
    VersionedTable.append(spark,
      (400L until 500L).map(i => (i, s"v$i")).toDF("k", "v"), tableRoot, spec, layout)
    Publish.publish(spark.range(1).select(lit(500L).as("n")), mvRoot)
    assert(Txn.readTable(spark, txnRoot, "t").count() == 400L)
    assert(Txn.readArtifact(spark, txnRoot, "mv").head.getLong(0) == 400L)
    // the newer versions do exist — invisibility is the coordinator's
    assert(VersionedTable.read(spark, tableRoot).count() == 500L)
    assert(Publish.read(spark, mvRoot).head.getLong(0) == 500L)
  }

  test("commit audit vetoes a pin naming a version that never published") {
    val (tableRoot, mvRoot, txnRoot, v1, _, t1) = fixture()
    val e = intercept[IllegalArgumentException] {
      Txn.commit(spark, txnRoot,
        Map("t" -> (tableRoot, v1), "mv" -> (mvRoot, "v99999")), Some(t1))
    }
    assert(e.getMessage.contains("missing/unfinished"), e.getMessage)
    // the failed attempt must not have moved the pointer
    assert(Txn.head(txnRoot).contains(t1))
  }

  test("OCC: a commit conditioned on a stale coordinator head conflicts; a rebase lands") {
    val (tableRoot, mvRoot, txnRoot, v1, m1, t1) = fixture()
    val t2 = Txn.commit(spark, txnRoot,
      Map("t" -> (tableRoot, v1), "mv" -> (mvRoot, m1)), Some(t1))
    intercept[Publish.PublishConflict] {
      Txn.commit(spark, txnRoot,
        Map("t" -> (tableRoot, v1), "mv" -> (mvRoot, m1)), Some(t1))
    }
    assert(Txn.head(txnRoot).contains(t2))
    // rebase onto the observed head succeeds
    val t3 = Txn.commit(spark, txnRoot,
      Map("t" -> (tableRoot, v1), "mv" -> (mvRoot, m1)), Some(t2))
    assert(Txn.head(txnRoot).contains(t3))
  }

  test("time travel of the whole set: resolve at an old coordinator version") {
    import spark.implicits._
    val (tableRoot, mvRoot, txnRoot, v1, m1, t1) = fixture()
    val layout = (df: org.apache.spark.sql.DataFrame) =>
      df.repartitionByRange(4, col("k")).sortWithinPartitions("k")
    VersionedTable.append(spark,
      (400L until 500L).map(i => (i, s"v$i")).toDF("k", "v"), tableRoot, spec, layout)
    val v2 = VersionedTable.headVersion(tableRoot).get
    val m2 = Publish.publish(spark.range(1).select(lit(500L).as("n")), mvRoot)
    Txn.commit(spark, txnRoot,
      Map("t" -> (tableRoot, v2), "mv" -> (mvRoot, m2)), Some(t1))
    // head reads the new pair; the old coordinator version still
    // resolves the old pair together
    assert(Txn.readTable(spark, txnRoot, "t").count() == 500L)
    assert(Txn.readTable(spark, txnRoot, "t", Some(t1)).count() == 400L)
    assert(Txn.readArtifact(spark, txnRoot, "mv", Some(t1)).head.getLong(0) == 400L)
    assert(Txn.resolve(spark, txnRoot, Some(t1)) ==
      Map("t" -> (tableRoot, v1), "mv" -> (mvRoot, m1)))
  }
}
