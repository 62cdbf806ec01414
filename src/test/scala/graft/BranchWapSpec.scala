package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Publish, VersionedTable}

/** Branch + fast-forward: the claims the `layout_branch_wap` hash
  * gate can't state — the refusal edges (not-a-branch, moved main,
  * wrong main), property carriage through the fast-forward, time
  * travel across it, and the change feed folding the branch's net
  * edits as one window.
  */
class BranchWapSpec extends SparkSpec {

  private val spec = VersionedTable.Spec(Seq("k"), "k", 1 << 13)

  private def rows(lo: Long, hi: Long): DataFrame = {
    import spark.implicits._
    (lo until hi).map(i => (i, s"v$i")).toDF("k", "v")
  }

  private def tmp(p: String): String =
    tempDir(p).toString

  test("fast-forward publishes the branch head; time travel to the base survives") {
    val main = tmp("graft-wap-m")
    val br = tmp("graft-wap-b")
    VersionedTable.create(spark, rows(0, 100), main, spec)
    val vBase = VersionedTable.headVersion(main).get
    VersionedTable.shallowClone(spark, main, br)
    VersionedTable.append(spark, rows(100, 150), br, spec)
    VersionedTable.deleteRosterDV(spark, br,
      spec, rows(0, 10).select(col("k")))
    assert(VersionedTable.headVersion(main).contains(vBase),
      "branch writes must not touch main")
    VersionedTable.fastForward(spark, main, br)
    assert(VersionedTable.read(spark, main).count() == 140L)
    assert(VersionedTable.readVersion(spark, main, vBase).count() == 100L,
      "the base version must still read its pre-branch content")
    assert(VersionedTable.headMeta(main, "verb").contains("fast-forward"))
  }

  test("refusals: a non-branch root; a branch cut from another table; a moved main") {
    val main = tmp("graft-wap-rf")
    VersionedTable.create(spark, rows(0, 50), main, spec)
    // not a branch: an independently-created table
    val alien = tmp("graft-wap-al")
    VersionedTable.create(spark, rows(0, 10), alien, spec)
    val e1 = intercept[IllegalArgumentException] {
      VersionedTable.fastForward(spark, main, alien)
    }
    assert(e1.getMessage.contains("not a branch"))
    // cut from another table: a clone of `alien` can't land on `main`
    val wrong = tmp("graft-wap-wr")
    VersionedTable.shallowClone(spark, alien, wrong)
    val e2 = intercept[IllegalArgumentException] {
      VersionedTable.fastForward(spark, main, wrong)
    }
    assert(e2.getMessage.contains("cut from"))
    // moved main: a commit after the branch point forces a re-derive
    val br = tmp("graft-wap-mv")
    VersionedTable.shallowClone(spark, main, br)
    VersionedTable.append(spark, rows(50, 60), br, spec)
    VersionedTable.append(spark, rows(900, 910), main, spec)
    val e3 = intercept[Publish.PublishConflict] {
      VersionedTable.fastForward(spark, main, br)
    }
    assert(e3.expectedHead.isDefined && e3.foundHead != e3.expectedHead)
  }

  test("branch-evolved properties carry: a constraint set on the branch binds main after FF") {
    val main = tmp("graft-wap-ct")
    VersionedTable.create(spark, rows(0, 50), main, spec)
    val br = tmp("graft-wap-ctb")
    VersionedTable.shallowClone(spark, main, br)
    VersionedTable.setConstraint(spark, br, "k_bound", "k < 1000")
    VersionedTable.append(spark, rows(50, 80), br, spec)
    VersionedTable.fastForward(spark, main, br)
    val e = intercept[IllegalArgumentException] {
      VersionedTable.append(spark, rows(5000, 5010), main, spec)
    }
    assert(e.getMessage.contains("k_bound"),
      "the branch's CHECK constraint must bind main's writers after FF")
  }

  test("the change feed folds the fast-forward as one net window") {
    val main = tmp("graft-wap-cf")
    VersionedTable.create(spark, rows(0, 100), main, spec)
    val vBase = VersionedTable.headVersion(main).get
    val br = tmp("graft-wap-cfb")
    VersionedTable.shallowClone(spark, main, br)
    VersionedTable.append(spark, rows(100, 120), br, spec)
    VersionedTable.deleteRosterDV(spark, br, spec, rows(0, 5).select(col("k")))
    VersionedTable.fastForward(spark, main, br)
    val head = VersionedTable.headVersion(main).get
    val feed = VersionedTable.changeFeed(spark, main, vBase, head)
    // fold the window onto the base read: the result must equal head
    val base = VersionedTable.readVersion(spark, main, vBase)
    val inserts = feed.filter(col("change_type") === "insert")
      .select(col("k"), col("v"))
    val deletes = feed.filter(col("change_type") === "delete")
      .select(col("k").as("dk"))
    val folded = base.join(deletes, col("k") === col("dk"), "left_anti")
      .unionByName(inserts)
    val want = VersionedTable.read(spark, main)
    assert(folded.count() == want.count())
    assert(folded.exceptAll(want).isEmpty && want.exceptAll(folded).isEmpty,
      "base + feed window must reproduce the fast-forwarded head")
  }
}
