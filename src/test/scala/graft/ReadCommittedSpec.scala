package graft

import graft.operators.{ForwardingTableStore, LocalTableStore, TableStore}
import graft.streaming.StreamingStage

/** `readCommitted` resolves the newest committed batch by probing batch
  * directories newest first: a read costs one listing plus one marker
  * probe per torn newer directory, not one probe per batch ever written.
  */
class ReadCommittedSpec extends SparkSpec {
  import spark.implicits._

  test("readCommitted probes from the newest batch down and stops at the first committed one") {
    val base = tempDir("graft-rc-probe").toString
    val root = s"$base/out"
    (0L until 5L).foreach(id =>
      assert(StreamingStage.commitBatch(Seq(id).toDF("v"), root, id)))
    // a torn newest attempt: data landed, the marker swap never did
    Seq(99L).toDF("v").write.parquet(s"$root/batch-00005")
    val probes = new java.util.concurrent.atomic.AtomicLong(0)
    TableStore.set(new ForwardingTableStore(LocalTableStore) {
      override def exists(path: String): Boolean = {
        probes.incrementAndGet(); super.exists(path)
      }
    })
    val got =
      try StreamingStage.readCommitted(spark, root).as[Long].collect().toSeq
      finally TableStore.set(LocalTableStore)
    assert(got == Seq(4L), "the torn batch must stay unreachable")
    assert(probes.get() <= 2L, s"one marker probe per batch dir is a per-read listing cost: ${probes.get()}")
    LocalTableStore.deleteTree(base)
  }
}
