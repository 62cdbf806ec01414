package graft

import java.nio.file.{Files, Paths}

import graft.operators.{Checkpoints, ForwardingTableStore, LocalTableStore, Par, Scratch, TableStore}

/** The keyed fixture allocator: a key's next allocation retires exactly
  * that key's previous generation (tables before directories), keys are
  * independent, concurrent allocations neither lose nor double-delete a
  * generation, and the checkpoint sweep never sees fixture directories.
  */
class ScratchSpec extends SparkSpec {
  import spark.implicits._

  private def exists(p: String): Boolean = Files.exists(Paths.get(p))

  /** Run `body` with every `deleteTree` path recorded (in call order). */
  private def recordingDeletes[A](onDelete: String => Unit = _ => ())(body: => A)
      : (A, Seq[String]) = {
    val deleted = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    TableStore.set(new ForwardingTableStore(LocalTableStore) {
      override def deleteTree(path: String): Unit = {
        onDelete(path); deleted.add(path); super.deleteTree(path)
      }
    })
    val a = try body finally TableStore.set(LocalTableStore)
    import scala.jdk.CollectionConverters._
    (a, deleted.asScala.toSeq)
  }

  private def tableIn(key: String, dir: String): String = {
    val t = Scratch.table(spark, key)
    Seq(1L, 2L).toDF("v").write.option("path", s"$dir/t").saveAsTable(t)
    t
  }

  test("re-allocating a key retires only its previous dir and tables, tables first") {
    val a1 = Scratch.dir("graft_scratchspec_a")
    val ta = tableIn("graft_scratchspec_a", a1)
    val b1 = Scratch.dir("graft_scratchspec_b")
    val tb = tableIn("graft_scratchspec_b", b1)
    assert(a1.startsWith(Checkpoints.root.toString))
    assert(Paths.get(a1).getFileName.toString.startsWith("graft_scratchspec_a-"))
    assert(ta.startsWith("graft_scratchspec_a_"))
    var tableLiveAtDelete = Option.empty[Boolean]
    val (a2, deleted) = recordingDeletes(p =>
      if (p == a1) tableLiveAtDelete = Some(spark.catalog.tableExists(ta))) {
      Scratch.dir("graft_scratchspec_a")
    }
    assert(deleted == Seq(a1), s"only key a's previous dir may go: $deleted")
    assert(tableLiveAtDelete.contains(false), "tables drop before their dir is deleted")
    assert(!exists(a1) && !spark.catalog.tableExists(ta))
    assert(exists(a2) && a2 != a1)
    // key b is untouched by key a's turnover
    assert(exists(b1) && spark.catalog.tableExists(tb))
    assert(spark.table(tb).count() == 2L)
    Scratch.dir("graft_scratchspec_b")
    assert(!exists(b1) && !spark.catalog.tableExists(tb))
    assert(exists(a2), "key b's turnover must not touch key a")
  }

  test("a table needs its key's generation") {
    intercept[RuntimeException](Scratch.table(spark, "graft_scratchspec_none"))
  }

  test("concurrent allocations neither lose nor double-delete a generation") {
    val first = Scratch.dir("graft_scratchspec_c")
    val arms = 8
    // one shared key: every allocation displaces exactly one generation
    val (shared, deleted) = recordingDeletes() {
      Par.run(Seq.fill(arms)(() => Scratch.dir("graft_scratchspec_c")))
    }
    val all = first +: shared
    assert(all.distinct.size == arms + 1)
    assert(deleted.sorted == deleted.distinct.sorted, s"a generation was deleted twice: $deleted")
    assert(deleted.size == arms, s"each allocation retires exactly one generation: $deleted")
    assert(all.count(exists) == 1, "exactly the newest generation stays live")
    assert(all.filterNot(exists).toSet == deleted.toSet)
    // distinct keys: each arm's second allocation retires its own first
    val keys = (0 until arms).map(i => s"graft_scratchspec_k$i")
    val (pairs, deleted2) = recordingDeletes() {
      Par.run(keys.map(k => () => (Scratch.dir(k), Scratch.dir(k))))
    }
    assert(deleted2.sorted == pairs.map(_._1).sorted)
    assert(pairs.forall { case (d1, d2) => !exists(d1) && exists(d2) })
  }

  test("the checkpoint sweep and live count never see scratch dirs") {
    val sc = spark.sparkContext
    Checkpoints.ensure(sc)
    val d = Scratch.dir("graft_scratchspec_sweep")
    Files.writeString(Paths.get(d, "payload"), "x")
    Checkpoints.materialize(spark.range(10).toDF("id"))
    assert(Checkpoints.liveCount(sc) >= 1L)
    Checkpoints.sweep(sc)
    assert(Checkpoints.liveCount(sc) == 0L, "scratch dirs must not count as checkpoints")
    assert(Files.readString(Paths.get(d, "payload")) == "x", "sweep must leave scratch dirs alone")
  }
}
