package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.jdk.CollectionConverters._

import graft.operators.{ForwardingTableStore, LocalTableStore, TableStore, VersionedTable}
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}

/** Control-plane budget of the `VersionedTable` verbs, counted through
  * the `TableStore` seam and a Spark job listener:
  *
  *  - every verb reads the table's head — the `_CURRENT` pointer and the
  *    head version's `_META` — ONCE and hands that snapshot to its
  *    helpers. A commit verb may read the pointer twice (its snapshot,
  *    plus the publish lock's read of the head the commit lands on) and
  *    a read once; no version's `_META` is read more than twice, and a
  *    commit reads the `_NEXT` allocation watermark once;
  *  - schemas and manifest entry lists are read on the driver, so no
  *    Spark job is a schema inference or a manifest collect, and each
  *    verb stays within its job budget (the `jobs` column).
  *
  * Each store call is an object-store request at scale and each job a
  * scheduling round trip, so these counts are the regression gate, not
  * wall time.
  */
class StoreCallBudgetSpec extends SparkSpec {

  private val spec = VersionedTable.Spec(Seq("n"), "id", 1 << 10)

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-budget").toString + "/t"

  private def rows(ids: Range, n: Long => Long = _ % 10): DataFrame = {
    import spark.implicits._
    ids.map(i => (i.toLong, n(i.toLong))).toDF("id", "n")
  }

  /** A 200-row table over four files. */
  private def table(): String = {
    val root = tmp()
    VersionedTable.create(spark, rows(0 until 200), root, spec,
      layout = _.repartition(4))
    root
  }

  private def head(root: String): Long =
    VersionedTable.headVersion(root).get.drop(1).toLong

  /** Pointer, `_NEXT` and per-path `_META` reads under `root`. */
  private final class Reads(root: String)
      extends ForwardingTableStore(LocalTableStore) {
    val pointer = new AtomicLong
    val next = new AtomicLong
    val meta = new ConcurrentHashMap[String, AtomicLong]()
    override def readString(p: String): String = {
      if (p.startsWith(root)) {
        if (p.endsWith("/_CURRENT")) pointer.incrementAndGet()
        else if (p.endsWith("/_NEXT")) next.incrementAndGet()
        else if (p.endsWith("/_META"))
          meta.computeIfAbsent(p, _ => new AtomicLong).incrementAndGet()
      }
      super.readString(p)
    }
    def metaMax: Long =
      meta.values.asScala.map(_.get).maxOption.getOrElse(0L)
  }

  /** The call site of every Spark job `action` starts, in Spark's long
    * form: the outermost Spark frame the job came from, then the
    * caller's frames, innermost first.
    */
  private def jobSites(action: => Any): Seq[String] = {
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        sites.add(j.stageInfos.sortBy(_.stageId).lastOption.fold("")(_.details))
        ()
      }
    }
    ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      action
      ListenerBusDrain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(l)
    sites.asScala.toSeq
  }

  /** A job that only answers a metadata question: a schema inference
    * (started inside a `DataFrameReader` call — a read with a given
    * schema starts none) or a manifest collect of the table's control
    * plane, named by its frame.
    */
  private def controlPlane(site: String): Boolean =
    site.linesIterator.nextOption().exists(_.contains("DataFrameReader")) ||
      Seq("SchemaCache", "versionEntriesOf", "auditFilesExist",
        "VersionedTable$.vacuum").exists(site.contains)

  /** The innermost engine frame of a call site (for failure messages). */
  private def engineFrame(site: String): String =
    site.linesIterator.find(_.startsWith("graft.")).getOrElse(site.linesIterator.nextOption().getOrElse(""))

  private case class Row(name: String, commits: Boolean, jobs: Int,
                         setup: String => Unit, action: String => Any)

  private val budget = Seq(
    Row("append", commits = true, 3, _ => (),
      r => VersionedTable.append(spark, rows(200 until 210), r, spec)),
    Row("merge", commits = true, 25, _ => (),
      r => VersionedTable.merge(spark, r, spec, rows(195 until 205, _ => 7L),
        matchedUpdate = Map("n" -> col("src_n")))),
    Row("upsertDV", commits = true, 15, _ => (),
      r => VersionedTable.upsertDV(spark, r, spec, rows(10 until 15, _ => 3L))),
    Row("deleteRoster", commits = true, 16, _ => (),
      r => VersionedTable.deleteRoster(spark, r, spec, rows(3 until 8))),
    Row("deleteRosterDV", commits = true, 13, _ => (),
      r => VersionedTable.deleteRosterDV(spark, r, spec, rows(3 until 8))),
    Row("updateWhere", commits = true, 6, _ => (),
      r => VersionedTable.updateWhere(spark, r, spec, col("id") < 5,
        Map("n" -> lit(99L)))),
    Row("optimizeCompact", commits = true, 4, _ => (),
      r => VersionedTable.optimizeCompact(spark, r, spec, targetBytes = 1L << 30)),
    Row("compactDeletes", commits = true, 5,
      r => VersionedTable.deleteRosterDV(spark, r, spec, rows(3 until 8)),
      r => VersionedTable.compactDeletes(spark, r, spec)),
    Row("read", commits = false, 2, _ => (),
      r => VersionedTable.read(spark, r).count()),
    // the version the append wrote: no earlier call has read it
    Row("readVersion", commits = false, 2,
      r => VersionedTable.append(spark, rows(200 until 210), r, spec),
      r => VersionedTable.readVersion(spark, r, "v00002").count()),
    Row("changeFeed", commits = false, 2,
      r => VersionedTable.append(spark, rows(200 until 210), r, spec),
      r => VersionedTable.changeFeed(spark, r, "v00001", "v00002").count())
  )

  budget.foreach { row =>
    test(s"${row.name} reads the head once: _CURRENT <= ${if (row.commits) 2 else 1}, " +
      "each _META <= 2") {
      val root = table()
      row.setup(root)
      val before = head(root)
      val reads = new Reads(root)
      TableStore.set(reads)
      try row.action(root) finally TableStore.set(LocalTableStore)
      assert(head(root) == before + (if (row.commits) 1 else 0),
        s"${row.name} must ${if (row.commits) "commit once" else "not commit"}")
      val pointerBudget = if (row.commits) 2L else 1L
      assert(reads.pointer.get <= pointerBudget,
        s"${row.name} read _CURRENT ${reads.pointer.get} times (budget $pointerBudget)")
      assert(reads.metaMax <= 2L,
        s"${row.name} re-read a version's _META: ${reads.meta}")
    }
  }

  budget.foreach { row =>
    test(s"${row.name} runs at most ${row.jobs} Spark jobs, none a schema inference " +
      s"or a manifest collect${if (row.commits) "; _NEXT is read once" else ""}") {
      val root = table()
      row.setup(root)
      val reads = new Reads(root)
      TableStore.set(reads)
      val sites =
        try jobSites(row.action(root)) finally TableStore.set(LocalTableStore)
      def listed = sites.map(engineFrame).mkString("\n  ")
      assert(!sites.exists(controlPlane),
        s"${row.name} started control-plane job(s):\n  " +
          sites.filter(controlPlane).map(_.linesIterator.take(4).mkString(" <- ")).mkString("\n  "))
      assert(sites.size <= row.jobs,
        s"${row.name} ran ${sites.size} jobs (budget ${row.jobs}):\n  $listed")
      if (row.commits)
        assert(reads.next.get == 1L, s"${row.name} read _NEXT ${reads.next.get} times")
    }
  }

  test("a property committed while an append runs is inherited by the append's version") {
    val root = table()
    // the append's first _META read (its head snapshot) lets a second
    // writer commit a CHECK constraint before the append publishes: the
    // append's snapshot is then stale, and the constraint must still
    // reach its version through the publish lock's read of the head
    val fired = new AtomicBoolean(false)
    @volatile var raced: Option[Throwable] = None
    val racing = new ForwardingTableStore(LocalTableStore) {
      override def readString(p: String): String = {
        val out = super.readString(p)
        if (p.startsWith(root) && p.endsWith("/_META") &&
            fired.compareAndSet(false, true)) {
          val t = new Thread(() =>
            try VersionedTable.setConstraint(spark, root, "id_nonneg", "id >= 0")
            catch { case e: Throwable => raced = Some(e) })
          t.start()
          t.join()
        }
        out
      }
    }
    TableStore.set(racing)
    val v =
      try VersionedTable.append(spark, rows(200 until 210), root, spec)
      finally TableStore.set(LocalTableStore)
    raced.foreach(e => throw e)
    assert(fired.get, "the append never read _META")
    assert(v == "v00003", s"the constraint commit lands first (v00002), got $v")
    assert(VersionedTable.versionMeta(root, "v00002")
      .get("constraint:id_nonneg").contains("id >= 0"))
    assert(VersionedTable.versionMeta(root, v)
      .get("constraint:id_nonneg").contains("id >= 0"),
      "the append dropped a property committed under it")
    assert(VersionedTable.constraints(root) == Map("id_nonneg" -> "id >= 0"))
    assert(VersionedTable.read(spark, root).count() == 210L)
  }
}
