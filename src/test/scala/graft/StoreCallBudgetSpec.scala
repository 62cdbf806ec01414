package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

import graft.operators.{ForwardingTableStore, LocalTableStore, TableStore, VersionedTable}
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions.{col, lit}

/** Control-plane budget of the `VersionedTable` verbs, counted through
  * the `TableStore` seam and a Spark job listener:
  *
  *  - every verb reads the table's head — the `_CURRENT` pointer and the
  *    head version's `_META` — ONCE and hands that snapshot to its
  *    helpers. A commit verb may read the pointer twice (its snapshot,
  *    plus the publish lock's read of the head the commit lands on), an
  *    optimistic-concurrency verb once more (the head it fences on), and
  *    a read once; no version's `_META` is read more than twice, and a
  *    commit reads the `_NEXT` allocation watermark once;
  *  - schemas and manifest entry lists are read on the driver, so no
  *    Spark job is a schema inference or a manifest collect, and each
  *    verb stays within its job budget (the `jobs` column). A change
  *    feed plans its DV delta from the entry lists and a merge learns
  *    its emptiness from its writes, so neither starts a probe job;
  *  - a commit's store calls do not grow with the table's file count:
  *    its audit probes only the files it adds, so a commit makes as
  *    many calls on a 128-file table as on a 4-file one;
  *  - a vacuum lists the manifest root once and takes committed and
  *    claim status from that listing: beyond its deletes it makes a
  *    fixed handful of calls, two per surviving version (its `_META`)
  *    and one listing per generation directory.
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

  /** Every store call under `root`, as (method, path). */
  private final class Calls(root: String)
      extends ForwardingTableStore(LocalTableStore) {
    val seen = new ConcurrentLinkedQueue[(String, String)]()
    private def at[A](op: String, p: String)(call: => A): A = {
      if (p.startsWith(root)) seen.add(op -> p)
      call
    }
    def of(op: String): Seq[String] =
      seen.asScala.toSeq.collect { case (`op`, p) => p }
    /** How often each path ending in `/name` was read. */
    def reads(name: String): Map[String, Int] =
      of("readString").filter(_.endsWith(s"/$name")).groupMapReduce(identity)(_ => 1)(_ + _)
    override def exists(p: String): Boolean = at("exists", p)(super.exists(p))
    override def isDirectory(p: String): Boolean =
      at("isDirectory", p)(super.isDirectory(p))
    override def listNames(p: String): Seq[String] =
      at("listNames", p)(super.listNames(p))
    override def readString(p: String): String =
      at("readString", p)(super.readString(p))
    override def writeString(p: String, c: String): Unit =
      at("writeString", p)(super.writeString(p, c))
    override def createDirectories(p: String): Unit =
      at("createDirectories", p)(super.createDirectories(p))
    override def createMarker(p: String): Unit =
      at("createMarker", p)(super.createMarker(p))
    override def deleteIfExists(p: String): Boolean =
      at("deleteIfExists", p)(super.deleteIfExists(p))
    override def deleteTree(p: String): Unit = at("deleteTree", p)(super.deleteTree(p))
    override def atomicSwap(t: String, d: String): Unit =
      at("atomicSwap", d)(super.atomicSwap(t, d))
    override def createExclusive(p: String): Boolean =
      at("createExclusive", p)(super.createExclusive(p))
    override def swapIfContentIs(t: String, d: String, e: Option[String]): Boolean =
      at("swapIfContentIs", d)(super.swapIfContentIs(t, d, e))
    override def rename(src: String, dst: String): Unit =
      at("rename", src)(super.rename(src, dst))
    override def size(p: String): Long = at("size", p)(super.size(p))
    override def lastModifiedMs(p: String): Long =
      at("lastModifiedMs", p)(super.lastModifiedMs(p))
  }

  /** The call site of every Spark job `action` starts, in Spark's long
    * form: the outermost Spark frame the job came from, then the
    * caller's frames, innermost first. A job of a SQL execution is
    * named by the execution's call site: AQE starts one job per
    * exchange, and those stage jobs carry no frame of the caller.
    */
  private def jobSites(action: => Any): Seq[String] = {
    val sites = new ConcurrentLinkedQueue[String]()
    val executions = new ConcurrentHashMap[Long, String]()
    val l = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart =>
          executions.put(x.executionId, x.details)
          ()
        case _ => ()
      }
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val execution = Option(j.properties)
          .flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
          .flatMap(id => Option(executions.get(id.toLong)))
        sites.add(execution.getOrElse(
          j.stageInfos.sortBy(_.stageId).lastOption.fold("")(_.details)))
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

  /** A job that only answers a question the driver can answer or the
    * next write observes: a schema inference (started inside a
    * `DataFrameReader` call — a read with a given schema starts none), a
    * manifest collect of the table's control plane, a change feed's
    * DV-delta emptiness probe or changed-file collect (the entry lists
    * name those files), or a merge's batch count (its write observes
    * it), named by its frame.
    */
  private def controlPlane(site: String): Boolean = {
    val outer = site.linesIterator.nextOption().getOrElse("")
    outer.contains("DataFrameReader") ||
      Seq("SchemaCache", "versionEntriesOf", "auditFilesExist",
        "VersionedTable$.vacuum", "VersionedTable$.manifestDiff",
        "VersionedTable$.rowsAtPositions").exists(site.contains) ||
      (outer.contains("Dataset.count(") && MergeFrame.findFirstIn(site).isDefined)
  }

  /** A frame of `VersionedTable.merge` or of a closure inside it. */
  private val MergeFrame = """VersionedTable\$\.(\$anonfun\$)?merge""".r

  /** The innermost engine frame of a call site (for failure messages). */
  private def engineFrame(site: String): String =
    site.linesIterator.find(_.startsWith("graft.")).getOrElse(site.linesIterator.nextOption().getOrElse(""))

  /** `pointer` is the `_CURRENT` read budget: a read's snapshot; a
    * commit's snapshot and the publish lock's read; and for an
    * optimistic-concurrency verb also the head read it fences on.
    */
  private case class Row(name: String, commits: Boolean, pointer: Int, jobs: Int,
                         setup: String => Unit, action: String => Any)

  private val budget = Seq(
    Row("append", commits = true, pointer = 2, 3, _ => (),
      r => VersionedTable.append(spark, rows(200 until 210), r, spec)),
    Row("merge", commits = true, pointer = 2, 19, _ => (),
      r => VersionedTable.merge(spark, r, spec, rows(195 until 205, _ => 7L),
        matchedUpdate = Map("n" -> col("src_n")))),
    Row("upsertDV", commits = true, pointer = 2, 15, _ => (),
      r => VersionedTable.upsertDV(spark, r, spec, rows(10 until 15, _ => 3L))),
    Row("deleteRoster", commits = true, pointer = 2, 16, _ => (),
      r => VersionedTable.deleteRoster(spark, r, spec, rows(3 until 8))),
    Row("deleteRosterDV", commits = true, pointer = 2, 13, _ => (),
      r => VersionedTable.deleteRosterDV(spark, r, spec, rows(3 until 8))),
    Row("updateWhere", commits = true, pointer = 2, 6, _ => (),
      r => VersionedTable.updateWhere(spark, r, spec, col("id") < 5,
        Map("n" -> lit(99L)))),
    Row("optimizeCompact", commits = true, pointer = 2, 4, _ => (),
      r => VersionedTable.optimizeCompact(spark, r, spec, targetBytes = 1L << 30)),
    Row("compactDeletes", commits = true, pointer = 2, 5,
      r => VersionedTable.deleteRosterDV(spark, r, spec, rows(3 until 8)),
      r => VersionedTable.compactDeletes(spark, r, spec)),
    Row("appendOcc", commits = true, pointer = 3, 3, _ => (),
      r => VersionedTable.appendOcc(spark, rows(200 until 210), r, spec, maxAttempts = 1)),
    Row("mergeOcc", commits = true, pointer = 3, 19, _ => (),
      r => VersionedTable.mergeOcc(spark, r, spec, rows(195 until 205, _ => 7L),
        matchedUpdate = Map("n" -> col("src_n")), maxAttempts = 1)),
    Row("read", commits = false, pointer = 1, 2, _ => (),
      r => VersionedTable.read(spark, r).count()),
    // the version the append wrote: no earlier call has read it
    Row("readVersion", commits = false, pointer = 1, 2,
      r => VersionedTable.append(spark, rows(200 until 210), r, spec),
      r => VersionedTable.readVersion(spark, r, "v00002").count()),
    Row("changeFeed", commits = false, pointer = 1, 2,
      r => VersionedTable.append(spark, rows(200 until 210), r, spec),
      r => VersionedTable.changeFeed(spark, r, "v00001", "v00002").count()),
    // the DV delta of one common file, planned from the entry lists
    Row("changeFeed over deleteRosterDV", commits = false, pointer = 1, 3,
      r => VersionedTable.deleteRosterDV(spark, r, spec, rows(3 until 8)),
      r => VersionedTable.changeFeed(spark, r, "v00001", "v00002").count()),
    Row("changeFeed over upsertDV", commits = false, pointer = 1, 3,
      r => VersionedTable.upsertDV(spark, r, spec, rows(10 until 15, _ => 3L)),
      r => VersionedTable.changeFeed(spark, r, "v00001", "v00002").count()),
    Row("vacuum", commits = false, pointer = 1, 0,
      r => VersionedTable.append(spark, rows(200 until 210), r, spec),
      r => VersionedTable.vacuum(spark, r, keepLast = 1))
  )

  budget.foreach { row =>
    test(s"${row.name} reads the head once: _CURRENT <= ${row.pointer}, " +
      "each _META <= 2") {
      val root = table()
      row.setup(root)
      val before = head(root)
      val calls = new Calls(root)
      TableStore.set(calls)
      try row.action(root) finally TableStore.set(LocalTableStore)
      assert(head(root) == before + (if (row.commits) 1 else 0),
        s"${row.name} must ${if (row.commits) "commit once" else "not commit"}")
      val pointer = calls.reads("_CURRENT").values.sum
      assert(pointer <= row.pointer,
        s"${row.name} read _CURRENT $pointer times (budget ${row.pointer})")
      assert(calls.reads("_META").values.forall(_ <= 2),
        s"${row.name} re-read a version's _META: ${calls.reads("_META")}")
    }
  }

  budget.foreach { row =>
    test(s"${row.name} runs at most ${row.jobs} Spark jobs, none a schema inference " +
      s"or a manifest collect${if (row.commits) "; _NEXT is read once" else ""}") {
      val root = table()
      row.setup(root)
      val calls = new Calls(root)
      TableStore.set(calls)
      val sites =
        try jobSites(row.action(root)) finally TableStore.set(LocalTableStore)
      def listed = sites.map(engineFrame).mkString("\n  ")
      assert(!sites.exists(controlPlane),
        s"${row.name} started control-plane job(s):\n  " +
          sites.filter(controlPlane).map(_.linesIterator.take(4).mkString(" <- ")).mkString("\n  "))
      assert(sites.size <= row.jobs,
        s"${row.name} ran ${sites.size} jobs (budget ${row.jobs}):\n  $listed")
      if (row.commits)
        assert(calls.reads("_NEXT").values.sum == 1,
          s"${row.name} read _NEXT ${calls.reads("_NEXT")} times")
    }
  }

  /** A 2,000-row table over `files` live files: ids 0-15 in one file,
    * the rest spread over the others. The changes below touch ids 0-15
    * only, so each is the same change at any file count. The Bloom
    * sidecar is wide enough that no other file probes as a holder.
    */
  private val wide = spec.copy(mBits = 1 << 16)

  private def tableOf(files: Int): String = {
    val root = tmp()
    VersionedTable.create(spark, rows(0 until 16), root, wide, layout = _.coalesce(1))
    VersionedTable.append(spark, rows(16 until 2000), root, wide,
      layout = _.repartition(files - 1))
    assert(graft.operators.Footers.entriesOf(spark,
      s"$root/manifest/${VersionedTable.headVersion(root).get}").length == files)
    root
  }

  private val scaleFree = Seq[(String, String => Any)](
    "append" -> (r => VersionedTable.append(spark, rows(2000 until 2010), r, wide)),
    "merge" -> (r => VersionedTable.merge(spark, r, wide, rows(5 until 15, _ => 7L),
      matchedUpdate = Map("n" -> col("src_n")))),
    "deleteRoster" -> (r => VersionedTable.deleteRoster(spark, r, wide, rows(3 until 8))),
    "upsertDV" -> (r => VersionedTable.upsertDV(spark, r, wide, rows(10 until 15, _ => 3L))))

  scaleFree.foreach { case (name, verb) =>
    test(s"$name makes as many store calls on a 128-file table as on a 4-file one") {
      val calls = Seq(4, 128).map { files =>
        val root = tableOf(files)
        val c = new Calls(root)
        TableStore.set(c)
        try verb(root) finally TableStore.set(LocalTableStore)
        c.seen.asScala.toSeq
      }
      def byOp(cs: Seq[(String, String)]) =
        cs.groupMapReduce(_._1)(_ => 1)(_ + _).toSeq.sorted.mkString(", ")
      assert(calls(0).size == calls(1).size,
        s"$name: ${calls(0).size} store calls at 4 files (${byOp(calls(0))}) but " +
          s"${calls(1).size} at 128 (${byOp(calls(1))})")
    }
  }

  test("vacuum lists the manifest root once: two reads per surviving version, " +
    "one listing per generation, no isDirectory or claim probe") {
    val root = table()
    (0 until 4).foreach(i =>
      VersionedTable.append(spark, rows(210 + 10 * i until 220 + 10 * i), root, spec))
    VersionedTable.deleteRoster(spark, root, spec, rows(3 until 8))
    VersionedTable.optimizeCompact(spark, root, spec, targetBytes = 1L << 30)
    val generations = LocalTableStore.listNames(s"$root/files")
      .count(n => !n.startsWith("dv-") && !n.startsWith("cdc-"))
    val c = new Calls(root)
    TableStore.set(c)
    val (retired, nFiles, _) =
      try VersionedTable.vacuum(spark, root, keepLast = 2)
      finally TableStore.set(LocalTableStore)
    val surviving = VersionedTable.publishedVersions(root)
    assert(retired.size == 5 && surviving == Seq("v00006", "v00007"),
      s"retired $retired, surviving $surviving")
    assert(nFiles > 0, "the compaction left superseded files to reclaim")
    assert(VersionedTable.read(spark, root).count() == 235L)
    assert(c.of("isDirectory").isEmpty, s"isDirectory probes: ${c.of("isDirectory")}")
    assert(!c.of("exists").exists(_.endsWith(".claim")),
      s"claim probes: ${c.of("exists").filter(_.endsWith(".claim"))}")
    assert(c.of("listNames").count(_ == s"$root/manifest") == 1,
      s"manifest listings: ${c.of("listNames")}")
    // the pointer (2), the manifest, tag and data-root listings (3), then
    // each surviving version's `_META` (2) and each generation's listing
    val reads = Seq("exists", "isDirectory", "listNames", "readString")
      .map(c.of(_).size).sum
    val budget = 5 + 2 * surviving.size + generations
    assert(reads <= budget, s"vacuum made $reads reads (budget $budget): " +
      c.seen.asScala.filter(x => Set("exists", "listNames", "readString")(x._1))
        .map { case (op, p) => s"$op ${p.stripPrefix(root)}" }.mkString(", "))
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
