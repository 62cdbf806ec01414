package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import graft.operators.{Footers, ForwardingTableStore, LocalTableStore, TableStore, VersionedTable}
import org.apache.spark.sql.DataFrame

/** `VersionedTable.vacuum` against commits in flight. A commit audits
  * only the files it adds to the head it lands on; these specs race a
  * vacuum against a commit at chosen store calls (hooks in a
  * `ForwardingTableStore`, ordered by latches — no sleeps) and check
  * that no published manifest ever names a missing file:
  *
  *  - a vacuum beside an UNDECIDED attempt (its `.claim` outstanding
  *    above the head) completes, leaves the attempt alone and keeps the
  *    files it names;
  *  - a vacuum that lists before a commit writes its manifest and
  *    deletes after makes the commit veto: the added data files and
  *    deletion-vector sidecars through the delta audit, carried-forward
  *    ones through the full audit a commit whose head moved under it
  *    runs.
  */
class VacuumRaceSpec extends SparkSpec {

  private val spec = VersionedTable.Spec(Seq("n"), "id", 1 << 10)

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-vacrace").toString + "/t"

  private def rows(ids: Range): DataFrame = {
    import spark.implicits._
    ids.map(i => (i.toLong, i.toLong % 10)).toDF("id", "n")
  }

  /** A 200-row table over four files (v00001). */
  private def table(): String = {
    val root = tmp()
    VersionedTable.create(spark, rows(0 until 200), root, spec,
      layout = _.repartition(4))
    root
  }

  private def head(root: String): String = VersionedTable.headVersion(root).get

  private def files(root: String, v: String): Seq[String] =
    Footers.entriesOf(spark, s"$root/manifest/$v").toSeq
      .flatMap(e => e._1 +: e._2.toSeq).map(_.stripPrefix("file:"))

  private def assertNoMissingFiles(root: String): Unit =
    VersionedTable.publishedVersions(root).foreach { v =>
      val missing = files(root, v).filterNot(LocalTableStore.exists)
      assert(missing.isEmpty, s"published $v names missing file(s): $missing")
    }

  /** Recursive dir copy: fabricates a stalled writer's fully-written
    * version dir from a real one.
    */
  private def copyDir(src: String, dst: String): Unit = {
    val s = java.nio.file.Paths.get(src)
    val d = java.nio.file.Paths.get(dst)
    val walk = java.nio.file.Files.walk(s)
    try walk.forEach { p =>
      val t = d.resolve(s.relativize(p))
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(t)
      else java.nio.file.Files.copy(p, t)
    } finally walk.close()
  }

  private def withStore[A](st: TableStore)(body: => A): A = {
    TableStore.set(st)
    try body finally TableStore.set(LocalTableStore)
  }

  test("vacuum completes beside an undecided attempt above the head and leaves it alone") {
    val root = table()
    VersionedTable.append(spark, rows(200 until 210), root, spec) // v00002
    val mroot = s"$root/manifest"
    // a stalled attempt at v00003: fully written, claim outstanding
    assert(LocalTableStore.createExclusive(s"$mroot/v00003.claim"))
    copyDir(s"$mroot/v00002", s"$mroot/v00003")
    val (retired, _, _) = VersionedTable.vacuum(spark, root, keepLast = 16)
    assert(retired.isEmpty, s"retired $retired")
    val (retired1, _, _) = VersionedTable.vacuum(spark, root, keepLast = 1)
    assert(retired1 == Seq("v00001"), s"retired $retired1")
    assert(LocalTableStore.isDirectory(s"$mroot/v00003") &&
      LocalTableStore.exists(s"$mroot/v00003.claim"),
      "an undecided attempt is not the vacuum's to retire")
    assert(files(root, "v00003").forall(LocalTableStore.exists))
    assert(head(root) == "v00002")
    assert(VersionedTable.read(spark, root).count() == 210L)
    assertNoMissingFiles(root)
  }

  test("vacuum during a commit's pointer swap keeps the files the commit adds") {
    val root = table()
    val mroot = s"$root/manifest"
    val fired = new AtomicBoolean(false)
    @volatile var vacuumed: Option[(Seq[String], Int, Int)] = None
    // the append's version dir and `_META` are written, its claim is
    // up, and the pointer is about to swap: vacuum right there
    val racing = new ForwardingTableStore(LocalTableStore) {
      override def writeString(p: String, c: String): Unit = {
        if (p == s"$mroot/_CURRENT.tmp-v00002" && fired.compareAndSet(false, true))
          vacuumed = Some(VersionedTable.vacuum(spark, root, keepLast = 1))
        super.writeString(p, c)
      }
    }
    val v = withStore(racing)(VersionedTable.append(spark, rows(200 until 210), root, spec))
    assert(fired.get && v == "v00002")
    assert(vacuumed.contains((Seq.empty, 0, 0)),
      s"the vacuum retires and reclaims nothing the commit holds: $vacuumed")
    assert(VersionedTable.read(spark, root).count() == 210L)
    assertNoMissingFiles(root)
  }

  /** Runs `VersionedTable.vacuum(root, keepLast)` on a second thread,
    * racing the commit that runs on the calling thread. The vacuum
    * starts at the commit's first store call `startsAt` accepts (after
    * `before` runs there), and the commit waits until the vacuum has
    * listed the manifest root. The vacuum then waits, before its first
    * delete, until the commit has written its manifest (its `_SUCCESS`
    * probe on `version`); the commit waits for the vacuum to finish
    * before it audits.
    */
  private final class RacingVacuum(root: String, keepLast: Int, version: String,
                                   startsAt: (String, String) => Boolean,
                                   before: () => Unit)
      extends ForwardingTableStore(LocalTableStore) {
    private val mroot = s"$root/manifest"
    private val started = new AtomicBoolean(false)
    private val listed = new CountDownLatch(1)
    private val written = new CountDownLatch(1)
    @volatile private var vacuum: Thread = _
    @volatile var failure: Option[Throwable] = None

    private def inVacuum: Boolean = Thread.currentThread() eq vacuum

    private def await(l: CountDownLatch, what: String): Unit =
      assert(l.await(120, TimeUnit.SECONDS), s"timed out waiting for $what")

    private def commitAt(op: String, p: String): Unit =
      if (!inVacuum) {
        if (startsAt(op, p) && started.compareAndSet(false, true)) {
          before()
          val t = new Thread(() =>
            try VersionedTable.vacuum(spark, root, keepLast)
            catch { case e: Throwable => failure = Some(e); listed.countDown() })
          vacuum = t
          t.start()
          await(listed, "the vacuum's manifest listing")
        } else if (vacuum != null && p == s"$mroot/$version/_SUCCESS") {
          written.countDown()
          vacuum.join(120000L)
          assert(!vacuum.isAlive, "the vacuum did not finish")
        }
      }

    private def vacuumDeletes(): Unit =
      if (inVacuum) await(written, "the commit's manifest")

    override def listNames(p: String): Seq[String] = {
      val out = super.listNames(p)
      if (inVacuum && p == mroot) listed.countDown()
      out
    }
    override def exists(p: String): Boolean = { commitAt("exists", p); super.exists(p) }
    override def createDirectories(p: String): Unit = {
      commitAt("createDirectories", p); super.createDirectories(p)
    }
    override def createExclusive(p: String): Boolean = {
      val out = super.createExclusive(p)
      commitAt("createExclusive", p)
      out
    }
    override def deleteIfExists(p: String): Boolean = {
      vacuumDeletes(); super.deleteIfExists(p)
    }
    override def deleteTree(p: String): Unit = { vacuumDeletes(); super.deleteTree(p) }
  }

  // each commit claims v00002 after writing its new files; the vacuum
  // lists then (no v00002 dir yet, so those files are unreferenced) and
  // deletes them once the commit's manifest is written — the audit of
  // the files the commit adds must find them gone
  Seq[(String, String => Any, String)](
    ("an append's batch generation",
      r => VersionedTable.append(spark, rows(200 until 210), r, spec), "/g-"),
    ("a deleteRosterDV's deletion-vector sidecar",
      r => VersionedTable.deleteRosterDV(spark, r, spec, rows(3 until 8)), "/dv-")
  ).foreach { case (what, commit, deleted) =>
    test(s"a vacuum between the write of $what and its publish vetoes the commit") {
      val root = table()
      val mroot = s"$root/manifest"
      val racing = new RacingVacuum(root, keepLast = 1, "v00002",
        startsAt = (op, p) => op == "createExclusive" && p == s"$mroot/v00002.claim",
        before = () => ())
      val e = intercept[IllegalArgumentException](withStore(racing)(commit(root)))
      racing.failure.foreach(throw _)
      assert(e.getMessage.contains("missing file") && e.getMessage.contains(deleted),
        e.getMessage)
      assert(LocalTableStore.isDirectory(s"$mroot/v00002.failed"), "the attempt is tombstoned")
      assert(head(root) == "v00001")
      assert(VersionedTable.read(spark, root).count() == 200L)
      assertNoMissingFiles(root)
    }
  }

  test("a commit whose head moved under it runs the full audit: vacuuming its snapshot " +
    "vetoes it") {
    val root = table()
    val mroot = s"$root/manifest"
    // setConstraint snapshots v00001 and adds no file. At its publish, a
    // compaction commits v00002 (rewriting every file), so the constraint
    // commit lands on v00002; the vacuum lists, then retires v00001 and
    // its files once the constraint commit's manifest — still naming
    // v00001's files — is written
    val racing = new RacingVacuum(root, keepLast = 1, "v00003",
      startsAt = (op, p) => op == "createDirectories" && p == mroot,
      before = () => {
        VersionedTable.optimizeCompact(spark, root, spec, targetBytes = 1L << 30)
        ()
      })
    val e = intercept[IllegalArgumentException] {
      withStore(racing)(VersionedTable.setConstraint(spark, root, "id_nonneg", "id >= 0"))
    }
    racing.failure.foreach(throw _)
    assert(e.getMessage.contains("missing file"), e.getMessage)
    assert(LocalTableStore.isDirectory(s"$mroot/v00003.failed"), "the attempt is tombstoned")
    assert(head(root) == "v00002")
    assert(!LocalTableStore.exists(s"$mroot/v00001"), "the vacuum retired the snapshot")
    assert(VersionedTable.read(spark, root).count() == 200L)
    assert(VersionedTable.constraints(root).isEmpty)
    assertNoMissingFiles(root)
  }
}
