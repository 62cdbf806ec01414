package graft

import graft.operators.{ForwardingTableStore, LocalTableStore, Publish, TableStore, VersionedTable}

/** The control-plane storage facade (VERDICT r14 #7): contract tests
  * for the local implementation, and the seam proof — a counting
  * wrapper installed via [[TableStore.set]] observes every pointer
  * read/swap a publish cycle performs, so the storage layer verifiably
  * routes through the facade (a direct `java.nio` call would be
  * invisible to the wrapper).
  */
class TableStoreSpec extends SparkSpec {

  private def tmp(): String =
    tempDir("graft-store").toString

  test("local store contract: markers, swaps, renames, tree deletes") {
    val s = LocalTableStore
    val r = tmp()
    assert(s.isDirectory(r) && s.listNames(r).isEmpty)
    assert(s.listNames(s"$r/nope").isEmpty, "non-dir lists empty, never throws")
    s.writeString(s"$r/a.txt", "hello")
    assert(s.exists(s"$r/a.txt") && !s.isDirectory(s"$r/a.txt"))
    assert(s.readString(s"$r/a.txt") == "hello")
    assert(s.size(s"$r/a.txt") == 5L)
    assert(s.lastModifiedMs(s"$r/a.txt") > 0L)
    // markers are idempotent
    s.createMarker(s"$r/m"); s.createMarker(s"$r/m")
    assert(s.exists(s"$r/m"))
    // atomic swap replaces; rename refuses an existing target
    s.writeString(s"$r/ptr.tmp", "v2")
    s.writeString(s"$r/ptr", "v1")
    s.atomicSwap(s"$r/ptr.tmp", s"$r/ptr")
    assert(s.readString(s"$r/ptr") == "v2" && !s.exists(s"$r/ptr.tmp"))
    s.writeString(s"$r/x", "x"); s.writeString(s"$r/y", "y")
    intercept[java.io.IOException] { s.rename(s"$r/x", s"$r/y") }
    s.rename(s"$r/x", s"$r/z")
    assert(!s.exists(s"$r/x") && s.readString(s"$r/z") == "x")
    // nested tree delete, idempotent
    s.createDirectories(s"$r/d/e")
    s.writeString(s"$r/d/e/f.txt", "f")
    s.deleteTree(s"$r/d"); s.deleteTree(s"$r/d")
    assert(!s.exists(s"$r/d"))
    assert(s.deleteIfExists(s"$r/z") && !s.deleteIfExists(s"$r/z"))
    s.deleteTree(r)
  }

  test("the seam is real: a swapped store observes the publish cycle's pointer IO") {
    import spark.implicits._
    val reads = new java.util.concurrent.atomic.AtomicLong
    val swaps = new java.util.concurrent.atomic.AtomicLong
    // the shared forwarder delegates the full trait (incl. the
    // cross-process CAS the pointer publish actually uses — counting
    // atomicSwap would miss it, since the production swap is
    // swapIfContentIs end to end)
    val counting = new ForwardingTableStore(LocalTableStore) {
      override def readString(p: String) = {
        if (p.endsWith("_CURRENT")) reads.incrementAndGet(); super.readString(p)
      }
      override def swapIfContentIs(t: String, p: String, e: Option[String]) = {
        if (p.endsWith("_CURRENT")) swaps.incrementAndGet()
        super.swapIfContentIs(t, p, e)
      }
    }
    val root = tmp() + "/t"
    TableStore.set(counting)
    try {
      val spec = VersionedTable.Spec(Seq("n"), "k", 1 << 13)
      VersionedTable.create(spark,
        (0L until 10L).map(i => (i, i)).toDF("k", "n"), root, spec)
      VersionedTable.append(spark,
        (10L until 15L).map(i => (i, i)).toDF("k", "n"), root, spec)
      assert(VersionedTable.read(spark, root).count() == 15L)
      assert(swaps.get() == 2L,
        s"two commits = two pointer swaps through the facade, got ${swaps.get()}")
      assert(reads.get() >= 2L, "head resolution must route through the facade")
    } finally TableStore.set(LocalTableStore)
    // back on the local store, the table reads unchanged
    assert(VersionedTable.read(spark, root).count() == 15L)
    LocalTableStore.deleteTree(java.nio.file.Paths.get(root).getParent.toString)
  }

  test("fault injection through the seam: a pointer-swap crash leaves the old head published and the next publish recovers") {
    import spark.implicits._
    // the facade makes the documented Iceberg-style orphan caveat
    // TESTABLE: fail the _CURRENT swap once — the crash window
    // strictly between audit pass and pointer swap
    val failOnce = new java.util.concurrent.atomic.AtomicBoolean(true)
    val flaky = new ForwardingTableStore(LocalTableStore) {
      override def swapIfContentIs(t: String, p: String, e: Option[String]) = {
        if (p.endsWith("_CURRENT") && failOnce.compareAndSet(true, false))
          throw new java.io.IOException("injected: swap lost")
        super.swapIfContentIs(t, p, e)
      }
    }
    val root = tempDir("graft-flaky").toString + "/t"
    val spec = VersionedTable.Spec(Seq("n"), "k", 1 << 13)
    def rows(lo: Long, hi: Long) = (lo until hi).map(i => (i, i)).toDF("k", "n")
    VersionedTable.create(spark, rows(0, 10), root, spec) // v1, clean store
    TableStore.set(flaky)
    try {
      intercept[java.io.IOException] {
        VersionedTable.append(spark, rows(10, 20), root, spec)
      }
      // the old head is still published; the attempt is TOMBSTONED
      // (an exception in the publish section must not leave a
      // fully-written live-named dir that later reads as committed
      // history once the head passes it) and its number is burned
      assert(VersionedTable.headVersion(root).contains("v00001"))
      assert(VersionedTable.read(spark, root).count() == 10L)
      val mroot = s"$root/manifest"
      assert(LocalTableStore.exists(s"$mroot/v00002.failed") &&
        !LocalTableStore.isDirectory(s"$mroot/v00002"),
        "a swap-path exception must tombstone the attempt, not orphan it live-named")
      // recovery needs no repair: the next publish takes a FRESH
      // number and swaps clean
      VersionedTable.append(spark, rows(10, 20), root, spec)
      assert(VersionedTable.headVersion(root).contains("v00003"),
        s"the orphan's number must stay burned: ${VersionedTable.headVersion(root)}")
      assert(VersionedTable.read(spark, root).count() == 20L)
    } finally TableStore.set(LocalTableStore)
    LocalTableStore.deleteTree(java.nio.file.Paths.get(root).getParent.toString)
  }
}
