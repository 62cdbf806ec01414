package graft

import graft.operators.{ForwardingTableStore, LocalTableStore, Publish, TableStore, VersionedTable}

/** Round-16 self-review hardening of the cross-process commit
  * protocol: an outstanding `.claim` marks an UNDECIDED attempt that
  * readers, feeds and janitors must never serve or tear; the `_ts_max`
  * running max is advanced by CAS (monotone under foreign racers); an
  * exception anywhere in the publish section tombstones; a union sink
  * counts offset-less feed relations instead of dropping them.
  */
class Round21OpsSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    tempDir(prefix).toString

  /** Recursive dir copy — fabricates a stalled writer's fully-written
    * version dir from a real one (test rig only; nio is fine here).
    */
  private def copyDir(src: String, dst: String): Unit = {
    val s = java.nio.file.Paths.get(src)
    val d = java.nio.file.Paths.get(dst)
    val walk = java.nio.file.Files.walk(s)
    try walk.forEach { p =>
      val t = d.resolve(s.relativize(p))
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.createDirectories(t)
      else java.nio.file.Files.copy(p, t)
      ()
    } finally walk.close()
  }

  test("an undecided in-flight version below the head is a phantom: readers and feeds skip it, before and after its writer loses") {
    import spark.implicits._
    val base = tmp("graft-phantom")
    val root = s"$base/t"
    val mroot = s"$root/manifest"
    val spec = VersionedTable.Spec(Seq("n"), "k", 1 << 10)
    def rows(ks: Long*) = ks.map(k => (k, k * 10)).toDF("k", "n")
    VersionedTable.create(spark, rows(1, 2), root, spec) // v1
    VersionedTable.append(spark, rows(3), root, spec) // v2
    // a STALLED foreign writer: claimed v3, fully wrote its manifest
    // dir (_SUCCESS + _META present — content here differs from v2 so
    // any leak is visible), but has NOT swapped the pointer
    assert(LocalTableStore.createExclusive(s"$mroot/v00003.claim"))
    copyDir(s"$mroot/v00001", s"$mroot/v00003")
    // a real writer commits around it: v3 is claimed, so it takes v4
    VersionedTable.append(spark, rows(4), root, spec)
    assert(VersionedTable.headVersion(root).contains("v00004"))
    // readers: the phantom is NOT history, even with _SUCCESS written
    assert(VersionedTable.publishedVersions(root) ==
      Seq("v00001", "v00002", "v00004"))
    assert(VersionedTable.read(spark, root).count() == 4L)
    // the feed window steps past the phantom — no rows from an
    // uncommitted attempt, no delete/insert churn from its stale view
    val feed = VersionedTable.changeFeed(spark, root, "v00001", "v00004")
    assert(feed.filter(org.apache.spark.sql.functions
      .col("change_type") === "delete").count() == 0L)
    assert(feed.count() == 2L, "exactly the two committed appends")
    val attributed = VersionedTable
      .changeFeedWithCommitVersions(spark, root, "v00001", "v00004")
      .select("_commit_version").distinct().collect().map(_.getString(0)).toSet
    assert(attributed == Set("v00002", "v00004"),
      s"attribution must name committed versions only, got $attributed")
    // time travel by name refuses the phantom too
    val tex = intercept[IllegalArgumentException] {
      VersionedTable.readVersion(spark, root, "v00003").count()
    }
    assert(tex.getMessage.contains("UNDECIDED"))
    // the stalled writer wakes, loses its CAS and tombstones — the
    // reader view is unchanged
    LocalTableStore.rename(s"$mroot/v00003", s"$mroot/v00003.failed")
    LocalTableStore.deleteIfExists(s"$mroot/v00003.claim")
    assert(VersionedTable.publishedVersions(root) ==
      Seq("v00001", "v00002", "v00004"))
    assert(VersionedTable.changeFeed(spark, root, "v00001", "v00004")
      .count() == 2L)
    LocalTableStore.deleteTree(base)
  }

  test("a committed head's lingering claim (crashed claim-release) stays readable and is healed by the next publish") {
    import spark.implicits._
    val base = tmp("graft-heal")
    val root = s"$base/t"
    Publish.publish(Seq((1, 1)).toDF("a", "b"), root) // v1
    // simulate a crash strictly between the pointer swap and the
    // claim release: the pointer names v1, its claim is still up
    LocalTableStore.createMarker(s"$root/v00001.claim")
    assert(Publish.currentVersion(root).contains("v00001"))
    assert(!Publish.isPendingClaim(root, "v00001"),
      "the head is committed by definition — its claim is not 'pending'")
    // the next publish HEALS the lingering claim before it can move
    // the head past v1 (the reader invariant 'claim below head =
    // never committed' must survive the crash window)
    Publish.publish(Seq((2, 2)).toDF("a", "b"), root) // v2
    assert(!LocalTableStore.exists(s"$root/v00001.claim"),
      "the successor must release the committed predecessor's claim")
    assert(Publish.currentVersion(root).contains("v00002"))
    assert(!Publish.isPendingClaim(root, "v00001"))
    LocalTableStore.deleteTree(base)
  }

  test("_ts_max is CAS-advanced: a foreign stale write cannot regress it below a stamp history carries") {
    import spark.implicits._
    val base = tmp("graft-tsmax")
    val root = s"$base/t"
    val spec = VersionedTable.Spec(Seq("n"), "k", 1 << 10)
    VersionedTable.create(spark,
      (0L until 4L).map(i => (i, i)).toDF("k", "n"), root, spec)
    VersionedTable.setInCommitTimestamps(spark, root)
    val far = System.currentTimeMillis() + 1000L * 86400 * 365
    VersionedTable.append(spark,
      (4L until 6L).map(i => (i, i)).toDF("k", "n"), root, spec,
      extraMeta = Map("commit_ts" -> far.toString))
    val tsMax = s"$root/manifest/_ts_max"
    assert(LocalTableStore.readString(tsMax).trim.toLong == far)
    // a foreign racer holding a STALE read attempts the advance it
    // computed from it — the conditional swap must refuse (this is
    // the exact interleaving a last-writer-wins swap loses: the stale
    // smaller value landing after the larger one)
    LocalTableStore.writeString(s"$tsMax.tmp-foreign", "1000")
    assert(!LocalTableStore.swapIfContentIs(s"$tsMax.tmp-foreign", tsMax,
      Some("999")), "a stale expectation must refuse")
    assert(LocalTableStore.readString(tsMax).trim.toLong == far,
      "_ts_max must never regress")
    // the engine's own advance goes through the CAS, never a blind
    // swap — pin the wiring
    val blind = new java.util.concurrent.atomic.AtomicLong(0)
    val pinning = new ForwardingTableStore(LocalTableStore) {
      override def atomicSwap(t: String, p: String) = {
        if (p.endsWith("_ts_max")) blind.incrementAndGet()
        super.atomicSwap(t, p)
      }
    }
    TableStore.set(pinning)
    try { VersionedTable.setInCommitTimestamps(spark, root); () }
    finally TableStore.set(LocalTableStore)
    assert(blind.get() == 0L,
      "_ts_max writes must be conditional (swapIfContentIs), never a blind atomicSwap")
    // and the auto-stamp after the skewed explicit one stays above it
    val stamps = VersionedTable.publishedVersions(root)
      .flatMap(v => VersionedTable.versionMeta(root, v).get("commit_ts"))
      .map(_.toLong)
    assert(stamps.last > far, s"auto-stamp must stay above history: $stamps")
    LocalTableStore.deleteTree(base)
  }

  test("an exception STAGING the pointer tombstones the attempt — no fully-written live-named dir survives it") {
    import spark.implicits._
    val base = tmp("graft-stagex")
    val root = s"$base/t"
    Publish.publish(Seq((1, 1)).toDF("a", "b"), root) // v1
    val failOnce = new java.util.concurrent.atomic.AtomicBoolean(true)
    val flaky = new ForwardingTableStore(LocalTableStore) {
      override def writeString(p: String, c: String) = {
        if (p.contains("_CURRENT.tmp-") && failOnce.compareAndSet(true, false))
          throw new java.io.IOException("injected: staging write lost")
        super.writeString(p, c)
      }
    }
    TableStore.set(flaky)
    try intercept[java.io.IOException] {
      Publish.publish(Seq((2, 2)).toDF("a", "b"), root)
    } finally TableStore.set(LocalTableStore)
    assert(Publish.currentVersion(root).contains("v00001"))
    assert(LocalTableStore.exists(s"$root/v00002.failed") &&
      !LocalTableStore.isDirectory(s"$root/v00002"),
      "a staging exception must tombstone, not orphan the dir live-named")
    // the number is burned; recovery is clean
    Publish.publish(Seq((3, 3)).toDF("a", "b"), root)
    assert(Publish.currentVersion(root).contains("v00003"))
    LocalTableStore.deleteTree(base)
  }

  test("janitors adjudicate claims: undecided in-flight attempts are skipped, dead ones reclaimed without a lying .purged marker") {
    import spark.implicits._
    val base = tmp("graft-janitor")
    val root = s"$base/t"
    Publish.publish(Seq((1, 1)).toDF("a", "b"), root) // v1
    // a foreign writer mid-commit: claim + half-written dir at v2,
    // number ABOVE the head — UNDECIDED (its CAS may still succeed)
    assert(LocalTableStore.createExclusive(s"$root/v00002.claim"))
    LocalTableStore.createDirectories(s"$root/v00002")
    LocalTableStore.writeString(s"$root/v00002/part-0", "x")
    assert(Publish.retireHistory(root).isEmpty,
      "an undecided in-flight attempt must not be torn by the janitor")
    assert(LocalTableStore.exists(s"$root/v00002/part-0") &&
      LocalTableStore.exists(s"$root/v00002.claim"))
    // a local commit moves the head past it — v2 is now provably DEAD
    // (its conditional swap can never succeed)
    Publish.publish(Seq((3, 3)).toDF("a", "b"), root) // v3 (v2 burned)
    assert(Publish.currentVersion(root).contains("v00003"))
    val retired = Publish.retireHistory(root)
    assert(retired.contains("v00002"), s"dead attempts reclaim: $retired")
    assert(!LocalTableStore.isDirectory(s"$root/v00002"))
    assert(LocalTableStore.exists(s"$root/v00002.claim"),
      "the claim stays as the number's burner")
    assert(!LocalTableStore.exists(s"$root/v00002.purged"),
      "nothing committed at v2 — a .purged marker would be a lie " +
        "(feeds would refuse a window that is actually a safe gap)")
    assert(!Publish.isReclaimed(root, "v00002"))
    assert(LocalTableStore.exists(s"$root/v00001.purged"),
      "committed history retires with its marker as before")
    LocalTableStore.deleteTree(base)
  }

  test("a vacuumed dead attempt reads as a safe gap: the change feed crosses it instead of refusing") {
    import spark.implicits._
    val base = tmp("graft-gapfeed")
    val root = s"$base/t"
    val mroot = s"$root/manifest"
    val spec = VersionedTable.Spec(Seq("n"), "k", 1 << 10)
    def rows(ks: Long*) = ks.map(k => (k, k * 10)).toDF("k", "n")
    VersionedTable.create(spark, rows(1), root, spec) // v1
    VersionedTable.append(spark, rows(2), root, spec) // v2
    // stalled attempt at v3 (fully written, claim up)
    assert(LocalTableStore.createExclusive(s"$mroot/v00003.claim"))
    copyDir(s"$mroot/v00001", s"$mroot/v00003")
    VersionedTable.append(spark, rows(4), root, spec) // v4
    VersionedTable.append(spark, rows(5), root, spec) // v5
    // retention-window vacuum on the manifest log: claim-marked dirs
    // do NOT occupy retention slots, so keepLast=3 keeps v2,v4,v5 and
    // reclaims v1 (marker) + the dead v3 (no marker, claim kept)
    val removed = Publish.vacuumRetain(mroot, keepLast = 3)
    assert(removed.toSet == Set("v00001", "v00003"), s"got $removed")
    assert(LocalTableStore.exists(s"$mroot/v00001.purged"))
    assert(!LocalTableStore.exists(s"$mroot/v00003.purged") &&
      LocalTableStore.exists(s"$mroot/v00003.claim"))
    // the feed crosses the dead attempt's gap safely...
    val feed = VersionedTable.changeFeed(spark, root, "v00002", "v00005")
    assert(feed.count() == 2L,
      "the window spanning the dead attempt must serve the two real appends")
    // ...but still refuses across a RECLAIMED committed version,
    // whose diff is genuinely unrecoverable: vacuum v2 away too
    assert(Publish.vacuumRetain(mroot, keepLast = 2) == Seq("v00002"))
    val ex = intercept[IllegalArgumentException] {
      VersionedTable.changeFeed(spark, root, "v00001", "v00005").count()
    }
    assert(ex.getMessage.contains("vacuumed"))
    LocalTableStore.deleteTree(base)
  }

  test("resolveWindowEnd: offset-less feed relations COUNT — a degraded union cannot masquerade as single-feed") {
    import graft.sources.GraftTableSink.resolveWindowEnd
    // no feed relations → batch-counter fallback
    assert(resolveWindowEnd("apply", Seq.empty).isEmpty)
    // one relation → its end; one offset-less relation → same fallback
    assert(resolveWindowEnd("apply", Seq(Some(7L))).contains(7L))
    assert(resolveWindowEnd("applyseq", Seq(None)).isEmpty)
    // a union in an apply mode refuses EVEN when one relation's end is
    // missing — dropping it would stamp applied_upto from the survivor
    intercept[IllegalArgumentException] {
      resolveWindowEnd("apply", Seq(Some(3L), None))
    }
    intercept[IllegalArgumentException] {
      resolveWindowEnd("applyseq", Seq(Some(3L), Some(5L)))
    }
    // append: min over fully-known ends is the custody floor…
    assert(resolveWindowEnd("append", Seq(Some(3L), Some(5L))).contains(3L))
    // …but an unknown end claims NO floor (min of a subset is not
    // at-or-below the missing source's true end)
    assert(resolveWindowEnd("append", Seq(Some(3L), None)).isEmpty)
  }
}
