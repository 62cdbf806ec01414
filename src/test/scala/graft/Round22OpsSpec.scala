package graft

import graft.operators.{ForwardingTableStore, LocalTableStore, Publish, TableStore, VersionedTable}

/** The `_NEXT` allocation watermark (VERDICT r15 "what's missing" #2 —
  * manifest-log checkpointing): version allocation must cost O(1)
  * store ops at ANY history depth, not a full root listing per commit,
  * while preserving the no-number-reuse contract the listing used to
  * enforce (a tombstoned attempt's number stays burned by the
  * watermark even after its `.claim` drops, with no listing).
  */
class Round22OpsSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    tempDir(prefix).toString

  private def df(ks: Long*) = {
    import spark.implicits._
    ks.map(k => (k, k * 10)).toDF("k", "n")
  }

  test("deep-history allocation lists nothing: commits at depth N cost the same point reads as depth 1") {
    val root = tmp("graft-next-alloc") + "/t"
    (1 to 10).foreach(_ => Publish.publish(df(1, 2), root))
    val lists = new java.util.concurrent.atomic.AtomicLong
    val counting = new ForwardingTableStore(LocalTableStore) {
      override def listNames(p: String) = {
        lists.incrementAndGet(); super.listNames(p)
      }
    }
    TableStore.set(counting)
    try {
      val v = Publish.publish(df(3), root)
      assert(v == "v00011", s"expected v00011, got $v")
      assert(lists.get() == 0L,
        s"allocation must read the _NEXT watermark, not LIST the root " +
          s"(got ${lists.get()} listings)")
    } finally TableStore.set(LocalTableStore)
  }

  test("a pre-watermark table bootstraps with ONE listing and seeds _NEXT for every later commit") {
    val root = tmp("graft-next-boot") + "/t"
    (1 to 3).foreach(_ => Publish.publish(df(1), root))
    // simulate a table whose history predates the watermark
    LocalTableStore.deleteIfExists(s"$root/_NEXT")
    val lists = new java.util.concurrent.atomic.AtomicLong
    val counting = new ForwardingTableStore(LocalTableStore) {
      override def listNames(p: String) = {
        lists.incrementAndGet(); super.listNames(p)
      }
    }
    TableStore.set(counting)
    try {
      assert(Publish.publish(df(2), root) == "v00004")
      val seedLists = lists.get()
      assert(seedLists >= 1L, "absent watermark must fall back to the full scan")
      assert(Publish.publish(df(3), root) == "v00005")
      assert(lists.get() == seedLists,
        "the bootstrap scan runs once; the re-seeded watermark serves every later commit")
    } finally TableStore.set(LocalTableStore)
  }

  test("a tombstoned attempt's number stays burned by the watermark alone — even after its .failed artifact is gone") {
    val root = tmp("graft-next-burn") + "/t"
    Publish.publish(df(1), root) // v1
    intercept[RuntimeException] {
      Publish.publish(df(2), root, audit = _ => sys.error("veto")) // burns 2
    }
    assert(LocalTableStore.exists(s"$root/v00002.failed"))
    // worst case: every on-disk artifact of number 2 is janitored away;
    // only the watermark remembers the number was attempted
    LocalTableStore.deleteTree(s"$root/v00002.failed")
    val v = Publish.publish(df(3), root)
    assert(v == "v00003",
      s"number 2 was attempted (and may have been observed by name mid-flight) — " +
        s"it must never be reused, got $v")
  }

  test("a stale watermark after a claim-without-advance crash self-heals by probing upward") {
    val root = tmp("graft-next-stale") + "/t"
    Publish.publish(df(1), root) // v1, _NEXT=2
    // crash window: a writer claimed number 2 and died before advancing
    assert(LocalTableStore.createExclusive(s"$root/v00002.claim"))
    val v = Publish.publish(df(2), root)
    assert(v == "v00003", s"claim collision must force the next number, got $v")
    assert(LocalTableStore.readString(s"$root/_NEXT").trim == "4")
    // the orphaned claim keeps burning its number on later commits too
    assert(Publish.publish(df(3), root) == "v00004")
  }

  test("feed-window attribution planning is window-priced: zero listings, stamps identical to the full walk") {
    import spark.implicits._
    val root = tmp("graft-cv-window") + "/t"
    val spec = VersionedTable.Spec(Seq("n"), "k", 1 << 10)
    VersionedTable.create(spark,
      (0L until 8L).map(i => (i, i)).toDF("k", "n"), root, spec) // v1
    // stamped + unstamped commits interleaved: attribution must
    // inherit across the unstamped property commit inside the window
    VersionedTable.append(spark,
      Seq((100L, 1L)).toDF("k", "n"), root, spec,
      extraMeta = Map("commit_ts" -> "1000")) // v2
    VersionedTable.setConstraint(spark, root, "k_pos", "k >= 0") // v3 unstamped
    VersionedTable.append(spark,
      Seq((101L, 2L)).toDF("k", "n"), root, spec,
      extraMeta = Map("commit_ts" -> "2000")) // v4
    VersionedTable.append(spark,
      Seq((102L, 3L)).toDF("k", "n"), root, spec) // v5 unstamped
    val full = VersionedTable.effectiveCommitTs(root) // also seeds _ts_index
    val lists = new java.util.concurrent.atomic.AtomicLong
    val counting = new ForwardingTableStore(LocalTableStore) {
      override def listNames(p: String) = {
        lists.incrementAndGet(); super.listNames(p)
      }
    }
    TableStore.set(counting)
    val rows =
      try {
        val feed = VersionedTable.changeFeedWithCommitVersions(
          spark, root, "v00002", "v00005")
        val out = feed.select("k", "_commit_version", "_commit_timestamp")
          .collect().map(r => (r.getLong(0), r.getString(1),
            if (r.isNullAt(2)) -1L else r.getLong(2))).sortBy(_._1)
        assert(lists.get() == 0L,
          s"window planning must probe the window, not LIST the root " +
            s"(got ${lists.get()} listings)")
        out
      } finally TableStore.set(LocalTableStore)
    // v4's insert carries its own stamp; v5's inherits v4's (the
    // effectiveCommitTs rule) — identical to the full-walk answer
    assert(rows.toSeq == Seq((101L, "v00004", 2000L), (102L, "v00005", 2000L)))
    assert(full("v00005").contains(2000L) && full("v00003").contains(1000L))
  }

  test("a stale _ts_index gap below the window is probed once and merged, keeping later windows gap-free") {
    import spark.implicits._
    val root = tmp("graft-cv-gap") + "/t"
    val spec = VersionedTable.Spec(Seq("n"), "k", 1 << 10)
    VersionedTable.create(spark,
      (0L until 4L).map(i => (i, i)).toDF("k", "n"), root, spec) // v1
    VersionedTable.append(spark, Seq((50L, 1L)).toDF("k", "n"), root, spec,
      extraMeta = Map("commit_ts" -> "500")) // v2
    VersionedTable.effectiveCommitTs(root) // index covers v1..v2
    VersionedTable.append(spark, Seq((51L, 2L)).toDF("k", "n"), root, spec,
      extraMeta = Map("commit_ts" -> "600")) // v3: NOT in the index yet
    VersionedTable.append(spark, Seq((52L, 3L)).toDF("k", "n"), root, spec) // v4
    // window (v3, v4]: the unindexed v3 sits AT the window base — its
    // stamp is the inheritance source for the unstamped v4
    val feed = VersionedTable.changeFeedWithCommitVersions(
      spark, root, "v00003", "v00004")
    val got = feed.select("k", "_commit_timestamp").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((52L, 600L)),
      s"v4 must inherit the unindexed v3's stamp through the gap probe, got $got")
    // the probe MERGED its facts: the index now carries v3 and v4
    val idx = LocalTableStore.readString(s"$root/manifest/_ts_index")
    assert(idx.contains("v00003=600") && idx.contains("v00004=-"),
      s"gap facts must merge into the index, got:\n$idx")
  }

  test("concurrent publishers allocate gap-free serial versions with the watermark in play") {
    val root = tmp("graft-next-conc") + "/t"
    Publish.publish(df(1), root)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val futs = (0 until 8).map { i =>
        pool.submit(new java.util.concurrent.Callable[String] {
          def call(): String = Publish.publish(df(i.toLong + 10), root)
        })
      }
      val got = futs.map(_.get()).sorted
      assert(got == (2 to 9).map(n => "v%05d".format(n)),
        s"8 concurrent commits over head v1 must win versions v2..v9, got $got")
      assert(LocalTableStore.readString(s"$root/_NEXT").trim == "10")
    } finally pool.shutdown()
  }
}
