package graft

import graft.operators.{ForwardingTableStore, LocalTableStore, Publish, TableStore, VersionedTable}

/** Round-16 control-plane hardening (VERDICT r15 #1–#3 + ADVICE r15):
  * one canonical spelling per table root wherever a root becomes a
  * key, the in-lock strictly-monotone ICT stamp, and the O(1)
  * `_ts_max` running-max commit cost.
  */
class Round20OpsSpec extends SparkSpec {

  /** Shared forwarding wrapper (graft.operators.ForwardingTableStore):
    * delegates the FULL trait — including createExclusive and
    * swapIfContentIs, so fault injection exercises the same
    * cross-process CAS production runs, not the weaker in-JVM trait
    * defaults a partial hand-rolled forwarder would silently fall
    * back to. Specs override just the methods they count or inject.
    */
  private class Forward(d: TableStore) extends ForwardingTableStore(d)

  test("canonicalRoot: separators collapse, trailing slash and dot segments drop, scheme keys stay opaque") {
    assert(TableStore.canonicalRoot("/a/tbl") == "/a/tbl")
    assert(TableStore.canonicalRoot("/a/tbl/") == "/a/tbl")
    assert(TableStore.canonicalRoot("/a//tbl") == "/a/tbl")
    assert(TableStore.canonicalRoot("/a/./tbl/") == "/a/tbl")
    assert(TableStore.canonicalRoot("rel/t/") == "rel/t")
    // scheme-qualified roots: only the trailing separator drops —
    // on an object store the path is an opaque KEY where empty
    // segments are SIGNIFICANT (s3 'bucket//x' ≠ 'bucket/x');
    // collapsing would silently alias two distinct tables AND
    // rewrite the IO paths built from the canonical string
    assert(TableStore.canonicalRoot("s3://bucket/x/t/") == "s3://bucket/x/t")
    assert(TableStore.canonicalRoot("s3://bucket//x/./t") == "s3://bucket//x/./t")
  }

  test("canonical lock key: concurrent commits through four spellings of one root are gap-free, every dir committed") {
    import spark.implicits._
    val base = tempDir("graft-canon").toString
    val root = s"$base/t"
    // four spellings of the SAME root — the r15 weak: un-normalized
    // keys gave each its own lock object, so the advertised per-root
    // serialization silently didn't hold across spellings
    val spellings =
      Seq(root, root + "/", s"$base//t", s"$base/./t/")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val perThread = 6
    val failures = new java.util.concurrent.atomic.AtomicInteger(0)
    val tasks = spellings.zipWithIndex.map { case (spelling, ti) =>
      pool.submit(new Runnable {
        def run(): Unit =
          try (0 until perThread).foreach { i =>
            Publish.publish(Seq((ti, i)).toDF("a", "b"), spelling)
          } catch { case _: Throwable => failures.incrementAndGet(); () }
      })
    }
    tasks.foreach(_.get())
    pool.shutdown()
    assert(failures.get() == 0, "no commit may fail under contention")
    val names = LocalTableStore.listNames(root)
    val live = names.filter(_.matches("v\\d+")).map(_.drop(1).toLong).sorted
    assert(live == (1L to (4L * perThread)),
      s"versions must be gap-free and collision-free, got $live")
    live.foreach { n =>
      assert(LocalTableStore.exists(f"$root/v$n%05d/_SUCCESS"),
        s"v$n must carry _SUCCESS — a torn dir means the lock didn't hold")
    }
    assert(names.count(_.endsWith(".failed")) == 0, "no tombstoned attempts")
    assert(Publish.currentVersion(root).contains(f"v${4 * perThread}%05d"))
    // all four spellings read the same head
    spellings.foreach(sp =>
      assert(Publish.currentVersion(sp) == Publish.currentVersion(root)))
    LocalTableStore.deleteTree(base)
  }

  test("ICT stamp is strictly increasing across concurrent same-table writers (minted inside the commit lock)") {
    import spark.implicits._
    val base = tempDir("graft-ictc").toString
    val root = s"$base/t"
    val spec = VersionedTable.Spec(Seq("n"), "k", 1 << 10)
    VersionedTable.create(spark,
      (0L until 8L).map(i => (i, i)).toDF("k", "n"), root, spec)
    VersionedTable.setInCommitTimestamps(spark, root)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(6)
    val failures = new java.util.concurrent.atomic.AtomicInteger(0)
    val tasks = (0 until 6).map { _ =>
      pool.submit(new Runnable {
        def run(): Unit =
          try (0 until 4).foreach { _ =>
            VersionedTable.setInCommitTimestamps(spark, root); ()
          } catch { case _: Throwable => failures.incrementAndGet(); () }
      })
    }
    tasks.foreach(_.get())
    pool.shutdown()
    assert(failures.get() == 0)
    val stamps = VersionedTable.publishedVersions(root)
      .flatMap(v => VersionedTable.versionMeta(root, v).get("commit_ts"))
      .map(_.toLong)
    assert(stamps.length >= 25, s"24 concurrent + 1 enable: $stamps")
    stamps.sliding(2).foreach { case Seq(a, b) =>
      assert(a < b,
        s"ICT stamps must be STRICTLY increasing in version order, got $a !< $b")
    }
    LocalTableStore.deleteTree(base)
  }

  test("ICT commit cost is O(1) in table history: no _ts_index parse, one _ts_max read, constant _META reads per commit") {
    import spark.implicits._
    val base = tempDir("graft-icto").toString
    val root = s"$base/t"
    val spec = VersionedTable.Spec(Seq("n"), "k", 1 << 10)
    VersionedTable.create(spark,
      (0L until 8L).map(i => (i, i)).toDF("k", "n"), root, spec)
    VersionedTable.setInCommitTimestamps(spark, root)

    val tsIndexReads = new java.util.concurrent.atomic.AtomicLong(0)
    val tsMaxReads = new java.util.concurrent.atomic.AtomicLong(0)
    val metaReads = new java.util.concurrent.atomic.AtomicLong(0)
    val counting = new Forward(LocalTableStore) {
      override def readString(p: String) = {
        if (p.endsWith("_ts_index")) tsIndexReads.incrementAndGet()
        if (p.endsWith("_ts_max")) tsMaxReads.incrementAndGet()
        if (p.endsWith("_META")) metaReads.incrementAndGet()
        super.readString(p)
      }
    }
    def measureOneCommit(): (Long, Long, Long) = {
      TableStore.set(counting)
      try {
        tsIndexReads.set(0); tsMaxReads.set(0); metaReads.set(0)
        VersionedTable.setInCommitTimestamps(spark, root)
        (tsIndexReads.get(), tsMaxReads.get(), metaReads.get())
      } finally TableStore.set(LocalTableStore)
    }
    def grow(n: Int): Unit =
      (0 until n).foreach { _ =>
        VersionedTable.setInCommitTimestamps(spark, root); ()
      }

    grow(25)
    val small = measureOneCommit()
    grow(50)
    val large = measureOneCommit()
    // the r15 cost was O(history) per stamped commit (full
    // effectiveCommitTs walk: every version's _SUCCESS probed, the
    // whole _ts_index parsed); now the stamp reads ONE _ts_max line
    assert(small._1 == 0L && large._1 == 0L,
      s"a stamped commit must not parse _ts_index, got $small / $large")
    assert(small._2 == 1L && large._2 == 1L,
      s"exactly one _ts_max read per stamped commit, got $small / $large")
    assert(small._3 == large._3 && small._3 <= 2L,
      s"_META reads per commit must not grow with history, got $small / $large")
    // history is intact and stamps strictly increase end to end
    val stamps = VersionedTable.publishedVersions(root)
      .flatMap(v => VersionedTable.versionMeta(root, v).get("commit_ts"))
      .map(_.toLong)
    assert(stamps.length >= 78)
    stamps.sliding(2).foreach { case Seq(a, b) => assert(a < b) }
    LocalTableStore.deleteTree(base)
  }

  test("store CAS contract: swapIfContentIs is a one-atom compare-and-move; createExclusive claims exactly once") {
    val s = LocalTableStore
    val r = tempDir("graft-cas").toString
    // claim: first caller wins, second reads false
    assert(s.createExclusive(s"$r/v00001.claim"))
    assert(!s.createExclusive(s"$r/v00001.claim"))
    // CAS against an absent pointer (None = must not exist)
    s.writeString(s"$r/ptr.tmp1", "v00001")
    assert(s.swapIfContentIs(s"$r/ptr.tmp1", s"$r/ptr", None))
    assert(s.readString(s"$r/ptr") == "v00001")
    // CAS with the right expectation swaps; tmp consumed
    s.writeString(s"$r/ptr.tmp2", "v00002")
    assert(s.swapIfContentIs(s"$r/ptr.tmp2", s"$r/ptr", Some("v00001")))
    assert(s.readString(s"$r/ptr") == "v00002" && !s.exists(s"$r/ptr.tmp2"))
    // CAS with a stale expectation refuses AND deletes the staged tmp
    s.writeString(s"$r/ptr.tmp3", "v00003")
    assert(!s.swapIfContentIs(s"$r/ptr.tmp3", s"$r/ptr", Some("v00001")))
    assert(s.readString(s"$r/ptr") == "v00002", "a refused CAS must not move the pointer")
    assert(!s.exists(s"$r/ptr.tmp3"), "a refused CAS must consume its staged tmp")
    // None-expectation against an existing pointer refuses
    s.writeString(s"$r/ptr.tmp4", "v00004")
    assert(!s.swapIfContentIs(s"$r/ptr.tmp4", s"$r/ptr", None))
    s.deleteTree(r)
  }

  test("cross-process fence: a foreign commit inside the swap window loses exactly one writer, never tears the table") {
    import spark.implicits._
    val base = tempDir("graft-xproc").toString
    val root = s"$base/t"
    Publish.publish(Seq((1, 1)).toDF("a", "b"), root) // v1
    // simulate a FOREIGN PROCESS committing between this JVM's version
    // allocation and its pointer swap: the injection fires inside the
    // commit critical section (where the in-JVM lock is already held,
    // so only raw store ops can model the other driver), claiming the
    // next number, landing a version dir with _SUCCESS and moving the
    // pointer — exactly what a second driver's publishLocked does
    val injected = new java.util.concurrent.atomic.AtomicBoolean(false)
    val foreign = new Forward(LocalTableStore) {
      override def writeString(p: String, c: String) = {
        if (p.contains("_CURRENT.tmp-") && injected.compareAndSet(false, true)) {
          val d = LocalTableStore
          assert(!d.createExclusive(s"$root/v00002.claim"),
            "the local writer must already hold the claim for its number")
          assert(d.createExclusive(s"$root/v00003.claim"))
          d.createDirectories(s"$root/v00003")
          d.createMarker(s"$root/v00003/_SUCCESS")
          d.writeString(s"$root/_CURRENT.tmp-foreign", "v00003")
          assert(d.swapIfContentIs(s"$root/_CURRENT.tmp-foreign",
            s"$root/_CURRENT", Some("v00001")))
          d.deleteIfExists(s"$root/v00003.claim")
          ()
        }
        super.writeString(p, c)
      }
    }
    TableStore.set(foreign)
    val conflict =
      try intercept[Publish.PublishConflict] {
        Publish.publish(Seq((2, 2)).toDF("a", "b"), root)
      } finally TableStore.set(LocalTableStore)
    assert(conflict.expectedHead.contains("v00001") &&
      conflict.foundHead.contains("v00003"))
    // the foreign winner IS the head; the local loser is tombstoned,
    // its number burned; nothing is torn
    assert(Publish.currentVersion(root).contains("v00003"))
    assert(LocalTableStore.exists(s"$root/v00002.failed"))
    assert(!LocalTableStore.isDirectory(s"$root/v00002"))
    // the next publish recovers cleanly past both numbers
    Publish.publish(Seq((3, 3)).toDF("a", "b"), root)
    assert(Publish.currentVersion(root).contains("v00004"))
    LocalTableStore.deleteTree(base)
  }

  test("foreign claim forces the next number: two processes can never write one version dir") {
    import spark.implicits._
    val base = tempDir("graft-claim").toString
    val root = s"$base/t"
    Publish.publish(Seq((1, 1)).toDF("a", "b"), root) // v1
    // a foreign process mid-commit holds the claim for v2 (and has
    // started writing its dir — torn, no _SUCCESS yet)
    assert(LocalTableStore.createExclusive(s"$root/v00002.claim"))
    LocalTableStore.createDirectories(s"$root/v00002")
    LocalTableStore.writeString(s"$root/v00002/part-half-written", "x")
    // this JVM's publish skips to v3 — the foreign dir is untouched
    val v = Publish.publish(Seq((2, 2)).toDF("a", "b"), root)
    assert(v == "v00003", s"a claimed number must be skipped, got $v")
    assert(Publish.currentVersion(root).contains("v00003"))
    assert(LocalTableStore.exists(s"$root/v00002/part-half-written"),
      "the foreign writer's in-flight dir must not be touched")
    assert(LocalTableStore.exists(s"$root/v00002.claim"),
      "the foreign claim is the foreign writer's to release")
    // a crashed foreign claim keeps its number burned forever
    Publish.publish(Seq((3, 3)).toDF("a", "b"), root)
    assert(Publish.currentVersion(root).contains("v00004"))
    LocalTableStore.deleteTree(base)
  }

  test("two-feed union custody (VERDICT r15 #4): apply refuses loudly; append stamps the min end and both spools drain at catch-up") {
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    def rows(ks: Long*) = ks.map(k => (k, k * 10)).toDF("k", "n")
    val spec = VersionedTable.Spec(Seq("n"), "k", 1 << 10)
    val base = tempDir("graft-2feed").toString
    val srcA = s"$base/a"
    val srcB = s"$base/b"
    val replica = s"$base/r"
    VersionedTable.create(spark, rows(1, 2), srcA, spec) // A v1
    VersionedTable.append(spark, rows(3), srcA, spec) // A v2
    VersionedTable.create(spark, rows(101, 102), srcB, spec) // B v1
    VersionedTable.append(spark, rows(103), srcB, spec) // B v2
    VersionedTable.append(spark, rows(104), srcB, spec) // B v3 — ahead of A
    def feed(src: String) = spark.readStream
      .format("graft.sources.FeedStreamProvider")
      .option("root", src).option("startingVersion", "snapshot").load()
    def drain(mode: String, chk: String): Unit = {
      val q = feed(srcA).unionByName(feed(srcB))
        .writeStream.format("graft.sources.TableSinkProvider")
        .option("root", replica).option("keyCol", "k").option("statCols", "n")
        .option("mode", mode)
        .option("checkpointLocation", chk)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    // apply mode: a union of two graft-feeds has NO single
    // source-version watermark — the sink must refuse, not silently
    // degrade to the batch counter
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drain("apply", s"$base/chk-apply")
    }
    assert(Option(ex.getCause).exists(_.getMessage.contains("graft-feed sources")),
      s"the refusal must name the multi-feed plan: ${ex.getCause}")
    assert(VersionedTable.headVersion(replica).isEmpty,
      "a refused apply must commit nothing")
    // append mode: min(endA=2, endB=3) is a conservative custody floor
    drain("append", s"$base/chk-append")
    assert(VersionedTable.read(spark, replica).count() == 7L)
    assert(VersionedTable.headMeta(replica, "applied_upto").contains("v00002"),
      s"min across feed ends expected, got " +
        s"${VersionedTable.headMeta(replica, "applied_upto")}")
    // vacuum with the replica registered: A (end 2 ≤ floor 2) drains
    // fully; B keeps its v3 snapshot spool (floor 2 < 3 — retained,
    // the safe direction)
    VersionedTable.vacuum(spark, srcA, keepLast = 10, consumers = Seq(replica))
    VersionedTable.vacuum(spark, srcB, keepLast = 10, consumers = Seq(replica))
    def spools(src: String): Seq[String] =
      LocalTableStore.listNames(s"$src/_stream").filter(_.startsWith("w_"))
    assert(spools(srcA).isEmpty, s"A caught up — spools must drain: ${spools(srcA)}")
    assert(spools(srcB).nonEmpty, "B is ahead of the min floor — its spool must survive")
    // A catches up to v3 → the floor advances to min(3,3)=3 and BOTH
    // sources' spools are reclaimed (the 'Done' shape)
    VersionedTable.append(spark, rows(4), srcA, spec) // A v3
    drain("append", s"$base/chk-append")
    assert(VersionedTable.headMeta(replica, "applied_upto").contains("v00003"))
    VersionedTable.vacuum(spark, srcA, keepLast = 10, consumers = Seq(replica))
    VersionedTable.vacuum(spark, srcB, keepLast = 10, consumers = Seq(replica))
    assert(spools(srcA).isEmpty && spools(srcB).isEmpty,
      s"both sources caught up — all spools drain: ${spools(srcA)} / ${spools(srcB)}")
    LocalTableStore.deleteTree(base)
  }

  test("commitBatch/readCommitted route through the TableStore facade (VERDICT r15 #5), replay-idempotent across spellings") {
    import spark.implicits._
    val base = tempDir("graft-eo-fac").toString
    val root = s"$base/out"
    val swaps = new java.util.concurrent.atomic.AtomicLong(0)
    val lists = new java.util.concurrent.atomic.AtomicLong(0)
    val counting = new Forward(LocalTableStore) {
      override def atomicSwap(t: String, p: String) = {
        if (p.endsWith("_COMMITTED")) swaps.incrementAndGet()
        super.atomicSwap(t, p)
      }
      override def listNames(p: String) = {
        lists.incrementAndGet(); super.listNames(p)
      }
    }
    TableStore.set(counting)
    try {
      val st = graft.streaming.StreamingStage
      assert(st.commitBatch(Seq((1, 1)).toDF("a", "b"), root, 0))
      // a replayed batchId is SKIPPED — even through another spelling
      assert(!st.commitBatch(Seq((9, 9)).toDF("a", "b"), root + "/", 0))
      assert(st.commitBatch(Seq((2, 2)).toDF("a", "b"), root, 1))
      assert(swaps.get() == 2L,
        s"each real commit is one marker swap THROUGH the facade, got ${swaps.get()}")
      val back = graft.streaming.StreamingStage.readCommitted(spark, root)
      assert(back.collect().map(_.getInt(0)).toSet == Set(2))
      assert(lists.get() >= 1L, "committed-batch resolution must route through the facade")
    } finally TableStore.set(LocalTableStore)
    LocalTableStore.deleteTree(base)
  }

  test("_ts_max advances past explicit stamps: a later auto-stamp never mints below history") {
    import spark.implicits._
    val base = tempDir("graft-icte").toString
    val root = s"$base/t"
    val spec = VersionedTable.Spec(Seq("n"), "k", 1 << 10)
    VersionedTable.create(spark,
      (0L until 8L).map(i => (i, i)).toDF("k", "n"), root, spec)
    VersionedTable.setInCommitTimestamps(spark, root) // seeds _ts_max
    // an explicit (clock-skewed) stamp far ahead of wallclock
    val skew = System.currentTimeMillis() + 86400000L
    VersionedTable.append(spark,
      (8L until 12L).map(i => (i, i)).toDF("k", "n"), root, spec,
      extraMeta = Map("commit_ts" -> skew.toString))
    // the next AUTO stamp must land strictly after the explicit one
    VersionedTable.setInCommitTimestamps(spark, root)
    val stamps = VersionedTable.publishedVersions(root)
      .flatMap(v => VersionedTable.versionMeta(root, v).get("commit_ts"))
      .map(_.toLong)
    stamps.sliding(2).foreach { case Seq(a, b) =>
      assert(a < b, s"auto-stamp after an explicit skewed stamp regressed: $stamps")
    }
    assert(stamps.last > skew)
    LocalTableStore.deleteTree(base)
  }
}
