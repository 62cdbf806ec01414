package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{BucketTransform, DayTransform, HourTransform,
  PartitionTransform, Publish, TruncateTransform, VersionedTable}

/** Hidden partitioning + partition-spec evolution: the claims the
  * `layout_hidden_partition` / `layout_partition_evolution` hash
  * gates can't state — exact file-level pruning counts, the NULL-keep
  * evolution contract, transform inheritance through unrelated
  * commits, and the refusal/skip edges.
  */
class HiddenPartitionSpec extends SparkSpec {

  private val spec = VersionedTable.Spec(Seq("k"), "k", 1 << 13)
  private val bucket = BucketTransform(8, "k")

  private def rows(lo: Long, hi: Long): DataFrame = {
    import spark.implicits._
    (lo until hi).map(i => (i, s"v$i")).toDF("k", "v")
  }

  test("bucket point lookup prunes to ~1/N of the files; result equals the exact filter") {
    val root = tempDir("graft-hp").toString
    VersionedTable.create(spark, rows(0, 800), root, spec,
      layout = PartitionTransform.clusterLayout(8, Seq(bucket)),
      transforms = Seq(bucket))
    val total = VersionedTable.manifest(spark, root).count()
    val hit = VersionedTable.partitionSurvivorFiles(spark, root, "k", 123L)
    assert(hit.length < total,
      s"bucket(8) lookup must prune (kept ${hit.length} of $total files)")
    // correctness: pruned read + exact predicate ≡ full read + predicate
    val pruned = VersionedTable.partitionPrunedRead(spark, root, "k", 123L)
      .filter(col("k") === 123L).collect()
    assert(pruned.map(_.getLong(0)).toSeq == Seq(123L))
    // superset contract: every k=123 row lives in a surviving file
    val full = VersionedTable.read(spark, root).filter(col("k") === 123L).count()
    assert(full == 1L)
  }

  test("clusterLayout keeps per-file bucket stats tight (contiguous narrow spans)") {
    val root = tempDir("graft-hp-t").toString
    VersionedTable.create(spark, rows(0, 800), root, spec,
      layout = PartitionTransform.clusterLayout(8, Seq(bucket)),
      transforms = Seq(bucket))
    // range clustering: each file covers a contiguous slice of the 8
    // bucket values — spans of ≤1 guarantee any point probe keeps at
    // most 2 of the 8 files
    val loose = VersionedTable.manifest(spark, root)
      .filter(col(s"max_${bucket.statName}") - col(s"min_${bucket.statName}") > 1)
      .count()
    assert(loose == 0L, s"$loose files span more than two buckets")
  }

  test("partition-spec evolution: old generations survive unpruned (NULL-keep), new ones prune") {
    val root = tempDir("graft-hp-e").toString
    // v1: no partitioning at all
    VersionedTable.create(spark, rows(0, 400), root, spec,
      layout = _.repartition(4))
    val oldFiles = VersionedTable.manifest(spark, root)
      .select("file").collect().map(_.getString(0)).toSet
    // v2: declare bucket(8, k) — zero-rewrite property commit
    VersionedTable.evolvePartitioning(spark, root, Seq(bucket))
    assert(VersionedTable.activeTransforms(root).map(_.serial) ==
      Seq(bucket.serial))
    // evolution alone adds no stat columns yet: pruning keeps all
    val pre = VersionedTable.partitionSurvivorFiles(spark, root, "k", 7L)
    assert(pre.toSet == oldFiles, "no post-evolution data yet — nothing prunes")
    // v3: new batch lands WITH transform stats
    VersionedTable.append(spark, rows(400, 800), root, spec,
      layout = PartitionTransform.clusterLayout(8, Seq(bucket)))
    val survivors = VersionedTable.partitionSurvivorFiles(spark, root, "k", 555L)
      .toSet
    // every pre-evolution file is KEPT (its stats are NULL — pruning
    // it would lose rows); at least one post-evolution file pruned
    assert(oldFiles.subsetOf(survivors), "a NULL-stat file must never prune")
    val newFiles = VersionedTable.manifest(spark, root)
      .select("file").collect().map(_.getString(0)).toSet -- oldFiles
    assert((survivors -- oldFiles).size < newFiles.size,
      "post-evolution files must prune")
    // correctness across the mixed manifest
    val got = VersionedTable.partitionPrunedRead(spark, root, "k", 555L)
      .filter(col("k") === 555L).count()
    assert(got == 1L)
    val got2 = VersionedTable.partitionPrunedRead(spark, root, "k", 7L)
      .filter(col("k") === 7L).count()
    assert(got2 == 1L, "a pre-evolution row must still be findable")
  }

  test("the ptspec rides every commit; re-evolution replaces it") {
    val root = tempDir("graft-hp-i").toString
    VersionedTable.create(spark, rows(0, 100), root, spec,
      transforms = Seq(bucket))
    // unrelated commits inherit the spec
    VersionedTable.setConstraint(spark, root, "k_pos", "k >= 0")
    VersionedTable.append(spark, rows(100, 200), root, spec)
    assert(VersionedTable.activeTransforms(root).map(_.serial) ==
      Seq(bucket.serial))
    // re-evolution REPLACES (stale ptspec keys dropped, not merged)
    val t2 = TruncateTransform(50, "k")
    VersionedTable.evolvePartitioning(spark, root, Seq(t2))
    assert(VersionedTable.activeTransforms(root).map(_.serial) ==
      Seq(t2.serial))
  }

  test("order-preserving band read prunes through truncate; bucket is skipped for ranges") {
    val root = tempDir("graft-hp-b").toString
    val t = TruncateTransform(100, "k")
    VersionedTable.create(spark, rows(0, 800), root, spec,
      layout = PartitionTransform.clusterLayout(8, Seq(t)),
      transforms = Seq(t, bucket))
    val full = VersionedTable.manifest(spark, root).count()
    val banded = VersionedTable.partitionPrunedBandRead(spark, root, "k", 150L, 249L)
    val exact = banded.filter(col("k").between(150L, 249L))
      .agg(count(lit(1)), sum(col("k"))).head
    assert(exact.getLong(0) == 100L && exact.getLong(1) == (150L to 249L).sum)
    // the band genuinely pruned: read fewer files than the manifest lists
    val kept = banded.select(input_file_name()).distinct().count()
    assert(kept < full, s"band read kept $kept of $full files")
  }

  test("day transform: a raw-timestamp band maps to day bins in-plan") {
    import spark.implicits._
    val root = tempDir("graft-hp-d").toString
    val d = DayTransform("ts")
    val df = (0L until 96L).map(h =>
      (h, java.sql.Timestamp.valueOf(f"2024-03-${1 + h / 24}%02d ${h % 24}%02d:30:00")))
      .toDF("k", "ts")
    VersionedTable.create(spark, df, root, spec,
      layout = _.repartitionByRange(4, to_date(col("ts"))),
      transforms = Seq(d))
    val total = VersionedTable.manifest(spark, root).count()
    assert(total >= 2L, s"fixture must span files, got $total")
    val got = VersionedTable.partitionPrunedBandRead(spark, root, "ts",
        "2024-03-02 00:00:00", "2024-03-02 23:59:59")
      .filter(col("ts").between(lit("2024-03-02 00:00:00"), lit("2024-03-02 23:59:59")))
    assert(got.count() == 24L)
    val kept = got.select(input_file_name()).distinct().count()
    assert(kept < total, s"day band must prune, kept $kept of $total files")
  }

  test("refusals and skips: no transform on the column; batch omitting the source column") {
    import spark.implicits._
    val root = tempDir("graft-hp-r").toString
    val tn = TruncateTransform(100, "n")
    VersionedTable.create(spark,
      (0L until 100L).map(i => (i, i * 3)).toDF("k", "n"), root, spec,
      layout = PartitionTransform.clusterLayout(4, Seq(tn)),
      transforms = Seq(tn))
    val e = intercept[IllegalArgumentException] {
      VersionedTable.partitionPrunedRead(spark, root, "k", 3L)
    }
    assert(e.getMessage.contains("no partition transform"))
    // a batch omitting the transform's (non-key) source column still
    // commits: its stats are NULL and its file never prunes
    VersionedTable.append(spark,
      (100L until 110L).map(i => Tuple1(i)).toDF("k"), root, spec)
    val m = VersionedTable.manifest(spark, root)
    val nullStat = m.filter(col(s"min_${tn.statName}").isNull).count()
    assert(nullStat >= 1L, "the omitted-column batch must carry NULL pt stats")
    val survivors = VersionedTable.partitionSurvivorFiles(spark, root, "n", 150L)
      .toSet
    val nullFiles = m.filter(col(s"min_${tn.statName}").isNull)
      .select("file").collect().map(_.getString(0)).toSet
    assert(nullFiles.subsetOf(survivors), "NULL-stat files always survive")
    assert(survivors.size.toLong < m.count(), "typed files still prune")
  }

  test("pruning survives a logical rename of the source column") {
    val root = tempDir("graft-hp-n").toString
    val t = TruncateTransform(100, "n")
    val spec2 = VersionedTable.Spec(Seq("n"), "k", 1 << 13)
    import spark.implicits._
    VersionedTable.create(spark,
      (0L until 400L).map(i => (i, i * 2)).toDF("k", "n"), root, spec2,
      layout = PartitionTransform.clusterLayout(4, Seq(t)),
      transforms = Seq(t))
    VersionedTable.renameColumn(spark, root, spec2, "n", "n_chars")
    val total = VersionedTable.manifest(spark, root).count()
    val got = VersionedTable.partitionPrunedBandRead(spark, root, "n_chars", 100L, 199L)
      .filter(col("n_chars").between(100L, 199L))
    assert(got.count() == 50L)
    assert(got.select(input_file_name()).distinct().count() < total)
  }

  test("a change-feed window spanning evolve-partitioning segments (content-identical)") {
    val root = tempDir("graft-hp-f").toString
    val v1 = VersionedTable.create(spark, rows(0, 100), root, spec)
    VersionedTable.evolvePartitioning(spark, root, Seq(bucket))
    val v3 = VersionedTable.append(spark, rows(100, 150), root, spec,
      PartitionTransform.clusterLayout(8, Seq(bucket)))
    val feed = VersionedTable.changeFeed(spark, root, v1, v3)
    assert(feed.filter(col("change_type") === "insert").count() == 50L)
    assert(feed.filter(col("change_type") === "delete").count() == 0L)
  }

  test("pruned read PLANS exactly the survivor file set (inputFiles)") {
    val root = tempDir("graft-hp-pf").toString
    VersionedTable.create(spark, rows(0, 800), root, spec,
      layout = PartitionTransform.clusterLayout(8, Seq(bucket)),
      transforms = Seq(bucket))
    def norm(f: String) = f.replaceFirst("^file:/+", "/")
    val survivors = VersionedTable.partitionSurvivorFiles(spark, root, "k", 42L)
      .map(norm).toSet
    val planned = VersionedTable.partitionPrunedRead(spark, root, "k", 42L)
      .inputFiles.map(norm).toSet
    assert(planned == survivors,
      s"the scan must list exactly the survivors: planned ${planned.size}, " +
        s"survivors ${survivors.size}")
    val all = VersionedTable.read(spark, root).inputFiles.map(norm).toSet
    assert(planned.subsetOf(all) && planned.size < all.size)
  }

  test("serial round-trips") {
    Seq(BucketTransform(16, "doc_id"), TruncateTransform(1000, "n_chars"),
        DayTransform("ts"), HourTransform("ts")).foreach { t =>
      assert(PartitionTransform.parse(t.serial) == t)
    }
    intercept[IllegalArgumentException] { PartitionTransform.parse("week:ts") }
  }

  test("roster lookup: union of point prunes in one manifest filter; exact; bounded") {
    val root = tempDir("graft-hp-ro").toString
    VersionedTable.create(spark, rows(0, 800), root, spec,
      layout = PartitionTransform.clusterLayout(8, Seq(bucket)),
      transforms = Seq(bucket))
    val roster = Seq[Any](3L, 400L, 777L)
    val got = VersionedTable.partitionPrunedIn(spark, root, "k", roster)
      .filter(col("k").isin(roster: _*))
    assert(got.select("k").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(3L, 400L, 777L))
    val total = VersionedTable.manifest(spark, root).count()
    val kept = VersionedTable.partitionPrunedIn(spark, root, "k", roster)
      .select(input_file_name()).distinct().count()
    assert(kept < total, s"roster prune kept $kept of $total")
    intercept[IllegalArgumentException] {
      VersionedTable.partitionPrunedIn(spark, root, "k", Seq.empty)
    }
    intercept[IllegalArgumentException] {
      VersionedTable.partitionPrunedIn(spark, root, "k", (0L until 1001L))
    }
  }

  test("guards: unknown-column transforms refused; evolution accepts logical names post-rename; transform source can't drop") {
    import spark.implicits._
    val root = tempDir("graft-hp-g").toString
    // n is ONLY a transform source (not a stat/key column) so the
    // transform-source drop guard is the one that fires
    val spec2 = VersionedTable.Spec(Seq("k"), "k", 1 << 13)
    intercept[IllegalArgumentException] {
      VersionedTable.create(spark, rows(0, 10), root, spec,
        transforms = Seq(BucketTransform(8, "nope")))
    }
    VersionedTable.create(spark,
      (0L until 400L).map(i => (i, i * 2)).toDF("k", "n"), root, spec2)
    intercept[IllegalArgumentException] {
      VersionedTable.evolvePartitioning(spark, root,
        Seq(TruncateTransform(100, "nope")))
    }
    // rename n -> n_chars, then declare the transform by its LOGICAL
    // name: the spec must store the physical name so stats appear
    VersionedTable.renameColumn(spark, root, spec2, "n", "n_chars")
    VersionedTable.evolvePartitioning(spark, root,
      Seq(TruncateTransform(100, "n_chars")))
    assert(VersionedTable.activeTransforms(root).head.srcCol == "n",
      "the stored spec must carry the stable physical name")
    VersionedTable.append(spark,
      (400L until 500L).map(i => (i, i * 2)).toDF("k", "n_chars"), root, spec2,
      PartitionTransform.clusterLayout(4, Seq(TruncateTransform(100, "n"))))
    val got = VersionedTable.partitionPrunedBandRead(spark, root,
        "n_chars", 800L, 899L)
      .filter(col("n_chars").between(800L, 899L))
    assert(got.count() == 50L)
    // dropping the transform's source column is refused
    val e = intercept[IllegalArgumentException] {
      VersionedTable.dropColumn(spark, root, spec2, "n_chars")
    }
    assert(e.getMessage.contains("partition-transform source"))
  }

  test("hour transform: epoch-hour bins prune a raw-timestamp band across days") {
    import spark.implicits._
    val root = tempDir("graft-hp-h").toString
    val h = HourTransform("ts")
    val df = (0L until 96L).map(x =>
      (x, java.sql.Timestamp.valueOf(f"2024-03-${1 + x / 24}%02d ${x % 24}%02d:30:00")))
      .toDF("k", "ts")
    VersionedTable.create(spark, df, root, spec,
      layout = PartitionTransform.clusterLayout(8, Seq(h)),
      transforms = Seq(h))
    val total = VersionedTable.manifest(spark, root).count()
    val got = VersionedTable.partitionPrunedBandRead(spark, root, "ts",
        "2024-03-02 10:00:00", "2024-03-02 13:59:59")
      .filter(col("ts").between(lit("2024-03-02 10:00:00"), lit("2024-03-02 13:59:59")))
    assert(got.count() == 4L)
    assert(got.select(input_file_name()).distinct().count() < total)
  }

  test("streaming ingest into a partitioned table: micro-batch files carry pt stats and prune") {
    import spark.implicits._
    val root = tempDir("graft-hp-si").toString
    VersionedTable.create(spark, rows(0, 100), root, spec,
      layout = PartitionTransform.clusterLayout(8, Seq(bucket)),
      transforms = Seq(bucket))
    // two idempotent micro-batch appends through the streaming sink,
    // clustered by the caller-passed layout (the Iceberg fan-out
    // writer posture: the sink clusters, the table meta declares)
    val cl = PartitionTransform.clusterLayout(8, Seq(bucket))
    assert(graft.streaming.StreamingStage.appendVersionedTable(
      rows(100, 200), root, spec, batchId = 1L, layout = cl))
    assert(!graft.streaming.StreamingStage.appendVersionedTable(
      rows(100, 200), root, spec, batchId = 1L, layout = cl),
      "a redelivered batchId must no-op")
    val m = VersionedTable.manifest(spark, root)
    assert(m.filter(col(s"min_${bucket.statName}").isNull).count() == 0L,
      "every streaming generation must carry transform stats")
    val survivors = VersionedTable.partitionSurvivorFiles(spark, root, "k", 150L)
    assert(survivors.length < m.count(),
      "the streaming batch must prune like any other generation")
    assert(VersionedTable.partitionPrunedRead(spark, root, "k", 150L)
      .filter(col("k") === 150L).count() == 1L)
  }

  // ---- joinPrunedRead: runtime file pruning from a join ----

  test("joinPrunedRead: dim band + images + bloom prune files; joined result is exact") {
    import spark.implicits._
    val root = tempDir("graft-jp").toString
    val t = TruncateTransform(100, "k")
    VersionedTable.create(spark, rows(0, 800), root, spec,
      layout = PartitionTransform.clusterLayout(16, Seq(t)),
      transforms = Seq(t))
    val total = VersionedTable.manifest(spark, root).count()
    val dim = Seq((310L, "a"), (355L, "b"), (390L, "c"))
      .toDF("dk", "payload")
    val pruned = VersionedTable.joinPrunedRead(spark, root, "k", dim, "dk",
      bloomSpec = Some(spec))
    assert(pruned.select(input_file_name()).distinct().count() < total,
      "a one-bin dim must not read the whole table")
    val joined = pruned.join(dim, pruned("k") === dim("dk"))
    assert(joined.count() == 3L)
    assert(joined.select("v").as[String].collect().sorted
      .sameElements(Array("v310", "v355", "v390")))
  }

  test("joinPrunedRead: NULL-stat evolution files survive the prune (superset contract)") {
    import spark.implicits._
    val root = tempDir("graft-jp-ev").toString
    // generation 0 predates the transform: its manifest rows carry
    // NULL transform stats and must survive every image prune
    VersionedTable.create(spark, rows(0, 400), root, spec)
    VersionedTable.evolvePartitioning(spark, root, Seq(TruncateTransform(100, "k")))
    VersionedTable.append(spark, rows(400, 800), root, spec,
      PartitionTransform.clusterLayout(8, Seq(TruncateTransform(100, "k"))))
    val dim = Seq(120L, 450L).toDF("dk")
    val got = VersionedTable.joinPrunedRead(spark, root, "k", dim, "dk")
      .join(dim, col("k") === col("dk"))
    assert(got.count() == 2L,
      "a pre-evolution row must not be pruned away by missing transform stats")
  }

  test("joinPrunedRead: an INT dim key probes a LONG fact column without missing rows") {
    import spark.implicits._
    val root = tempDir("graft-jp-ty").toString
    VersionedTable.create(spark, rows(0, 800), root, spec,
      layout = PartitionTransform.clusterLayout(8, Seq(bucket)),
      transforms = Seq(bucket))
    val dim = Seq(123, 456).toDF("dk") // Int, fact column is Long
    val got = VersionedTable.joinPrunedRead(spark, root, "k", dim, "dk",
      bloomSpec = Some(spec))
      .join(dim, col("k") === col("dk").cast("long"))
    assert(got.count() == 2L,
      "the probe must cast to the fact column's type before imaging/hashing")
  }

  test("joinPrunedRead refusals: empty dim; bloom key mismatch") {
    import spark.implicits._
    val root = tempDir("graft-jp-rf").toString
    VersionedTable.create(spark, rows(0, 100), root, spec)
    val e1 = intercept[IllegalArgumentException] {
      VersionedTable.joinPrunedRead(spark, root, "k",
        Seq.empty[Long].toDF("dk"), "dk")
    }
    assert(e1.getMessage.contains("no join keys"))
    val e2 = intercept[IllegalArgumentException] {
      VersionedTable.joinPrunedRead(spark, root, "v",
        Seq("v1").toDF("dk"), "dk",
        bloomSpec = Some(spec)) // bloom key is "k", join column is "v"
    }
    assert(e2.getMessage.contains("not join column"))
  }

  // ---- no surviving file: every pruned read answers an empty frame ----

  test("pruned reads that keep no file return an empty frame under the head's logical schema") {
    import spark.implicits._
    val root = tempDir("graft-hp-none").toString
    val t = TruncateTransform(100, "k")
    // even keys only: the odd keys inside the domain are absent, so the
    // bloom is the layer that drops their files
    VersionedTable.create(spark, (0L until 800L by 2L).map(i => (i, s"v$i")).toDF("k", "v"),
      root, spec, layout = PartitionTransform.clusterLayout(8, Seq(t)), transforms = Seq(t))
    VersionedTable.renameColumn(spark, root, spec, "v", "w")
    val head = VersionedTable.read(spark, root).schema.map(f => (f.name, f.dataType))
    val reads: Seq[(String, () => DataFrame)] = Seq(
      "prunedRead" -> (() => VersionedTable.prunedRead(spark, root, "k", 5000L, 6000L)),
      "prunedReadBands" -> (() => VersionedTable.prunedReadBands(spark, root,
        Seq(("k", 0L, 10L), ("k", 5000L, 6000L)))),
      "partitionPrunedRead" -> (() => VersionedTable.partitionPrunedRead(spark, root, "k", 5000L)),
      "partitionPrunedBandRead" -> (() =>
        VersionedTable.partitionPrunedBandRead(spark, root, "k", 5000L, 6000L)),
      "partitionPrunedIn" -> (() =>
        VersionedTable.partitionPrunedIn(spark, root, "k", Seq(5000L, 7000L))),
      "joinPrunedRead, keys past the band" -> (() => VersionedTable.joinPrunedRead(
        spark, root, "k", Seq(5000L).toDF("dk"), "dk")),
      "joinPrunedRead, absent bloom keys" -> (() => VersionedTable.joinPrunedRead(
        spark, root, "k", Seq(301L, 303L).toDF("dk"), "dk", bloomSpec = Some(spec))))
    reads.foreach { case (name, read) =>
      val got = read()
      assert(got.inputFiles.isEmpty, s"$name kept files: ${got.inputFiles.toSeq}")
      assert(got.count() == 0L, name)
      assert(got.schema.map(f => (f.name, f.dataType)) == head, name)
    }
  }
}
