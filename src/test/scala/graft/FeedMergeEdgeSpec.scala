package graft

import graft.operators.{Footers, TableStore, VersionedTable}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}

/** Change-feed and merge results that the probe-free planning must keep:
  *
  *  - a feed segment takes its DV delta from the common files whose
  *    `dv_path` changed. A file repointed at a new sidecar whose vector
  *    for it is unchanged emits no row, across a plain window, one that
  *    spans `compactDeletes`, and a `restore`'s two-way CDC;
  *  - a merge takes its emptiness from its own writes. A no-op,
  *    delete-only or insert-only merge keeps its verb, head content and
  *    feed, and leaves no data generation (`g-*`) or DV sidecar (`dv-*`)
  *    directory that no published version names.
  */
class FeedMergeEdgeSpec extends SparkSpec {

  private val spec = VersionedTable.Spec(Seq("n"), "id", 1 << 12)

  /** ids 0-199 with n = id % 10 over four files: ids 0-49, 50-99,
    * 100-149 and 150-199.
    */
  private def table(): String = {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-feed-edge").toString + "/t"
    VersionedTable.create(spark, (0L until 200L).map(i => (i, i % 10)).toDF("id", "n"),
      root, spec, layout = _.repartitionByRange(4, col("id")).sortWithinPartitions("id"))
    root
  }

  private def ids(xs: Long*): DataFrame = {
    import spark.implicits._
    xs.toDF("id")
  }

  /** A feed as (change_type, id, n) triples, sorted. */
  private def feed(root: String, from: String, to: String): Seq[(String, Long, Long)] = {
    import spark.implicits._
    VersionedTable.changeFeed(spark, root, from, to)
      .select(col("change_type"), col("id"), col("n")).as[(String, Long, Long)]
      .collect().toSeq.sorted
  }

  private def deletes(xs: Long*) = xs.map(i => ("delete", i, i % 10)).sorted

  /** The `dv_path` version `v` gives the file holding `id`. */
  private def dvPathOf(root: String, v: String, id: Long): Option[String] = {
    val entries = Footers.entriesOf(spark, s"$root/manifest/$v")
    val file = spark.read.parquet(entries.map(_._1).toSeq: _*).filter(col("id") === id)
      .select(col("_metadata.file_path")).head().getString(0)
    entries.find(_._1 == file).get._2
  }

  test("two DV deletes on different files: the repointed first file emits no phantom row") {
    val root = table()
    val v2 = VersionedTable.deleteRosterDV(spark, root, spec, ids(3, 4))
    val v3 = VersionedTable.deleteRosterDV(spark, root, spec, ids(60))
    // the second delete repoints the first file at its own sidecar,
    // whose vector for that file is the first delete's
    assert(dvPathOf(root, v2, 3).isDefined && dvPathOf(root, v3, 3).isDefined &&
      dvPathOf(root, v2, 3) != dvPathOf(root, v3, 3))
    assert(feed(root, "v00001", v3) == deletes(3, 4, 60))
    assert(feed(root, v2, v3) == deletes(60))
    assert(feed(root, "v00001", v2) == deletes(3, 4))
  }

  test("a window spanning compactDeletes emits each DV delete once") {
    val root = table()
    val v2 = VersionedTable.deleteRosterDV(spark, root, spec, ids(3, 120))
    val v3 = VersionedTable.compactDeletes(spark, root, spec)
    assert(VersionedTable.versionMeta(root, v3)("verb") == "compact-dv")
    val v4 = VersionedTable.deleteRosterDV(spark, root, spec, ids(70, 121))
    assert(feed(root, "v00001", v4) == deletes(3, 70, 120, 121))
    assert(feed(root, v2, v4) == deletes(70, 121))
    assert(feed(root, v3, v4) == deletes(70, 121))
    assert(feed(root, v2, v3).isEmpty)
  }

  test("restore to before a DV delete emits the un-deleted rows as inserts, and no phantom") {
    val root = table()
    val v2 = VersionedTable.deleteRosterDV(spark, root, spec, ids(3, 4))
    val v3 = VersionedTable.deleteRosterDV(spark, root, spec, ids(60))
    // back to v2: the first file returns to its old sidecar with the
    // same vector, the second file's delete is undone
    val v4 = VersionedTable.restore(spark, root, v2)
    assert(VersionedTable.versionMeta(root, v4).contains("cdc_path"))
    assert(feed(root, v3, v4) == Seq(("insert", 60L, 0L)))
    // back to before every delete
    val v5 = VersionedTable.restore(spark, root, "v00001")
    assert(feed(root, v4, v5) == Seq(("insert", 3L, 3L), ("insert", 4L, 4L)))
    assert(VersionedTable.read(spark, root).count() == 200L)
  }

  /** Every `g-*` and `dv-*` directory under `files/` that no published
    * version's entries name.
    */
  private def orphans(root: String): Set[String] = {
    val named = VersionedTable.publishedVersions(root).flatMap { v =>
      Footers.entriesOf(spark, s"$root/manifest/$v").flatMap { case (f, dv) =>
        Seq(f.stripPrefix("file:").split('/').dropRight(1).mkString("/")) ++
          dv.map(_.stripPrefix("file:"))
      }
    }.map(_.split('/').last).toSet
    TableStore.get.listNames(s"$root/files")
      .filter(n => n.startsWith("g-") || n.startsWith("dv-")).toSet -- named
  }

  private def rows(root: String, v: String): Set[(Long, Long)] = {
    import spark.implicits._
    VersionedTable.readVersion(spark, root, v).select("id", "n").as[(Long, Long)]
      .collect().toSet
  }

  private def source(xs: Seq[Long], n: Long): DataFrame = {
    import spark.implicits._
    xs.map(i => (i, n)).toDF("id", "n")
  }

  test("no-op merges publish merge-noop, keep the head content and leave no directory") {
    val root = table()
    val before = rows(root, "v00001")
    // no source key matches
    val v2 = VersionedTable.merge(spark, root, spec, source(1000L until 1005L, 7L),
      matchedUpdate = Map("n" -> col("src_n")), insertNotMatched = false)
    // keys match, but no clause claims a row
    val v3 = VersionedTable.merge(spark, root, spec, source(5L until 10L, 7L),
      matchedUpdate = Map("n" -> col("src_n")), matchedUpdateCond = Some(lit(false)),
      insertNotMatched = false)
    Seq(v2, v3).foreach { v =>
      assert(VersionedTable.versionMeta(root, v)("verb") == "merge-noop", v)
      assert(rows(root, v) == before, v)
    }
    assert(feed(root, "v00001", v3).isEmpty)
    assert(orphans(root).isEmpty, s"orphan directories: ${orphans(root)}")
  }

  test("a delete-only merge vectors exactly its rows and writes no generation") {
    val root = table()
    val v2 = VersionedTable.merge(spark, root, spec, source(5L until 10L, 7L),
      matchedDeleteCond = Some(lit(true)), insertNotMatched = false)
    val meta = VersionedTable.versionMeta(root, v2)
    assert(meta("verb") == "merge" && meta("n_holders").toInt >= 1, meta)
    assert(rows(root, v2) == rows(root, "v00001").filterNot(r => r._1 >= 5L && r._1 < 10L))
    assert(feed(root, "v00001", v2) == deletes(5L until 10L: _*))
    assert(orphans(root).isEmpty, s"orphan directories: ${orphans(root)}")
    // the create's generation is the only one
    assert(TableStore.get.listNames(s"$root/files").count(_.startsWith("g-")) == 1,
      "the merge wrote a generation")
  }

  test("a DV delete whose bloom-probed holders hold no roster key leaves no sidecar") {
    // a 64-bit bitmap is near full, so every file probes as a holder
    val narrow = spec.copy(mBits = 64)
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-feed-edge").toString + "/t"
    VersionedTable.create(spark, (0L until 200L).map(i => (i, i % 10)).toDF("id", "n"),
      root, narrow, layout = _.repartitionByRange(4, col("id")))
    val v2 = VersionedTable.deleteRosterDV(spark, root, narrow, ids(1000L until 1005L: _*))
    val meta = VersionedTable.versionMeta(root, v2)
    assert(meta("verb") == "delete-dv" && meta("n_holders").toInt >= 1, meta)
    assert(rows(root, v2) == rows(root, "v00001"))
    assert(feed(root, "v00001", v2).isEmpty)
    assert(!TableStore.get.listNames(s"$root/files").exists(_.startsWith("dv-")),
      "the delete wrote a DV sidecar")
    assert(orphans(root).isEmpty, s"orphan directories: ${orphans(root)}")
  }

  test("an insert-only merge appends exactly its rows and writes no DV sidecar") {
    val root = table()
    val v2 = VersionedTable.merge(spark, root, spec, source(1000L until 1005L, 7L))
    assert(VersionedTable.versionMeta(root, v2)("verb") == "merge")
    assert(rows(root, v2) == rows(root, "v00001") ++ (1000L until 1005L).map(i => (i, 7L)))
    assert(feed(root, "v00001", v2) == (1000L until 1005L).map(i => ("insert", i, 7L)))
    assert(!TableStore.get.listNames(s"$root/files").exists(_.startsWith("dv-")),
      "the merge wrote a DV sidecar")
    assert(orphans(root).isEmpty, s"orphan directories: ${orphans(root)}")
  }
}
