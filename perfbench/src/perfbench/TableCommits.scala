package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum}
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}

import graft.operators.{TableStore, VersionedTable}
import graft.operators.VersionedTable.Spec

/** One versioned table under a steady mix of small commits and reads.
  * Round r runs, in this order: append, snapshot read, keyed upsert,
  * pruned point read, delete, change-feed read (of the delete), updateWhere,
  * as-of read, compaction, vacuum. Even rounds use the copy-on-write
  * family (merge, deleteRoster, optimizeCompact), odd rounds the
  * merge-on-read family (upsertDV, deleteRosterDV, compactDeletes), so a
  * run's cold and steady round together run every verb; the counted
  * figures span every round for that reason (see README). Every batch is
  * the generator's round-r batch, so the checker can replay the same
  * sequence on its own keyed model.
  *
  * Before the first round and after each round a full refresh runs on a
  * second root: drop the tree, create a table with other rows and columns
  * at the same path, read it. It is kept outside every timed and counted
  * figure (see README).
  */
final class TableCommits(spark: SparkSession, ledger: Ledger, in: String, work: String)
    extends Workload {

  private var root = s"$work/table"
  private val refreshRoot = s"$work/refresh"
  private val spec = Spec(statCols = Seq("id", "grp"), keyCol = "id", mBits = 1 << 14)
  private val keepLast = 16
  private val compactBytes = 256L * 1024

  private val batches = mutable.Map[(String, Int), Seq[Row]]()
  private val schema = StructType(Seq(StructField("id", LongType), StructField("grp", IntegerType),
    StructField("val", LongType), StructField("tag", StringType)))
  private var updateGroups: IndexedSeq[Int] = IndexedSeq.empty
  private val log = mutable.ArrayBuffer[Map[String, Any]]()
  private val roundEnd = mutable.ArrayBuffer[String]()

  private def batch(kind: String, r: Int): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(batches((kind, r)): _*), schema)

  private def record(r: Int, op: String, version: String, extra: (String, Any)*): Unit =
    log += (Map("round" -> r, "op" -> op, "version" -> version) ++ extra)

  override def maxPasses: Int = updateGroups.size

  /** Every attempt loads the batches and creates the base table at a
    * root of its own; the last attempt's root is the workload's table.
    */
  override def setup(k: Int): Unit = {
    batches.clear()
    log.clear()
    scala.io.Source.fromFile(s"$in/batches.tsv").getLines().map(_.split("\t")).toSeq
      .groupBy(f => (f(0), f(1).toInt)).foreach { case (key, rows) =>
        batches(key) = rows.map(f => Row(f(2).toLong, f(3).toInt, f(4).toLong, f(5)))
      }
    val rounds = scala.io.Source.fromFile(s"$in/rounds.json").mkString
    updateGroups = "\\d+".r.findAllIn(rounds.substring(rounds.indexOf('['))).map(_.toInt).toIndexedSeq
    root = s"$work/table$k"
    val v = VersionedTable.create(spark, spark.read.parquet(s"$in/base.parquet"), root, spec)
    record(-1, "create", v)
  }

  private def totals(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), sum(col("val"))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  def pass(r: Int): Unit = {
    def commit(verb: String, op: String)(f: => String): String = {
      val v = ledger.op(s"table.$verb", "commit")(f)
      record(r, op, v)
      v
    }
    def read[T](kind: String)(f: => T): T = ledger.op(s"table.read.$kind", "read")(f)
    commit("append", "append")(VersionedTable.append(spark, batch("append", r), root, spec))
    val snap = read("snapshot") {
      val df = VersionedTable.read(spark, root)
      if (ledger.traced) ledger.note("table.read.snapshot.files", df.inputFiles.length)
      totals(df)
    }
    record(r, "read_snapshot", null, "count" -> snap._1, "sum" -> snap._2)
    val afterUpsert =
      if (r % 2 == 0) commit("merge", "merge")(VersionedTable.merge(spark, root, spec,
        batch("upsert", r), matchedUpdate = Map("val" -> col("src_val"), "tag" -> col("src_tag"))))
      else commit("upsert", "upsert")(VersionedTable.upsertDV(spark, root, spec, batch("upsert", r)))
    val key = batches(("upsert", r)).head.getLong(0)
    val point = read("point") {
      val df = VersionedTable.prunedRead(spark, root, "id", key, key)
      if (ledger.traced) ledger.note("table.read.point.files", df.inputFiles.length)
      df.filter(col("id") === key).collect()
    }
    record(r, "read_point", null, "key" -> key, "rows" -> point.map(_.toSeq.map(String.valueOf)).toSeq)
    commit("delete", "delete")(
      if (r % 2 == 0) VersionedTable.deleteRoster(spark, root, spec, batch("delete", r))
      else VersionedTable.deleteRosterDV(spark, root, spec, batch("delete", r)))
    val head = log.last("version").toString
    val feed = read("feed") {
      val df = VersionedTable.changeFeed(spark, root, afterUpsert, head)
      if (ledger.traced) ledger.note("table.read.feed.files", df.inputFiles.length)
      df.select("id", "grp", "val", "tag", "change_type").collect()
    }
    record(r, "read_feed", null, "from" -> afterUpsert, "to" -> head,
      "rows" -> feed.map(_.toSeq.map(String.valueOf)).toSeq)
    commit("update", "update")(VersionedTable.updateWhere(spark, root, spec,
      col("grp") === updateGroups(r), Map("val" -> (col("val") + 1))))
    val asOf = read("as_of") {
      val df = VersionedTable.readVersion(spark, root, afterUpsert)
      if (ledger.traced) ledger.note("table.read.as_of.files", df.inputFiles.length)
      totals(df)
    }
    record(r, "read_as_of", afterUpsert, "count" -> asOf._1, "sum" -> asOf._2)
    commit("compact", "compact")(
      if (r % 2 == 0) VersionedTable.optimizeCompact(spark, root, spec, compactBytes)
      else VersionedTable.compactDeletes(spark, root, spec))
    ledger.op("table.vacuum", "commit")(VersionedTable.vacuum(spark, root, keepLast))
  }

  override def afterPass(r: Int): Unit = {
    roundEnd += VersionedTable.headVersion(root).get
    refresh(r)
  }

  /** Full refresh of the second root: drop, re-create with other rows and
    * columns, read back. The first call (before round 0) creates and reads
    * the table that every later refresh replaces.
    */
  private def refresh(r: Int): Unit = {
    val shape =
      if (r % 2 == 0) Seq("id AS k", "id * 7 AS payload")
      else Seq("id AS k", "CAST(id AS STRING) AS label", "id % 5 AS bucket")
    val df = spark.range(r * 1000L + 2000L, r * 1000L + 2600L).selectExpr(shape: _*)
    val op = () => {
      TableStore.get.deleteTree(refreshRoot)
      VersionedTable.create(spark, df, refreshRoot, Spec(Seq("k"), "k", 1 << 10))
      val got = VersionedTable.read(spark, refreshRoot).collect()
      require(got.length == 600, s"full refresh read ${got.length} rows, expected 600")
    }
    if (r < 0) op() else ledger.untimedOp("table.full_refresh_read")(op())
  }

  def finish(): Map[String, Any] = {
    val out = s"$work/out"
    val head = VersionedTable.headVersion(root).get
    VersionedTable.read(spark, root).write.parquet(s"$out/head")
    val retained = VersionedTable.publishedVersions(root)
    val sampled = retained.dropRight(1).takeRight(4).zipWithIndex.filter(_._2 % 2 == 0).map(_._1)
    sampled.foreach(v => VersionedTable.readVersion(spark, root, v).write.parquet(s"$out/versions/$v"))
    val from = roundEnd.last
    VersionedTable.changeFeed(spark, root, from, head).write.parquet(s"$out/feed")
    val live = VersionedTable.manifest(spark, root).select("file").collect().map(_.getString(0))
    val liveBytes = live.map(f => TableStore.get.size(f.stripPrefix("file:"))).sum
    Map("outputs" -> Map("out" -> out, "head" -> head, "versions" -> sampled,
        "feed_from" -> from, "feed_to" -> head, "log" -> log.toSeq),
      "space" -> Map("root" -> root, "plain" -> s"$out/head"),
      "table_live_mb" -> liveBytes / 1e6, "table_files_live" -> live.length)
  }
}
