package graft

import org.apache.spark.sql.functions._
import graft.operators.{StatsSpine, VersionedTable}

/** The Bloom roster probe over a [[VersionedTable]] manifest: the
  * distributed position words address the same bits as the driver-side
  * positions, the probe is a join (never a literal IN-list), and its
  * holder set covers every file that holds a roster key. `deleteRoster`,
  * built on that probe, drops exactly the roster's keys and rewrites
  * nothing for an absent or empty roster.
  */
class StatsSpineSpec extends SparkSpec {

  private val mBits = 1 << 13

  private val spec = VersionedTable.Spec(Seq("k"), "k", mBits)

  /** A hash-scattered 8-file table of keys 0..999 — min/max can't
    * prune its keys, only the bloom can.
    */
  private def bloomTable(): String = {
    import spark.implicits._
    val root = tempDir("graft-roster").toString
    VersionedTable.create(spark, (0L until 1000L).map(i => (i, s"v$i")).toDF("k", "v"),
      root, spec, _.repartition(8, col("k")))
    root
  }

  /** The (file, bloom) rows of `root`'s current manifest. */
  private def bloomRows(root: String): org.apache.spark.sql.DataFrame =
    VersionedTable.manifest(spark, root).select("file", "bloom")

  private def bloomFixture(): org.apache.spark.sql.DataFrame = bloomRows(bloomTable())

  /** Files of `bloom0` holding a row that passes `p`. */
  private def trueHolders(bloom0: org.apache.spark.sql.DataFrame,
                          p: org.apache.spark.sql.Column): Set[String] = {
    import spark.implicits._
    bloom0.select("file").as[String].collect().filter { f =>
      !spark.read.parquet(f).filter(p).isEmpty
    }.toSet
  }

  test("rosterHolders probes by join, no IN-list; no false negatives on a large roster") {
    import spark.implicits._
    val bloom0 = bloomFixture()
    // a LARGE planted roster (every 3rd key — 334 ids, past where a
    // literal expression tree is sane)
    val roster = (0L until 1000L by 3L).toDF("k")
    val probe = StatsSpine.rosterHolders(bloom0, roster, "k", mBits)
    val probePlan = probe.queryExecution.optimizedPlan.toString
    assert(!probePlan.contains("k#: IN") && !probePlan.toLowerCase.contains(" in ("),
      "roster probe must not unroll keys into a literal predicate:\n" + probePlan.take(2000))
    assert(probePlan.contains("Join"), probePlan.take(2000))
    assert(trueHolders(bloom0, col("k") % 3 === 0)
      .subsetOf(probe.as[String].collect().toSet))
  }

  test("absent keys and an empty roster hold no file; deleting either rewrites nothing") {
    import spark.implicits._
    val root = bloomTable()
    val bloom0 = bloomRows(root)
    val absent = Seq(99999L, 123456L).toDF("k")
    val empty = Seq.empty[Long].toDF("k")
    // at this load the probe itself drops every file for absent keys
    assert(StatsSpine.rosterHolders(bloom0, absent, "k", mBits).isEmpty)
    assert(StatsSpine.rosterHolders(bloom0, empty, "k", mBits).isEmpty)
    val got = VersionedTable.joinPrunedRead(spark, root, "k", absent, "k",
      bloomSpec = Some(spec))
    assert(got.inputFiles.isEmpty)
    assert(got.count() == 0L)
    assert(got.schema.fieldNames.toSeq == Seq("k", "v"))
    val files0 = bloom0.select("file").as[String].collect().toSet
    VersionedTable.deleteRoster(spark, root, spec, absent)
    VersionedTable.deleteRoster(spark, root, spec, empty)
    assert(bloomRows(root).select("file").as[String].collect().toSet == files0)
    assert(VersionedTable.read(spark, root).count() == 1000L)
  }

  test("deleteRoster: a large roster, then a disjoint one probed off the rewritten manifest") {
    import spark.implicits._
    val root = bloomTable()
    // every 3rd key — 334 ids, every file a holder
    VersionedTable.deleteRoster(spark, root, spec, (0L until 1000L by 3L).toDF("k"))
    val t1 = VersionedTable.read(spark, root)
    assert(t1.count() == 666L)
    assert(t1.filter(col("k") % 3 === 0).count() == 0L)
    val m1 = VersionedTable.manifest(spark, root)
    assert(m1.agg(sum("n_rows")).head.getLong(0) == 666L)
    // the rewritten generation's rows carry their own blooms
    assert(m1.filter(col("bloom").isNull).isEmpty)
    // the second probe runs over the first delete's replacement rows
    val roster2 = Seq(1L, 7L, 13L).toDF("k")
    assert(trueHolders(bloomRows(root), col("k").isin(1L, 7L, 13L))
      .subsetOf(StatsSpine.rosterHolders(bloomRows(root), roster2, "k", mBits)
        .as[String].collect().toSet))
    VersionedTable.deleteRoster(spark, root, spec, roster2)
    val t2 = VersionedTable.read(spark, root)
    assert(t2.count() == 663L)
    assert(t2.filter(col("k").isin(1L, 7L, 13L)).count() == 0L)
    assert(VersionedTable.manifest(spark, root).agg(sum("n_rows")).head.getLong(0) == 663L)
  }

  test("rosterWords addresses the same bits as the driver-side positions") {
    import spark.implicits._
    val keys = Seq("137", "512", "hello world", "ünïcodé")
    val got = StatsSpine.rosterWords(keys.toDF("k"), "k", mBits)
      .select("k", "word_idx", "mask")
      .as[(String, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3)).toSet).toMap
    val want = keys.map { k =>
      val ps = graft.functions.BloomFilterAgg.positions(
        k.getBytes(java.nio.charset.StandardCharsets.UTF_8), mBits)
      k -> ps.groupBy(_ / 64).map { case (w, bits) =>
        (w.toLong, bits.map(p => 1L << (p % 64)).reduce(_ | _))
      }.toSet
    }.toMap
    assert(got == want)
  }

  /** [[StatsSpine.rosterWords]] as it was built before its one
    * projection: positions exploded, grouped per (key, word), and the
    * per-key word count self-joined back.
    */
  private def groupedRosterWords(roster: org.apache.spark.sql.DataFrame, keyCol: String,
                                 mBits: Int): org.apache.spark.sql.DataFrame = {
    val keys = roster.select(col(keyCol).cast("string").as("k"))
      .filter(col("k").isNotNull).distinct()
    val pos = keys.select(col("k"), explode(array(
      (0 until graft.functions.BloomFilterAgg.NumHashes).map(i =>
        expr(s"CAST(conv(substring(md5(k), ${1 + 8 * i}, 8), 16, 10) AS BIGINT) % $mBits")): _*))
      .as("p"))
    val words = pos.groupBy(col("k"), expr("p DIV 64").as("word_idx"))
      .agg(expr("CAST(bit_or(shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT))) AS BIGINT)")
        .as("mask"))
    words.join(words.groupBy("k").agg(count(lit(1)).as("n_words")), "k")
  }

  test("rosterHolders matches the grouped word build on duplicate, NULL and word-sharing keys") {
    import spark.implicits._
    val bloom0 = bloomFixture()
    def words(k: Long) = graft.functions.BloomFilterAgg.positions(
      k.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8), mBits).map(_ / 64).toSet
    // two table keys whose positions share a bitmap word
    val (a, b) = (0L until 200L).combinations(2).map(p => (p(0), p(1)))
      .find { case (x, y) => (words(x) intersect words(y)).nonEmpty }.get
    // a key with two positions in one word, and a key no file holds
    val twoBits = (0L until 1000L).find(k => words(k).size < 4).get
    val roster = Seq(Some(a), Some(a), None, Some(b), Some(twoBits), Some(5000L), None)
      .toDF("k")
    val got = StatsSpine.rosterWords(roster, "k", mBits)
    val want = groupedRosterWords(roster, "k", mBits)
    val cols = Seq("k", "word_idx", "mask", "n_words").map(col)
    assert(got.select(cols: _*).as[(String, Long, Long, Long)].collect().sorted.toSeq ==
      want.select(cols: _*).as[(String, Long, Long, Long)].collect().sorted.toSeq)
    val holders = StatsSpine.rosterHolders(bloom0, roster, "k", mBits)
      .as[String].collect().toSet
    val bw = bloom0.select(col("file"), posexplode(col("bloom")).as(Seq("wi", "word")))
      .select(col("file"), col("wi").cast("long").as("word_idx"), col("word"))
    val reference = bw.join(want, "word_idx")
      .filter(col("word").bitwiseAND(col("mask")) === col("mask"))
      .groupBy(col("file"), col("k"), col("n_words"))
      .agg(count(lit(1)).as("hits"))
      .filter(col("hits") === col("n_words"))
      .select("file").distinct().as[String].collect().toSet
    assert(holders == reference)
    // no false negative: every file holding a roster key is a holder
    val held = trueHolders(bloom0, col("k").isin(a, b, twoBits))
    assert(held.nonEmpty && held.subsetOf(holders))
  }
}
