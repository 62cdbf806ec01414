package graft

import org.apache.spark.sql.functions._
import graft.operators.StatsSpine

/** File-level min/max data-skipping spine: the physical claims the
  * `layout_stats_pruned_scan` hash gate can't see — strictly fewer
  * files scanned than written, superset-then-filter correctness,
  * null-stats and empty-survivor edge cases, and the append fold.
  */
class StatsSpineSpec extends SparkSpec {

  private def laidOut(n: Int = 8): (String, Long) = {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-spine").toString
    val df = (0L until 1000L).map(i => (i, s"v$i")).toDF("k", "v")
    df.repartitionByRange(n, col("k")).sortWithinPartitions("k")
      .write.parquet(s"$base/data")
    (base, 1000L)
  }

  test("pruned read scans strictly fewer files and returns exactly the band") {
    val (base, _) = laidOut()
    val spine = StatsSpine.build(spark, s"$base/data", Seq("k"))
    val total = spine.count()
    assert(total >= 4, "layout should produce several files")
    // spine accounting is complete: file row counts sum to the table
    assert(spine.agg(sum("n_rows")).head.getLong(0) == 1000L)
    val surv = StatsSpine.survivors(spine, "k", 200L, 299L).count()
    assert(surv < total, s"pruning must drop files ($surv of $total kept)")
    val got = StatsSpine.prunedRead(spark, s"$base/data", spine, "k", 200L, 299L)
      .filter(col("k").between(200L, 299L))
    assert(got.count() == 100L)
    assert(got.agg(min("k"), max("k")).head.toSeq == Seq(200L, 299L))
  }

  test("empty survivor set returns a typed empty frame, not a crash") {
    val (base, _) = laidOut()
    val spine = StatsSpine.build(spark, s"$base/data", Seq("k"))
    val got = StatsSpine.prunedRead(spark, s"$base/data", spine, "k", 5000L, 6000L)
    assert(got.count() == 0L)
    assert(got.schema.fieldNames.toSeq == Seq("k", "v"))
  }

  test("all-null stats files are pruned; mixed-null files keep non-null bounds") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-spine-null").toString
    // one file of all-null k, one file with nulls mixed into [10, 19]
    // (append lands the second writer's part file in the same dir)
    Seq.fill(5)(Option.empty[Long]).map((_, "n")).toDF("k", "v")
      .coalesce(1).write.parquet(s"$base/data")
    ((10L to 19L).map(Option(_)) ++ Seq.fill(3)(Option.empty[Long]))
      .map((_, "m")).toDF("k", "v")
      .coalesce(1).write.mode("append").parquet(s"$base/data")
    val spine = StatsSpine.build(spark, s"$base/data", Seq("k"))
    // a range predicate never accepts null → the all-null file must go
    val surv = StatsSpine.survivors(spine, "k", 0L, 100L)
    assert(surv.count() == 1L)
    val got = StatsSpine.prunedRead(spark, s"$base/data", spine, "k", 12L, 15L)
      .filter(col("k").between(12L, 15L))
    assert(got.count() == 4L)
  }

  test("bloom sidecar: survivors == true holders where min/max keeps everything") {
    import spark.implicits._
    val mBits = 1 << 13
    val base = java.nio.file.Files.createTempDirectory("graft-bloom").toString
    // scatter unique ids across 8 files (hash layout — the min/max
    // killer: every file's id interval spans ~the whole domain)
    val df = (0L until 1000L).map(i => (i, s"v$i")).toDF("k", "v")
    df.repartition(8, col("k")).write.parquet(s"$base/data")
    val mm = StatsSpine.build(spark, s"$base/data", Seq("k"))
    val total = mm.count()
    assert(total == 8L)
    val keys = Seq(137L, 512L, 900L)
    // min/max skipping is useless here: a point probe keeps ALL files
    keys.foreach { k =>
      assert(StatsSpine.survivors(mm, "k", k, k).count() == total)
    }
    val bloom = StatsSpine.buildBloom(spark, s"$base/data", "k", mBits)
    // the true holder set, from the data itself
    val holders = spark.read.parquet(s"$base/data")
      .filter(col("k").isin(keys: _*))
      .select(input_file_name()).distinct().as[String].collect().toSet
    val survived = bloom
      .filter(StatsSpine.bloomSurvives(col("bloom"), keys.map(_.toString), mBits))
      .select("file").as[String].collect().toSet
    // no false negatives (⊇) and, at this load factor, no false
    // positives either (deterministic fixture) — exactly the holders
    assert(survived == holders)
    assert(survived.size < total)
    val got = StatsSpine.prunedReadByKeys(spark, s"$base/data", bloom,
        keys.map(_.toString), mBits)
      .filter(col("k").isin(keys: _*))
    assert(got.select("k").as[Long].collect().toSet == keys.toSet)
  }

  test("bloom sidecar: absent keys and empty key set read nothing, typed") {
    import spark.implicits._
    val mBits = 1 << 13
    val base = java.nio.file.Files.createTempDirectory("graft-bloom-miss").toString
    (0L until 200L).map(i => (i, s"v$i")).toDF("k", "v")
      .repartition(4, col("k")).write.parquet(s"$base/data")
    val bloom = StatsSpine.buildBloom(spark, s"$base/data", "k", mBits)
    // absent keys: the exact re-filter makes any FP harmless — and at
    // this load the probe itself already drops every file
    val gotAbsent = StatsSpine.prunedReadByKeys(spark, s"$base/data", bloom,
      Seq("99999", "123456"), mBits)
    assert(gotAbsent.filter(col("k").isin(99999L, 123456L)).count() == 0L)
    val gotEmpty = StatsSpine.prunedReadByKeys(spark, s"$base/data", bloom,
      Seq.empty, mBits)
    assert(gotEmpty.count() == 0L)
    assert(gotEmpty.schema.fieldNames.toSeq == Seq("k", "v"))
  }

  test("append fold: spine over base+batch == rebuild over the union") {
    import spark.implicits._
    val (base, _) = laidOut()
    val batchDir = s"$base/batch"
    (2000L until 2100L).map(i => (i, s"b$i")).toDF("k", "v")
      .repartitionByRange(2, col("k")).write.parquet(batchDir)
    val folded = StatsSpine.append(spark,
      StatsSpine.build(spark, s"$base/data", Seq("k")), batchDir, Seq("k"))
    // fold cost ∝ batch, result complete: batch band served from the
    // folded spine (explicit file paths span both directories)
    val got = StatsSpine.prunedRead(spark, s"$base/data", folded, "k", 2000L, 2049L)
      .filter(col("k").between(2000L, 2049L))
    assert(got.count() == 50L)
    assert(folded.agg(sum("n_rows")).head.getLong(0) == 1100L)
    // base-band queries keep working off the folded spine too
    assert(StatsSpine.prunedRead(spark, s"$base/data", folded, "k", 0L, 9L)
      .filter(col("k").between(0L, 9L)).count() == 10L)
  }

  /** A hash-scattered table + both sidecars — the delete fixture. */
  private def deleteFixture(n: Long = 1000L, files: Int = 8): (String, org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    import spark.implicits._
    val mBits = 1 << 13
    val base = java.nio.file.Files.createTempDirectory("graft-del").toString
    (0L until n).map(i => (i, s"v$i")).toDF("k", "v")
      .repartition(files, col("k")).write.parquet(s"$base/data")
    (base, StatsSpine.build(spark, s"$base/data", Seq("k")),
      StatsSpine.buildBloom(spark, s"$base/data", "k", mBits))
  }

  test("deleteRewrite: doomed keys gone, survivors intact, spines consistent across a repeated delete") {
    import spark.implicits._
    val mBits = 1 << 13
    val (base, spine0, bloom0) = deleteFixture()
    val (s1, b1) = StatsSpine.deleteRewrite(spark, spine0, bloom0,
      "k", Seq("137", "512"), mBits, Seq("k"), s"$base/gen1")
    val t1 = StatsSpine.readManifest(spark, s"$base/data", s1)
    assert(t1.count() == 998L)
    assert(t1.filter(col("k").isin(137L, 512L)).count() == 0L)
    // both sidecars list the same file set (one manifest, two projections)
    assert(s1.select("file").except(b1.select("file")).count() == 0L)
    assert(b1.select("file").except(s1.select("file")).count() == 0L)
    // SECOND delete over the folded spines — fresh genDir per call
    val (s2, b2) = StatsSpine.deleteRewrite(spark, s1, b1,
      "k", Seq("700"), mBits, Seq("k"), s"$base/gen2")
    val t2 = StatsSpine.readManifest(spark, s"$base/data", s2)
    assert(t2.count() == 997L)
    assert(t2.filter(col("k").isin(137L, 512L, 700L)).count() == 0L)
    assert(s2.agg(sum("n_rows")).head.getLong(0) == 997L)
    // deleting absent keys off the folded spines is a no-op
    val (s3, b3) = StatsSpine.deleteRewrite(spark, s2, b2,
      "k", Seq("999999"), mBits, Seq("k"), s"$base/gen3")
    assert(s3.select("file").except(s2.select("file")).count() == 0L)
    assert(b3.select("file").except(b2.select("file")).count() == 0L)
  }

  test("deleteRewrite refuses a reused genDir (holder files inside it)") {
    import spark.implicits._
    val mBits = 1 << 13
    val (base, spine0, bloom0) = deleteFixture()
    val (s1, b1) = StatsSpine.deleteRewrite(spark, spine0, bloom0,
      "k", Seq("137"), mBits, Seq("k"), s"$base/gen1")
    // a key CO-LOCATED with 137 now lives in a gen1 file: deleting it
    // while writing to gen1 again would read-under-overwrite — the
    // guard must fire before any data is touched
    val cohabitant = spark.read.parquet(s"$base/gen1")
      .filter(col("k") =!= 137L).select("k").as[Long].head()
    val e = intercept[IllegalArgumentException] {
      StatsSpine.deleteRewrite(spark, s1, b1,
        "k", Seq(cohabitant.toString), mBits, Seq("k"), s"$base/gen1")
    }
    assert(e.getMessage.contains("fresh generation directory"))
  }

  test("deleteRewriteRoster: roster-frame delete equals the literal path, no IN-list in the probe") {
    import spark.implicits._
    val mBits = 1 << 13
    val (base, spine0, bloom0) = deleteFixture()
    // a LARGE planted roster (every 3rd key — 334 ids, past where the
    // literal expression tree is sane)
    val roster = (0L until 1000L by 3L).toDF("k")
    // the probe is a JOIN, not a literal predicate: no giant IN-list
    // anywhere in its optimized plan
    val probePlan = StatsSpine.rosterHolders(bloom0, roster, "k", mBits)
      .queryExecution.optimizedPlan.toString
    assert(!probePlan.contains("k#: IN") && !probePlan.toLowerCase.contains(" in ("),
      "roster probe must not unroll keys into a literal predicate:\n" + probePlan.take(2000))
    assert(probePlan.contains("Join"), probePlan.take(2000))
    // no false negatives: the probe's holder set covers the true one
    val trueHolders = spark.read.parquet(s"$base/data")
      .filter(col("k") % 3 === 0)
      .select(input_file_name().as("file")).distinct()
      .as[String].collect().toSet
    val probed = StatsSpine.rosterHolders(bloom0, roster, "k", mBits)
      .as[String].collect().toSet
    assert(trueHolders.subsetOf(probed))
    val (s1, b1) = StatsSpine.deleteRewriteRoster(spark, spine0, bloom0,
      "k", roster, mBits, Seq("k"), s"$base/gen1")
    val t1 = StatsSpine.readManifest(spark, s"$base/data", s1)
    assert(t1.count() == 666L)
    assert(t1.filter(col("k") % 3 === 0).count() == 0L)
    assert(s1.agg(sum("n_rows")).head.getLong(0) == 666L)
    assert(s1.select("file").except(b1.select("file")).count() == 0L)
    // a disjoint roster over the FOLDED spines: repeated roster deletes
    val roster2 = Seq(1L, 7L, 13L).toDF("k")
    val (s2, _) = StatsSpine.deleteRewriteRoster(spark, s1, b1,
      "k", roster2, mBits, Seq("k"), s"$base/gen2")
    val t2 = StatsSpine.readManifest(spark, s"$base/data", s2)
    assert(t2.count() == 663L)
    assert(t2.filter(col("k").isin(1L, 7L, 13L)).count() == 0L)
  }

  test("rosterWords addresses the same bits as the driver-side positions") {
    import spark.implicits._
    val mBits = 1 << 13
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
    val mBits = 1 << 13
    val (_, _, bloom0) = deleteFixture()
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
    val trueHolders = bloom0.select("file").as[String].collect().filter { f =>
      spark.read.parquet(f).filter(col("k").isin(a, b, twoBits)).count() > 0
    }.toSet
    assert(trueHolders.nonEmpty && trueHolders.subsetOf(holders))
  }
}
