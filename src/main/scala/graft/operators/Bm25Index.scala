package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** STORED inverted index with INCREMENTAL document-batch maintenance —
  * the lexical-retrieval member of the stored-artifact family
  * ([[IvfIndex]] for vectors, [[GraphIndex]] for graphs): tokenizing
  * the corpus is the expensive half of every BM25 query, yet the
  * postings it produces change only by appends. So the postings become
  * a durable artifact — one (doc_id, dl, word, tf) row per distinct
  * (doc, word), BUCKETED BY doc_id with a generation stamp — plus two
  * re-folded spines: the document-frequency spine (word, df) and the
  * one-row corpus stats (n_docs, sum_dl). Query-time scoring
  * ([[scoredTopK]]) reads ONLY the stored artifacts; the raw corpus is
  * never touched.
  *
  * Why raw tf lives in the postings and everything global lives in
  * spines: a BM25 term weight depends on the per-posting (tf, dl) AND
  * the corpus-global (df, N, L). Appending documents changes N, L and
  * the df of every term the batch mentions — if stored rows carried
  * final weights, every fold would rewrite the whole index. With raw
  * postings the fold is exactly additive: postings append (cost ∝
  * batch), df folds forward as old + batch term counts (|vocab|-sized),
  * stats fold as two integer adds — and scores computed from the
  * folded artifacts are bit-identical to a from-scratch rebuild, which
  * is exactly what the oracle gate states (the one-shot full-corpus
  * query in DuckDB).
  *
  * Bucketing choice — doc_id, not word: the fold's doc-dedup anti-join
  * is keyed by doc_id (bucket-local stored side, only the batch
  * shuffles), and the query path NEEDS doc-keyed partitioning — the
  * PLANS.md #26 lesson: per-posting term weights materialize before
  * the broadcast query join, and hashpartitioning(doc_id) already
  * satisfies the matched-pair aggregation's ClusteredDistribution
  * (query_id, cand_id), so the ~100×-amplified pair stream aggregates
  * completely in place. Reading the bucketed table hands that
  * partitioning out for free: the stored query path runs ZERO
  * corpus-side exchanges end to end.
  *
  * Scale shape (100 TB): build = one tokenize + one bucketed write
  * (offline/nightly); fold = one batch tokenize + a bucket-local
  * anti-join + two spine folds (∝ batch and ∝ |vocab|); query = one
  * bucketed postings scan with the broadcast df spine, the corpus stats
  * as literals and broadcast query terms. At web scale the df spine
  * takes a stop-word cap exactly like the n-gram dedup's posting cap,
  * and the broadcast df join degrades to one key-partitioned join.
  */
object Bm25Index {

  /** Handle to the stored artifacts. `gen` names the spine generation
    * the latest fold produced — spines are immutable files, so a
    * crashed fold leaves the previous (df, stats) pair intact and the
    * handle still readable.
    */
  final case class Stored(postingsTable: String, basePath: String, gen: Int) {
    def postingsPath: String = s"$basePath/postings"
    def dfPath: String = s"$basePath/df-g$gen"
    def statsPath: String = s"$basePath/stats-g$gen"
  }

  /** The GraphIndex rationale: the postings artifact is corpus-derived
    * (≈ |docs|·|distinct words per doc| rows) and every query scans
    * it — 8 buckets would cap the scan at 8 tasks.
    */
  val NumBuckets = 32

  /** Whitespace tokenization → one (doc_id, dl, word, tf) posting per
    * distinct (doc, word); dl rides the groupBy key (functionally
    * dependent on doc_id — no second scan). Shared verbatim by the
    * build, the fold, and the one-shot query, so fold-vs-rebuild
    * equality is by construction.
    */
  def postingsOf(docs: DataFrame): DataFrame = {
    val words = split(col("text"), " ")
    docs.select(col("doc_id"), size(words).cast("long").as("dl"),
        explode(words).as("word"))
      .groupBy("doc_id", "dl", "word").agg(count(lit(1)).as("tf"))
  }

  /** Offline build: tokenize, store the postings bucketed by doc_id
    * under generation 0, then derive BOTH spines FROM THE STORED TABLE
    * (auditing what landed on disk, not the plan that produced it —
    * the Publish discipline).
    */
  def build(spark: SparkSession, docs: DataFrame,
            postingsTable: String, basePath: String): Stored = {
    val stored = Stored(postingsTable, basePath, 0)
    // one file per bucket: pre-shuffle on the bucket expression itself
    // (Murmur3 = the bucketing hash), the IvfIndex.compact lesson
    postingsOf(docs).withColumn("gen", lit(0))
      .repartition(NumBuckets, pmod(hash(col("doc_id")), lit(NumBuckets)))
      .write.mode("overwrite").format("parquet")
      .option("path", stored.postingsPath)
      .bucketBy(NumBuckets, "doc_id").sortBy("doc_id", "word")
      .saveAsTable(postingsTable)
    writeSpines(spark, stored)
    stored
  }

  /** Both spines from the stored postings: df = rows per word (postings
    * are unique per (doc, word), so COUNT(*) IS the document
    * frequency); stats = (n_docs, sum_dl) off the distinct doc frame.
    * The two derivations are independent reads of the committed table
    * writing disjoint paths — overlapped (guide §2.6, r17) so the
    * df fold's shuffle tail back-fills with the stats scan.
    */
  private def writeSpines(spark: SparkSession, stored: Stored): Unit = {
    val p = spark.table(stored.postingsTable)
    Par.run[Unit](Seq(
      () => p.groupBy(col("word")).agg(count(lit(1)).as("df"))
        .write.mode("overwrite").parquet(stored.dfPath),
      () => p.select(col("doc_id"), col("dl")).distinct()
        .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
        .write.mode("overwrite").parquet(stored.statsPath)))
    ()
  }

  /** (n_docs, sum_dl) of a postings frame as [[Checkpoints.pin]] extras:
    * a document's length is the Σ tf of its postings.
    */
  private val docStats: Seq[Column] =
    Seq(count_distinct(col("doc_id")), coalesce(sum(col("tf")), lit(0L)))

  /** Fold a document batch into the stored index. Documents already in
    * the index are dropped (doc-keyed anti-join against the bucketed
    * postings — the stored side reads bucket-local under subset-key
    * co-partitioning, only the batch shuffles), so a replayed batch is
    * a no-op; the df spine folds forward as old + batch term counts
    * and the stats as two adds — all ∝ batch except the |vocab|-row
    * spine rewrite.
    *
    * Spine-before-append ordering (the GraphIndex fold lesson): the
    * fresh-postings plan references the stored table, and Spark's
    * CacheManager recomputes dependent cached plans when that table is
    * written — folding the spines first pins the delta while the cache
    * still reflects the pre-append state.
    *
    * @return the advanced handle and the number of NEW documents folded
    */
  def append(spark: SparkSession, stored: Stored, batchDocs: DataFrame,
             gen: Int): (Stored, Long) = {
    require(gen > stored.gen,
      s"append: generation must advance past ${stored.gen}, got $gen")
    // no requireAllClusterKeysForCoPartition toggle here (unlike
    // GraphIndex.append): the anti-join key (doc_id) IS the full
    // bucket key, so the stored side is already bucket-local.
    // pinned (not a bare persist, r17): the flat LogicalRDD cuts the
    // delta's lineage into the stored table, which is what makes
    // overlapping the postings append with the spine folds SAFE — a
    // persisted-but-lineage-bearing plan would be recomputed against
    // the post-append table by the CacheManager (the spine-before-
    // append ordering this fold previously relied on).
    Checkpoints.withPinned(postingsOf(batchDocs)
      .join(spark.table(stored.postingsTable).select(col("doc_id")).distinct(),
        Seq("doc_id"), "left_anti"), docStats: _*) { pinned =>
      val fresh = pinned.df
      val next = stored.copy(gen = gen)
      val nNew = pinned.extras.getLong(0)
      // three independent writes off the pinned delta — disjoint output
      // paths (next.dfPath, next.statsPath, the postings table), inputs
      // immutable-or-materialized; overlapped so the fold's wall time is
      // max(spine fold, stats fold, bucketed append), not the sum
      // (guide §2.6, r17 — the from-feed gates' sequential tail)
      Par.run[Unit](Seq(
        () => Footers.read(spark, stored.dfPath)
          .join(fresh.groupBy(col("word")).agg(count(lit(1)).as("d")),
            Seq("word"), "full_outer")
          .select(col("word"),
            (coalesce(col("df"), lit(0L)) + coalesce(col("d"), lit(0L))).as("df"))
          .write.mode("overwrite").parquet(next.dfPath),
        () => {
          val st = Footers.rowsOf(spark, stored.statsPath).head
          spark.range(1).select(
              lit(st.getLong(0) + nNew).as("n_docs"),
              lit(st.getLong(1) + pinned.extras.getLong(1)).as("sum_dl"))
            .write.mode("overwrite").parquet(next.statsPath)
        },
        () => fresh.withColumn("gen", lit(gen))
          .repartition(NumBuckets, pmod(hash(col("doc_id")), lit(NumBuckets)))
          .write.mode("append").format("parquet")
          .bucketBy(NumBuckets, "doc_id").sortBy("doc_id", "word")
          .saveAsTable(stored.postingsTable)))
      (next, nNew)
    }
  }

  /** Base-vs-appended posting counts off the generation stamps — the
    * drift metric [[maintain]] reads (one bucketed-table aggregate, no
    * corpus scan).
    */
  def genCounts(spark: SparkSession, stored: Stored): (Long, Long) = {
    val r = spark.table(stored.postingsTable)
      .agg(sum(when(col("gen") === 0, 1L).otherwise(0L)),
        sum(when(col("gen") > 0, 1L).otherwise(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  final case class MaintainResult(stored: Stored, rebuilt: Boolean,
                                  nBase: Long, nNew: Long)

  /** Fold the batch if the appended population is still small next to
    * the base, COMPACT to a fresh gen-0 artifact once accumulated
    * appends outgrow it — the [[GraphIndex.maintain]] drift rule
    * (`n_new·2 > n_base` over exact integer posting counts of the
    * WOULD-BE state, so the decision is a pure function of the inputs
    * and the oracle can replay it). The rebuild is self-contained: the
    * postings rewrite from the stored table itself (no corpus
    * re-tokenize) and both spines re-derive FROM the compacted table
    * (the Publish audit discipline); either branch holds an identical
    * posting row set and bit-identical scores. The caller retires the
    * old artifact on the rebuild branch.
    *
    * Scale shape: the fold is ∝ batch; the compaction pays one
    * postings scan + bucketed write to buy back the per-fold file
    * fragmentation (one file per touched bucket per fold) — amortized
    * by the drift rule to once per doubling.
    */
  def maintain(spark: SparkSession, stored: Stored, batchDocs: DataFrame,
               gen: Int, rebuildTable: String, rebuildBase: String): MaintainResult = {
    val (next, _) = append(spark, stored, batchDocs, gen)
    val (nBase, nNew) = genCounts(spark, next)
    if (nNew * 2 > nBase) {
      val compacted = Stored(rebuildTable, rebuildBase, 0)
      spark.table(next.postingsTable)
        .select(col("doc_id"), col("dl"), col("word"), col("tf"))
        .withColumn("gen", lit(0))
        .repartition(NumBuckets, pmod(hash(col("doc_id")), lit(NumBuckets)))
        .write.mode("overwrite").format("parquet")
        .option("path", compacted.postingsPath)
        .bucketBy(NumBuckets, "doc_id").sortBy("doc_id", "word")
        .saveAsTable(rebuildTable)
      writeSpines(spark, compacted)
      MaintainResult(compacted, true, nBase, nNew)
    } else MaintainResult(next, false, nBase, nNew)
  }

  /** PURGE propagation into the stored index (VERDICT r9 #4 — the
    * GDPR-delete verb the append fold lacks): a deleted document's
    * postings must not survive in the artifact the queries read, so
    * the purge is a PHYSICAL REWRITE of the postings minus the roster
    * (the [[IvfIndex]] purge posture: a logical filter would leave the
    * rows in old parquet files), while the two spines fold a
    * RETRACTION ∝ roster — df loses the roster docs' per-word posting
    * counts (words wholly owned by purged docs leave the spine), stats
    * lose their doc count and length mass. BM25 makes the retraction
    * non-trivially global: every surviving doc's score shifts when N,
    * L and df move, and the folded spines reproduce the
    * rebuild-over-survivors statistics EXACTLY — which is what the
    * oracle (one-shot BM25 over the purged corpus) states.
    *
    * The purged artifact lands under a NEW table/base (fresh gen-0):
    * the rewrite compacts any append fragmentation, and writing a new
    * table sidesteps the CacheManager recompute hazard of folding
    * against a table mid-overwrite. The caller retires the old
    * (roster-bearing) artifact.
    *
    * Scale shape (100 TB): retraction aggregates are a broadcast
    * semi-join against the bucketed postings (stored side bucket-local)
    * + a shuffle ∝ roster postings; the rewrite is one full postings
    * scan + bucketed write — ∝ index size, not corpus size, and only
    * on purge events (compliance cadence), never on the query path.
    *
    * @param roster (doc_id) — documents to forget; broadcast
    * @return the purged handle and the number of docs actually removed
    */
  def purge(spark: SparkSession, stored: Stored, roster: DataFrame,
            newTable: String, newBase: String): (Stored, Long) = {
    val ids = roster.select(col("doc_id"))
    // retraction deltas FROM THE STORED POSTINGS of the roster docs,
    // pinned (flat materialized plan — eager, lineage-cut) before the
    // overlapped writes below start
    Checkpoints.withPinned(spark.table(stored.postingsTable)
      .select(col("doc_id"), col("dl"), col("word"), col("tf"))
      .join(broadcast(ids), Seq("doc_id"), "left_semi"), docStats: _*) { pinned =>
      val victim = pinned.df
      val next = Stored(newTable, newBase, 0)
      val nPurged = pinned.extras.getLong(0)
      // three independent writes — disjoint outputs (next.dfPath,
      // next.statsPath, the NEW postings table), inputs read-only
      // (stored artifacts) or materialized (victim); overlapped so the
      // purge's wall time is the postings rewrite, with both spine
      // retractions riding its tail (guide §2.6, r17)
      Par.run[Unit](Seq(
        () => Footers.read(spark, stored.dfPath)
          .join(victim.groupBy(col("word")).agg(count(lit(1)).as("d")),
            Seq("word"), "left")
          .select(col("word"),
            (col("df") - coalesce(col("d"), lit(0L))).as("df"))
          .filter(col("df") > 0)
          .write.mode("overwrite").parquet(next.dfPath),
        () => {
          val st = Footers.rowsOf(spark, stored.statsPath).head
          spark.range(1).select(
              lit(st.getLong(0) - nPurged).as("n_docs"),
              lit(st.getLong(1) - pinned.extras.getLong(1)).as("sum_dl"))
            .write.mode("overwrite").parquet(next.statsPath)
        },
        () => spark.table(stored.postingsTable)
          .select(col("doc_id"), col("dl"), col("word"), col("tf"))
          .join(broadcast(ids), Seq("doc_id"), "left_anti")
          .withColumn("gen", lit(0))
          .repartition(NumBuckets, pmod(hash(col("doc_id")), lit(NumBuckets)))
          .write.mode("overwrite").format("parquet")
          .option("path", next.postingsPath)
          .bucketBy(NumBuckets, "doc_id").sortBy("doc_id", "word")
          .saveAsTable(newTable)))
      (next, nPurged)
    }
  }

  /** Query-time BM25 top-k over the STORED artifacts only — the exact
    * Robertson scorer of `text_bm25_topk` (k1 = 1.2, b = 0.75,
    * log-free rational idf, all-integer fixed point) with df/N/L read
    * from the spines instead of derived in-flow. Every arithmetic step
    * is shared with the one-shot query's oracle, so scores off the
    * stored (or folded) index hash-match the from-scratch computation.
    *
    * @param qTerms (query_id, word) — distinct query terms; broadcast
    */
  def scoredTopK(spark: SparkSession, stored: Stored, qTerms: DataFrame,
                 k: Int = 10): DataFrame = {
    val p = spark.table(stored.postingsTable)
      .select(col("doc_id"), col("dl"), col("word"), col("tf"))
    val dfSpine = Footers.read(spark, stored.dfPath)
    // the one-row stats read on the driver enter the weight as literals
    // (no broadcast job)
    val stats = Footers.rowsOf(spark, stored.statsPath).head
    // per-posting weight materializes BEFORE the query join (PLANS.md
    // #18/#26); the bucketed scan's hashpartitioning(doc_id) satisfies
    // the pair groupBy's clustering, so no corpus-side exchange exists
    // anywhere in this plan
    val scoredPostings = p
      .join(broadcast(dfSpine), "word")
      .withColumn("__n", lit(stats.get(0)).cast("long"))
      .withColumn("__l", lit(stats.get(1)).cast("long"))
      .withColumn("term_fp", expr(
        """((2 * (__n - df) + 1) * 1000 DIV (2 * df + 1)) * tf * 2200000
           DIV (tf * 1000000 + 300000 + (900000 * dl * __n) DIV __l)"""))
      .select(col("word"), col("doc_id"), col("term_fp"))
    val perPair = scoredPostings
      .join(broadcast(qTerms), "word")
      .filter(col("query_id") =!= col("doc_id"))
      .groupBy(col("query_id"), col("doc_id").as("cand_id"))
      .agg(sum(col("term_fp")).as("score_fp"), count(lit(1)).as("n_terms"))
    LatestPerKey.topKRanked(perPair, k, Seq(col("query_id")),
        Seq(col("score_fp").desc_nulls_last, col("cand_id").asc_nulls_first))
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("cand_id"), col("score_fp"), col("n_terms"))
  }
}
