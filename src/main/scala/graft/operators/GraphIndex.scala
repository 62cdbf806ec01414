package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** STORED graph artifact with INCREMENTAL edge-batch maintenance — the
  * graph analogue of [[IvfIndex]] (VERDICT r8 #1): deriving the edge
  * list is the expensive half of every graph query (a corpus-sized
  * join + distinct), yet the derived graph is tiny next to the corpus
  * and changes only by appends. So the edge list becomes a durable
  * artifact built offline — canonical distinct (src, dst) rows
  * BUCKETED BY src with a generation stamp — plus a degree SPINE
  * (node, out_deg) re-folded on each append; query-time PageRank
  * ([[ranks]]) reads ONLY the stored artifacts and runs the
  * supersteps, never touching the raw tables.
  *
  * Incremental contract (the oracle gate): stored-yesterday edges ∪
  * (today's batch anti-joined against them) IS the full corpus's
  * distinct edge set, and the folded spine (old degrees + batch-delta
  * degrees, cost ∝ batch) equals a from-scratch degree aggregate —
  * so ranks over the folded artifact are bit-identical to the
  * one-shot in-flow derivation, which is exactly what the DuckDB twin
  * states. [[PageRank.supersteps]] is shared verbatim between the two
  * paths, so the equality is by construction, not by parallel
  * maintenance of two loops.
  *
  * Drift/retrigger ([[maintain]]): appends fragment the bucketed
  * table (one file per touched bucket per fold — the [[IvfIndex]]
  * small-file read amplification) and pile generation stamps up; when
  * the appended population outgrows the base (`n_new·2 > n_base`,
  * exact integer counts so the decision is a pure function of the
  * inputs and the oracle can replay it), the fold is rejected in
  * favor of a REBUILD: a compacting rewrite of edges ∪ batch into a
  * fresh gen-0 artifact. Either branch leaves an identical row set —
  * the decision changes layout and future drift accounting, never
  * ranks.
  *
  * Scale shape (100 TB): build = one derivation + one bucketed write
  * (offline/nightly); append = one batch scan + an anti-join whose
  * stored side is bucket-local + a spine fold ∝ batch; query = one
  * bucketed-edge scan + |V|-row spine read + the superstep exchanges.
  * The daily cost is ∝ batch where re-derivation is ∝ corpus.
  */
object GraphIndex {

  /** Handle to the stored artifacts. `spineGen` names the spine
    * version the latest fold produced (spines are immutable files —
    * a crashed fold leaves the previous spine intact and readable).
    */
  final case class Stored(edgesTable: String, basePath: String, spineGen: Int) {
    def edgesPath: String = s"$basePath/edges"
    def spinePath: String = s"$basePath/spine-g$spineGen"
  }

  /** 32, not the IVF family's 8: the edge artifact is the biggest
    * stored relation in the repo (|E| rows ≈ corpus-derived pairs) and
    * every query/fold scans it — 8 buckets would cap the scan at 8
    * tasks on a 32-core executor layout.
    */
  val NumBuckets = 32

  /** Offline build: canonicalize (distinct) the edge list, store it
    * bucketed by src under generation 0, derive the degree spine FROM
    * THE STORED TABLE (auditing what landed on disk, not the plan
    * that produced it — the Publish discipline).
    *
    * @param edges (src, dst); every node must appear as a src (feed
    *              the symmetric closure — the [[PageRank.run]] contract)
    */
  def build(spark: SparkSession, edges: DataFrame,
            edgesTable: String, basePath: String): Stored = {
    val stored = Stored(edgesTable, basePath, 0)
    // ONE file per bucket (the IvfIndex.compact lesson: pre-shuffle on
    // the bucket expression itself — hash = Murmur3, the bucketing
    // hash — or every writing task lands a file in every bucket), and
    // SORTED buckets (src, dst): the fold's anti-join and the
    // superstep join both merge against this table, and a
    // single-sorted-file bucket lets SMJ skip re-sorting the big side
    edges.select(col("src"), col("dst")).distinct()
      .withColumn("gen", lit(0))
      .repartition(NumBuckets, pmod(hash(col("src")), lit(NumBuckets)))
      .write.mode("overwrite").format("parquet")
      .option("path", stored.edgesPath)
      .bucketBy(NumBuckets, "src").sortBy("src", "dst").saveAsTable(edgesTable)
    spark.table(edgesTable)
      .groupBy(col("src").as("node")).agg(count(lit(1)).as("out_deg"))
      .write.mode("overwrite").parquet(stored.spinePath)
    stored
  }

  /** Fold an edge batch into the stored artifact: the batch's distinct
    * edges are anti-joined against the stored table (the stored side
    * reads bucket-locally), the survivors append under the given
    * generation stamp, and the spine folds forward as old degrees +
    * batch-delta degrees — cost ∝ batch; the stored edges are read
    * once (for the anti-join) and never rewritten.
    *
    * @return the advanced handle and the number of NEW edges appended
    */
  def append(spark: SparkSession, stored: Stored, batchEdges: DataFrame,
             gen: Int): (Stored, Long) = {
    require(gen > stored.spineGen,
      s"append: generation must advance past ${stored.spineGen}, got $gen")
    Checkpoints.withPersisted(batchEdges.select(col("src"), col("dst")).distinct()
      .join(spark.table(stored.edgesTable).select(col("src"), col("dst")),
        Seq("src", "dst"), "left_anti")) { fresh =>
      // The anti-join's keys (src, dst) are a SUPERSET of the bucket
      // key (src): with subset-key co-partitioning allowed, the stored
      // side reads bucket-local (no exchange of |E| rows per fold —
      // measured 5.8 → 2.6 s at the 10× smoke) and only the batch
      // shuffles. Scoped set/restore: session-wide it would perturb
      // unrelated pinned plans.
      val flag = "spark.sql.requireAllClusterKeysForCoPartition"
      val prev = spark.conf.get(flag)
      val nNew =
        try { spark.conf.set(flag, "false"); fresh.count() }
        finally spark.conf.set(flag, prev)
      // ORDER MATTERS: the spine fold must consume `fresh` BEFORE the
      // edge append lands — the anti-join's plan references the stored
      // table, and Spark's CacheManager RECOMPUTES dependent cached
      // plans when the table it references is written (so after the
      // append, `fresh` silently re-evaluates to empty against the
      // now-complete table — the measured bug: a spine frozen at
      // yesterday's degrees). Writing the new spine first pins the
      // delta while the cache still reflects the pre-append state;
      // the append itself reads the same pinned blocks.
      val next = stored.copy(spineGen = gen)
      val delta = fresh.groupBy(col("src").as("node")).agg(count(lit(1)).as("d"))
      Footers.read(spark, stored.spinePath)
        .join(delta, Seq("node"), "full_outer")
        .select(col("node"),
          (coalesce(col("out_deg"), lit(0L)) + coalesce(col("d"), lit(0L)))
            .as("out_deg"))
        .write.mode("overwrite").parquet(next.spinePath)
      fresh.withColumn("gen", lit(gen))
        .repartition(NumBuckets, pmod(hash(col("src")), lit(NumBuckets)))
        .write.mode("append").format("parquet")
        .bucketBy(NumBuckets, "src").sortBy("src", "dst")
        .saveAsTable(stored.edgesTable)
      (next, nNew)
    }
  }

  /** Base-vs-appended edge counts off the generation stamps — the
    * drift metric [[maintain]]'s trigger reads (one bucketed-table
    * aggregate, no raw-corpus scan).
    */
  def genCounts(spark: SparkSession, stored: Stored): (Long, Long) = {
    val r = spark.table(stored.edgesTable)
      .agg(sum(when(col("gen") === 0, 1L).otherwise(0L)),
        sum(when(col("gen") > 0, 1L).otherwise(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Fold the batch if the appended population is still small next to
    * the base, REBUILD (compact to a fresh gen-0 artifact) once
    * accumulated appends outgrow it — `n_new·2 > n_base` over exact
    * integer counts of the WOULD-BE state (stored ∪ this batch), so
    * the batch that causes the drift triggers the rebuild and the
    * oracle can replay the decision. Either branch holds an identical
    * edge row set; the rebuild buys back the append fragmentation and
    * resets drift accounting. The corpus edges come from the stored
    * table itself (the artifact is self-contained — no source-table
    * rescan); the caller retires the old artifact on the rebuild
    * branch.
    */
  final case class MaintainResult(stored: Stored, rebuilt: Boolean,
                                  nBase: Long, nNew: Long)

  def maintain(spark: SparkSession, stored: Stored, batchEdges: DataFrame,
               gen: Int, rebuildTable: String, rebuildBase: String): MaintainResult = {
    val (next, _) = append(spark, stored, batchEdges, gen)
    val (nBase, nNew) = genCounts(spark, next)
    if (nNew * 2 > nBase) {
      val all = spark.table(next.edgesTable).select(col("src"), col("dst"))
      MaintainResult(build(spark, all, rebuildTable, rebuildBase), true, nBase, nNew)
    } else MaintainResult(next, false, nBase, nNew)
  }

  /** PURGE propagation into the stored graph artifact (VERDICT r9 #5 —
    * the GDPR-delete verb the append fold lacks): removing a NODE
    * roster retracts every edge touching a roster node, in both
    * directions (the artifact stores the symmetric closure, so a
    * purged account appears as src of its own edges and as dst of the
    * reverse edges). A purged account's edges must not survive in the
    * parquet the queries read, so the edge side is a PHYSICAL REWRITE
    * of the survivors into a NEW bucketed table (fresh gen-0 — also
    * compacts append fragmentation); the degree spine folds a
    * RETRACTION ∝ removed edges: roster rows drop, surviving nodes
    * lose one out-degree per retracted edge they sourced, and nodes
    * whose degree hits zero leave the spine entirely (they no longer
    * exist in the graph — exactly what a from-scratch degree aggregate
    * over the surviving edges produces, which is what the oracle
    * states by re-deriving the graph from the filtered source).
    *
    * Scale shape (100 TB): the retraction delta is a broadcast
    * semi-join on dst against the bucketed edges (stored side
    * bucket-local) + a groupBy ∝ removed edges; the rewrite is one
    * edge scan + bucketed write — ∝ |E|, not corpus, and only on purge
    * events. Ranks over the purged artifact then run the unchanged
    * [[ranks]] path.
    *
    * @param roster (node) — nodes to forget; broadcast
    * @return the purged handle and the number of edges retracted
    */
  def purge(spark: SparkSession, stored: Stored, roster: DataFrame,
            newTable: String, newBase: String): (Stored, Long) = {
    Checkpoints.withPersisted(roster.select(col("node")).distinct()) { ids =>
      val edges = spark.table(stored.edgesTable).select(col("src"), col("dst"))
      // spine retraction, pinned before the rewrite: out-edges a
      // SURVIVING src loses are exactly its edges into the roster
      // (its edges FROM a roster src disappear with the src's row)
      val delta = edges
        .join(broadcast(ids).withColumnRenamed("node", "dst"), Seq("dst"), "left_semi")
        .join(broadcast(ids).withColumnRenamed("node", "src"), Seq("src"), "left_anti")
        .groupBy(col("src").as("node")).agg(count(lit(1)).as("d"))
      val next = Stored(newTable, newBase, 0)
      // the retracted-edge count is OBSERVED on the spine write: every
      // edge has its src in the spine, so a roster node retracts its
      // whole out_deg and a survivor its `d` edges into the roster
      // (Σ old out_deg − Σ new out_deg, with no job of its own)
      val obs = org.apache.spark.sql.Observation()
      Footers.read(spark, stored.spinePath)
        .join(broadcast(ids).withColumn("purged", lit(true)), Seq("node"), "left")
        .join(delta, Seq("node"), "left")
        .observe(obs, coalesce(sum(when(col("purged"), col("out_deg"))
          .otherwise(coalesce(col("d"), lit(0L)))), lit(0L)).as("retracted"))
        .filter(col("purged").isNull)
        .select(col("node"),
          (col("out_deg") - coalesce(col("d"), lit(0L))).as("out_deg"))
        .filter(col("out_deg") > 0)
        .write.mode("overwrite").parquet(next.spinePath)
      val survivors = edges
        .join(broadcast(ids).withColumnRenamed("node", "src"), Seq("src"), "left_anti")
        .join(broadcast(ids).withColumnRenamed("node", "dst"), Seq("dst"), "left_anti")
      survivors.withColumn("gen", lit(0))
        .repartition(NumBuckets, pmod(hash(col("src")), lit(NumBuckets)))
        .write.mode("overwrite").format("parquet")
        .option("path", next.edgesPath)
        .bucketBy(NumBuckets, "src").sortBy("src", "dst").saveAsTable(newTable)
      // adaptive execution drops the observed stage only when the old
      // spine is empty, and then nothing was retracted
      (next, obs.get.get("retracted").fold(0L)(_.asInstanceOf[Long]))
    }
  }

  /** Query-time PageRank over the STORED artifacts only — the same
    * [[PageRank.supersteps]] loop as the in-flow [[PageRank.run]],
    * fed from the bucketed edge table (joins on src read the edge
    * side bucket-locally) and the folded spine. Persist/checkpoint
    * lifecycle mirrors run(): bounded |E|/|V| intermediates cached
    * for the unrolled loop, released before returning, result
    * materialized through a reliable checkpoint.
    */
  def ranks(spark: SparkSession, stored: Stored, iterations: Int,
            dampingPct: Int = 85): DataFrame = {
    require(iterations >= 1, "ranks: iterations must be >= 1")
    Checkpoints.withPersisted(Footers.read(spark, stored.spinePath)) { out =>
    Checkpoints.withPersisted(spark.table(stored.edgesTable)
      .select(col("src"), col("dst"))
      .join(out.select(col("node").as("src"), col("out_deg")), "src")) { eo =>
      val n = out.count()
      val result = PageRank.supersteps(eo, out, n, iterations, dampingPct)
      // persist-bracketed checkpoint: a bare checkpoint() re-ran the
      // supersteps twice (once to count, once to write — r16)
      Checkpoints.materialize(result)
    }}
  }

  /** WARM-START rank maintenance (the incremental-rank half of VERDICT
    * r8 #1): iterate the damped update over the FOLDED artifact
    * starting from YESTERDAY'S STORED rank vector instead of uniform —
    * nodes the init has never seen (today's new nodes) start at the
    * uniform 1/|V| mass. Fewer rounds reach the same quality because
    * the start is already near the fixed point for the unchanged bulk
    * of the graph — the standard warm-restart argument for incremental
    * PageRank; with `iterations` fixed the result is still an exact
    * integer function of (stored edges, init vector), so the oracle
    * unrolls yesterday's rounds and the warm rounds verbatim and the
    * gate hash-matches.
    *
    * Exactness property the spec pins: over an UNCHANGED graph,
    * warm-starting k rounds from a j-round vector equals a (j+k)-round
    * cold start — the init plumbing adds nothing but the start point.
    *
    * Scale shape: identical to [[ranks]] (the same two exchanges per
    * round over the bucketed artifact) plus ONE |V|-row left join to
    * seat the init vector; yesterday's |V|-row rank artifact replaces
    * `iterations − k` corpus-wide rounds.
    */
  def warmStartRanks(spark: SparkSession, stored: Stored, initRanks: DataFrame,
                     iterations: Int, dampingPct: Int = 85): DataFrame = {
    require(iterations >= 1, "warmStartRanks: iterations must be >= 1")
    Checkpoints.withPersisted(Footers.read(spark, stored.spinePath)) { out =>
    Checkpoints.withPersisted(spark.table(stored.edgesTable)
      .select(col("src"), col("dst"))
      .join(out.select(col("node").as("src"), col("out_deg")), "src")) { eo =>
      val n = out.count()
      val init = out.select(col("node"))
        .join(initRanks.select(col("node"), col("rank_fp")), Seq("node"), "left")
        .select(col("node"),
          coalesce(col("rank_fp"), lit(PageRank.Scale / n)).as("rank_fp"))
      val result = PageRank.iterate(eo, out, n, init, iterations, dampingPct)
      // persist-bracketed checkpoint (see ranks — same double-compute)
      Checkpoints.materialize(result)
    }}
  }

  /** [[ranks]] as a LAZY plan (no persist/checkpoint lifecycle) — the
    * spec surface for asserting the query path's relations are the
    * stored artifacts only, never the raw corpus.
    */
  private[graft] def ranksUnmaterialized(spark: SparkSession, stored: Stored,
                                         iterations: Int, dampingPct: Int): DataFrame = {
    val out = Footers.read(spark, stored.spinePath)
    val eo = spark.table(stored.edgesTable)
      .select(col("src"), col("dst"))
      .join(out.select(col("node").as("src"), col("out_deg")), "src")
    PageRank.supersteps(eo, out, out.count(), iterations, dampingPct)
  }
}
