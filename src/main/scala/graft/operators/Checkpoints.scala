package graft.operators

import org.apache.spark.SparkContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, count, lit, sum, xxhash64}

/** The one module that materializes intermediates. Three modes, each
  * with its own lifetime:
  *
  *  - [[materialize]] — ON DISK: write + read back under the per-JVM
  *    checkpoint root. Lineage-free, no cache entry; the returned frame
  *    lives until [[sweep]] (or JVM exit).
  *  - [[pin]] — IN MEMORY, eager, lineage-cut: a persisted flat
  *    `LogicalRDD` plan built by one job that also yields the row count
  *    and a row digest. The caller releases it — through [[withPinned]]
  *    when the pin is scoped to one call, by `unpersist()` when it
  *    rotates across rounds.
  *  - [[withPersisted]] — IN MEMORY, lazy, scoped: the frame is
  *    persisted at the session default level while `use` runs and
  *    released in a `finally`, also when `use` throws.
  *
  * Only frames that OUTLIVE their creating call keep a bare `persist()`
  * at the call site (the staged views of `Pipeline.stageAndPersist`,
  * the returned labels of `ConnectedComponents.run`).
  *
  * On-disk lifetime. The iterative operators (PageRank,
  * ConnectedComponents.runStar) materialize their result on disk
  * because the cache manager does NOT own `localCheckpoint` (it persists
  * outside it, where `Dataset.unpersist` cannot release the blocks —
  * PLANS.md #20), so the cache-leak fix traded stranded memory for
  * checkpoint FILES: Spark never cleans reliable checkpoints by default,
  * and a long Verify/Bench session leaked one |V|-row directory per
  * iterative invocation (VERDICT r5 "what's wrong" #2). Three bounds
  * close that:
  *
  *  1. ONE per-JVM root, deleted by a shutdown hook — no session can
  *     leak past its own lifetime;
  *  2. `spark.cleaner.referenceTracking.cleanCheckpoints=true`
  *     (Sessions.tuned) — GC-collected checkpointed RDDs drop their
  *     files mid-session;
  *  3. [[sweep]] — an explicit quiesce-point clean for the
  *     deterministic bound the spec asserts (GC-driven cleaning has no
  *     testable deadline). Verify and Bench call it between queries.
  *
  * Sweep contract: every previously returned checkpointed frame is
  * DEAD after a sweep (its files are gone; re-reading it throws).
  * Callers invoke it only at points where prior results are fully
  * consumed — between Bench reps/queries, between Verify writes —
  * which is exactly where `spark.catalog.clearCache()` already sits.
  */
object Checkpoints {

  private lazy val root: java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory("graft-ckpt")
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteTree(p)))
    p
  }

  /** Recursive delete shared by every local-artifact lifecycle in the
    * engine (checkpoint roots here, retired stored indexes in
    * ExtQueries, gate fixtures) — delegates to the [[TableStore]]
    * facade so the one storage-IO seam owns the implementation; the
    * storage layer itself calls `TableStore.get.deleteTree` directly.
    */
  private[graft] def deleteTree(p: java.nio.file.Path): Unit =
    TableStore.get.deleteTree(p.toString)

  /** Point the context at the per-JVM root (idempotent — an existing
    * checkpoint dir, e.g. a streaming test's, is left alone).
    */
  def ensure(sc: SparkContext): Unit = synchronized {
    if (sc.getCheckpointDir.isEmpty) sc.setCheckpointDir(root.toString)
  }

  /** Delete every checkpoint under the context's checkpoint dir (the
    * `rdd-*` directories under the per-context UUID dir). Only touches
    * checkpoints under OUR root — a caller-supplied checkpoint dir is
    * never swept.
    */
  def sweep(sc: SparkContext): Unit = synchronized {
    checkpointDir(sc)
      .filter(p => p.startsWith(root) && TableStore.get.isDirectory(p.toString))
      .foreach(p => TableStore.get.listNames(p.toString)
        .foreach(n => TableStore.get.deleteTree(s"$p/$n")))
  }

  /** The context's checkpoint dir as a local path, if one is set. */
  private def checkpointDir(sc: SparkContext): Option[java.nio.file.Path] =
    sc.getCheckpointDir.map(d =>
      java.nio.file.Paths.get(Option(new java.net.URI(d).getPath).getOrElse(d)))

  /** Materialize a frame ONCE behind a durable, lineage-free scan —
    * the role `Dataset.checkpoint()` plays for the iterative operators,
    * without either of its costs (r16 found the double computation:
    * checkpoint runs the plan for its eager count and AGAIN inside
    * `doCheckpoint()`; r17 measured the r16 persist-bracket fix still
    * paying a cache materialization PLUS a many-partition checkpoint
    * write of the cached blocks — `graph_pagerank_stored` regressed
    * 1.4→2.8 s on exactly that). The guide's third option (§3.3
    * "materialise an intermediate: write + read back") is the cheapest
    * of the three here: ONE write job runs the plan exactly once
    * (AQE-coalesced output files), and the read-back is a pinned-schema
    * parquet scan — no inference job, no cache entry to strand, no
    * lineage into any cache (`sc.getPersistentRDDs` stays empty, the
    * PageRank contract).
    *
    * Files land under the per-JVM checkpoint root, so the lifetime
    * contract is unchanged: swept at the same quiesce points, deleted
    * by the shutdown hook, and a returned frame is DEAD after [[sweep]].
    */
  def materialize(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    ensure(spark.sparkContext)
    val dir = spark.sparkContext.getCheckpointDir.get.stripSuffix("/") +
      "/df-" + java.util.UUID.randomUUID().toString.replace("-", "")
    df.write.parquet(dir)
    spark.read.schema(df.schema).parquet(dir)
  }

  /** A [[pin]]ned frame with the row count and row digest its eager
    * job computed.
    */
  final case class Pinned(df: DataFrame, rows: Long, digest: Long)

  /** Pin a frame IN MEMORY behind a FLAT, persisted `LogicalRDD` plan
    * (the SNIPPETS Dataset-from-plan trick), built eagerly. Three
    * properties matter beyond a plain `persist()`:
    *
    *  1. LINEAGE CUT: the returned plan no longer references its
    *     sources. A concurrent `saveAsTable` append to a source table
    *     cannot invalidate it through the CacheManager's recacheByPlan
    *     (a persisted-but-lineage-bearing delta would be recomputed
    *     against the POST-append table — the Bm25Index
    *     spine-before-append hazard), and an iterative operator whose
    *     round references its predecessor k times keeps a flat logical
    *     plan instead of a k^rounds-node one (a star round references
    *     its predecessor ~8×; un-truncated, analysis OOMs after ~10
    *     rounds on a 200-hop chain). `localCheckpoint` also truncates,
    *     but persists OUTSIDE the cache manager, where `unpersist`
    *     cannot release it.
    *  2. EAGER: one job materializes the blocks before any concurrent
    *     consumer starts, so overlapping readers never race to compute
    *     the same cache entry twice.
    *  3. COUNTED: that same job returns the row count and an
    *     order-insensitive digest — Σ xxhash64(row) in wrapping long
    *     arithmetic. Two DISTINCT row sets with different digests are
    *     provably different, so `ConnectedComponents.runStar`'s
    *     convergence check skips its exact union-count proof in
    *     equal-count-but-still-moving rounds at no extra job.
    *
    * The caller owns the release ([[withPinned]], or `unpersist()` for
    * a round rotation); a failing eager job releases the blocks before
    * rethrowing.
    */
  def pin(df: DataFrame): Pinned = {
    val out = org.apache.spark.sql.GraftSqlBridge
      .fromInternalRdd(df.sparkSession, df.queryExecution.toRdd, df.schema)
      .persist()
    val r =
      try out.agg(count(lit(1)), sum(xxhash64(out.columns.map(col): _*))).head()
      catch { case t: Throwable => out.unpersist(); throw t }
    Pinned(out, r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** Loan `df` persisted (lazily, at the session default level) to
    * `use`, and unpersist it when `use` returns or throws. `use` must
    * not return a frame with lineage into the persisted one that is
    * read after the loan ends — it would recompute from the source.
    */
  def withPersisted[T](df: DataFrame)(use: DataFrame => T): T =
    release(df.persist())(use)

  /** Loan a [[pin]] of `df` to `use`, released like [[withPersisted]]. */
  def withPinned[T](df: DataFrame)(use: DataFrame => T): T =
    release(pin(df).df)(use)

  private def release[T](held: DataFrame)(use: DataFrame => T): T =
    try use(held) finally { held.unpersist(); () }

  /** Number of live checkpoint directories under the context's
    * checkpoint dir — the observable the hygiene spec bounds.
    */
  def liveCount(sc: SparkContext): Long =
    checkpointDir(sc).filter(p => TableStore.get.isDirectory(p.toString))
      .fold(0L)(p => TableStore.get.listNames(p.toString).length.toLong)
}
