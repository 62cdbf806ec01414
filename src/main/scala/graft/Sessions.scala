package graft

import org.apache.spark.sql.SparkSession

/** SparkSession factory with the engine's pinned semantics.
  *
  * Pinned settings (see SURVEY.md §7.4):
  *  - `spark.sql.ansi.enabled=false` — the reference relies on SQLite's
  *    NULL-on-invalid `DATE()` parse (reference `01_staging_layer.sql:64-74`);
  *    non-ANSI Spark matches (bad parse → NULL, no throw).
  *  - `spark.sql.session.timeZone=UTC` — oracle parity for timestamp
  *    formatting (DuckDB operates on naive timestamps).
  *  - AQE on — runtime join-strategy switches, partition coalescing and
  *    skew-join splitting; this is the 100 TB story for the reference's
  *    `CREATE INDEX` (`01_staging_layer.sql:13-14`), which has no Spark
  *    analog.
  */
object Sessions {

  /** Apply the engine's pinned configs to any builder. */
  def tuned(b: SparkSession.Builder, shufflePartitions: Int): SparkSession.Builder =
    b.withExtensions(new GraftExtensions)
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled",
        sys.env.getOrElse("SPARK_GRAFT_AQE", "true"))
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // TypedImperativeAggregate (vec_sum) runs in ObjectHashAggregate,
      // whose default sort-based fallback (128 keys/partition) is
      // catastrophic for many-group sketch tallies; buffers are small
      // fixed-size arrays, so keep it hash-based.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "10000000")
      // events.parquet has shipped as TIMESTAMP(NANOS), which Spark's
      // reader rejects unless read as Long ns; harmless for the µs
      // encoding. Tables.normalizeEventTs adapts to whichever arrives.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // the iterative operators truncate lineage through reliable
      // checkpoints; let the ContextCleaner drop a checkpoint's files
      // when its RDD is GC'd (off by default — files otherwise live
      // until the operators.Checkpoints shutdown hook)
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      // let AQE coalesce shuffle partitions INSIDE cached plans: off,
      // every cached plan (Checkpoints pins and persist loans) freezes
      // its stage at the raw shuffle-partition count, and iterative
      // consumers (BPE's 20
      // merge rounds over the checkpointed vocab) pay full-width task
      // scheduling per round for a dictionary-sized frame (measured:
      // text_bpe_train 1.5 s -> 1.9 s when the r16 persist bracket
      // landed without this; recovered with it)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      // the versioned-table read paths hand Spark EXPLICIT file lists
      // (manifest-resolved, no globs); above this threshold the scan's
      // file LISTING becomes a distributed job — pure fixed overhead
      // for a bounded list of already-known paths. 1024 keeps listing
      // driver-side for every manifest-planned read while genuinely
      // huge path sets (beyond any single maintenance verb's holder
      // list) still go parallel. Scale-principled, not a local[32]
      // constant: driver-side listing of ≤1024 named paths is
      // milliseconds on any store; the default (32) was tuned for
      // glob DISCOVERY, which these reads never do.
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
      .config("spark.ui.enabled", "false")

  /** Local session sized from SPARK_GRAFT_CPUS (defaults to 32 threads). */
  def local(appName: String = "graft"): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = tuned(
      SparkSession.builder().master(s"local[$cpus]").appName(appName),
      shufflePartitions = cpus
    ).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
