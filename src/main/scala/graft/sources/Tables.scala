package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.Footers

/** Readers for the driver-generated TPC-H-ish parquet tables (TESTDATA.md)
  * plus generic source/sink helpers mirroring the reference's I/O surface
  * (reference `README.md:72-76` — CSV export; base tables "must exist",
  * `README.md:142`).
  */
object Tables {

  /** All driver-provided tables at a scale-factor directory. */
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** One table, typed from its footer on the driver (no inference job). */
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    Footers.read(spark, s"$dir/$name.parquet")

  /** The events stream table, normalized to the engine's internal shape:
    * `ts_ns` (Long, exact epoch nanoseconds — totally ordered, matches
    * DuckDB's `epoch_ns(ts)`) plus `ts` as TimestampType (µs) for
    * formatting/windowing. See [[normalizeEventTs]] for the encodings.
    */
  def events(spark: SparkSession, dir: String): DataFrame =
    normalizeEventTs(load(spark, dir, "events"))

  /** Normalize an events-shaped frame's `ts` column to
    * (`ts_ns`: Long ns, `ts`: TimestampType), adapting to whatever
    * physical encoding the upstream writer chose. A 100 TB pipeline
    * survives an upstream producer changing timestamp encoding; the
    * driver has shipped both of these so far:
    *
    *  - INT64 TIMESTAMP(NANOS): Spark's reader surfaces it as Long ns
    *    under `spark.sql.legacy.parquet.nanosAsLong` (Sessions pins it).
    *  - INT64 TIMESTAMP(MICROS) (±isAdjustedToUTC): read as
    *    TimestampType / TimestampNTZType. `unix_micros` only accepts
    *    TimestampType, so NTZ is cast first — exact under the pinned
    *    UTC session timezone (Sessions), which also makes the values
    *    identical to DuckDB's naive-timestamp `epoch_ns(ts)` (µs·1000).
    *
    * Pure column expressions, so it applies to streaming frames too
    * (StreamingStage.eventsStream). Output column order matches the
    * historical shape: original columns with `ts`→`ts_ns` in place,
    * `ts` appended last. Any other encoding fails loudly here — one
    * pointed error beats 77 downstream DATATYPE_MISMATCH failures
    * (the round-6 lesson; see also EnvironmentCanarySpec).
    */
  def normalizeEventTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumnRenamed("ts", "ts_ns")
          .withColumn("ts", timestamp_micros(expr("ts_ns DIV 1000")))
      case TimestampType | TimestampNTZType =>
        val cols = df.columns.map {
          case "ts" => expr("unix_micros(cast(ts as timestamp)) * 1000L").as("ts_ns")
          case c    => col(c)
        } :+ col("ts").cast(TimestampType).as("ts")
        df.select(cols.toIndexedSeq: _*)
      case other =>
        throw new IllegalStateException(
          s"events.ts arrived as $other — expected INT64 ns (nanosAsLong) " +
            "or TIMESTAMP/TIMESTAMP_NTZ µs; teach Tables.normalizeEventTs " +
            "this encoding (and EnvironmentCanarySpec will pinpoint the drift)")
    }
  }

  /** Register every table as a temp view so `spark.sql` can address the
    * same relations the DuckDB oracle sees (SURVEY.md §2 S3/S4).
    */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))

  /** CSV sink for business-user export (reference `README.md:72-76`).
    * `coalesce(1)` only for the human-readable single file — the
    * distributed write path (no coalesce) is the 100 TB default.
    */
  def writeCsv(df: DataFrame, path: String, singleFile: Boolean = false): Unit = {
    val out = if (singleFile) df.coalesce(1) else df
    out.write.option("header", "true").mode("overwrite").csv(path)
  }

  /** Bucketed parquet sink for shuffle-free downstream joins (the
    * scale-out replacement for the reference's B-tree index,
    * `01_staging_layer.sql:13-14`).
    */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String, buckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(table)

  /** Hive-style partitioned layout: one directory per value of
    * `partCol`, rows within each file sorted by `sortCol`. The 100 TB
    * table-layout op — a reader filtering on the partition column scans
    * ONLY the matching directories (partition pruning, visible as
    * `PartitionFilters` in the plan with the non-matching files never
    * listed as input), and the in-file sort keeps column chunks
    * min/max-tight for digest-range skipping.
    */
  def writePartitioned(df: DataFrame, path: String, partCol: String,
                       sortCol: String): Unit =
    // the partition column LEADS the sort: a partitionBy write requires
    // ordering by the partition column, so the planner inserts its own
    // Sort(partCol) and EliminateSorts silently DROPS a caller sort
    // that doesn't satisfy it (verified: sortWithinPartitions(sortCol)
    // alone left files in input order) — prefixing partCol satisfies
    // the writer's requirement, so no extra Sort is inserted and the
    // secondary sortCol order actually reaches the files
    df.sortWithinPartitions(
        org.apache.spark.sql.functions.col(partCol),
        org.apache.spark.sql.functions.col(sortCol))
      .write.mode("overwrite")
      .partitionBy(partCol)
      .parquet(path)
}
