package graft.streaming

import java.time.ZoneOffset
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

import graft.operators.Scratch

/** Structured Streaming mode for the engine — the incremental capability
  * the reference lacks entirely (its views are batch-only; SURVEY.md §7.1
  * item 7d). Streams are declared with the same Column expressions as the
  * batch layer, so batch/streaming parity is by construction.
  *
  * Scale design: the watermark bounds state (2 h of hourly windows /
  * pending event-ids per key); state lives in the state store keyed by
  * (window, event_type) or event_id, which shuffles by key exactly like
  * the batch groupBy — no driver-side state.
  */
object StreamingStage {

  /** Event stream from the parquet file, schema pinned from a batch read
    * (streaming sources require an explicit schema). `ts` normalization
    * is shared with the batch reader (Tables.normalizeEventTs) so both
    * paths adapt to whichever physical encoding the upstream writer
    * chose — the conversion is pure column expressions, streaming-safe.
    */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/events.parquet"
    val schema = spark.read.parquet(path).schema
    graft.sources.Tables.normalizeEventTs(
      spark.readStream.schema(schema).parquet(stageAsDir(path)))
  }

  /** Spark's file stream source only accepts directories; the testdata
    * ships single parquet files, so stage a copy under a per-input temp
    * dir (idempotent). Production streams read real directories/Kafka —
    * this shim exists only for the file-per-table test layout.
    */
  private def stageAsDir(file: String): String = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val src = Paths.get(file)
    // key on a real digest of the path (hashCode collides) AND the
    // source size+mtime, so a regenerated input at the same path gets a
    // fresh staging dir instead of silently serving the old snapshot
    val md = java.security.MessageDigest.getInstance("MD5")
    val pathKey = md.digest(file.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
    val stamp = s"${Files.size(src)}-${Files.getLastModifiedTime(src).toMillis}"
    val dirPath = Paths.get(System.getProperty("java.io.tmpdir"),
      s"graft-stream-$pathKey-$stamp")
    val dst = dirPath.resolve(src.getFileName)
    if (!Files.exists(dst)) {
      Files.createDirectories(dirPath)
      Files.copy(src, dst, StandardCopyOption.REPLACE_EXISTING)
    }
    dirPath.toString
  }

  /** Watermarked hourly tumbling-window aggregation. Sum uses the
    * fixed-point pattern so partial/final aggregation order (and batch vs
    * streaming incremental merge) cannot change the result.
    */
  def hourlyAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(round(col("value") * 1000000).cast("long")).as("sum_fp"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("event_type"),
        col("n_events"),
        (col("sum_fp").cast("double") / 1000000).as("sum_value"))

  /** Streaming data-quality monitoring (the E117 expectation suite on
    * a STREAM — Deequ-on-streams): per hourly window, row volume plus
    * two rule metrics in exact integer ppm — values over the 100.0
    * range limit (has real violations in the fixture) and event types
    * outside the known domain (the passing rule) — with the window's
    * verdict. State is one counters row per (window) group under the
    * watermark, so quality monitoring costs what the hourly agg costs;
    * a batch run of the same conditional sums is the oracle, proving
    * the in-flight metrics equal the after-the-fact audit.
    */
  def qualityMetrics(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("value") > 100.0, 1L).otherwise(0L)).as("n_over"),
        sum(when(!col("event_type").isin(
          "click", "view", "purchase", "signup", "error"), 1L).otherwise(0L))
          .as("n_bad_type"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("n_rows"),
        expr("n_over * 1000000 DIV n_rows").as("over_limit_ppm"),
        expr("n_bad_type * 1000000 DIV n_rows").as("bad_type_ppm"),
        (expr("n_bad_type * 1000000 DIV n_rows") === 0 &&
          expr("n_over * 1000000 DIV n_rows") <= 200000).as("passed"))

  /** Streaming exact dedup: duplicates within the watermark horizon are
    * dropped by key state (`dropDuplicatesWithinWatermark`), the
    * incremental form of the batch hash-groupBy dedup.
    */
  def dedupEvents(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("event_id")
      .select(
        col("event_id"), col("user_id"), col("event_type"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_str"),
        col("value"), col("props"))

  /** Streaming state partition count: every stateful operator opens one
    * state store (stream-stream joins: four) per shuffle partition, and
    * the count is frozen into the checkpoint at query start — so size it
    * to ACTIVE-state volume, not the batch shuffle width. At bench scale
    * inheriting 32 was pure store-init/maintenance overhead (interval
    * join measured 8.2 s → 2.8 s at 8). A 100 TB deployment raises this
    * with its state volume; a restarted query must keep its original
    * value.
    */
  val StatePartitions = 8

  /** Run a streaming DataFrame to completion over the static input
    * (Trigger.AvailableNow) into an in-memory table and return the
    * result — the batch-equivalence harness for the oracle gate. Memory
    * sink is test-scale only; production would writeStream to
    * parquet/kafka with the identical plan. Applies [[StatePartitions]]
    * for the duration of the query start (the value is captured at
    * start, so restoring immediately after is safe).
    */
  def runToTable(df: DataFrame, name: String, mode: String): DataFrame = {
    val spark = df.sparkSession
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", StatePartitions.toString)
    val q =
      try df.writeStream
        .format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(Trigger.AvailableNow())
        .start()
      finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    q.awaitTermination()
    spark.table(name)
  }

  /** Streaming hourly aggregate, run to completion (complete mode: with
    * AvailableNow + append, windows newer than the final watermark would
    * never emit).
    */
  def streamingHourlyAgg(spark: SparkSession, dir: String): DataFrame =
    runToTable(hourlyAgg(eventsStream(spark, dir)), "streaming_hourly_agg", "complete")

  /** Idempotent per-micro-batch commit — the foreachBatch half of
    * streaming exactly-once: Structured Streaming guarantees each
    * batchId is REDELIVERED (at-least-once) after a crash between
    * sink write and offset commit; the sink must make the redelivery
    * a no-op. Contract: (a) a batch directory becomes visible ONLY
    * via its `_COMMITTED` marker, written by one atomic move after
    * the parquet lands (readers see fully-written data or nothing);
    * (b) a replayed batchId whose marker exists is SKIPPED — even if
    * the retry carries different rows (the spec replays a corrupted
    * frame); (c) a torn previous attempt (dir without marker) is
    * discarded and rewritten. This is the same commit discipline as
    * [[graft.operators.Publish]], keyed by batchId instead of max+1
    * because idempotence (not versioning) is the contract here.
    *
    * @return true if this call committed the batch, false if the
    *         marker already existed (replay detected)
    */
  def commitBatch(df: DataFrame, rootPath: String, batchId: Long): Boolean = {
    // control-plane IO through the [[graft.operators.TableStore]]
    // facade (VERDICT r15 #5): this is the exactly-once COMMIT path of
    // a production sink, not a test fixture — on a real deployment the
    // marker swap must be the object store's atomic publish, same as
    // Publish's pointer
    val store = graft.operators.TableStore.get
    val root = graft.operators.TableStore.canonicalRoot(rootPath)
    store.createDirectories(root)
    val dir = s"$root/" + "batch-%05d".format(batchId)
    val marker = s"$dir/_COMMITTED"
    if (store.exists(marker)) false
    else {
      // a dir without its marker is a torn earlier attempt: discard
      store.deleteTree(dir)
      df.write.parquet(dir)
      require(store.exists(s"$dir/_SUCCESS"),
        s"commitBatch: batch $batchId write left no _SUCCESS marker")
      val tmp = s"$root/_COMMITTED.tmp-$batchId"
      store.writeString(tmp, batchId.toString)
      store.atomicSwap(tmp, marker)
      true
    }
  }

  /** Read back the highest COMMITTED batch (complete-mode output: the
    * last batch holds the full table). Uncommitted/torn dirs are
    * unreachable by construction — only marker-bearing dirs count.
    */
  def readCommitted(spark: SparkSession, rootPath: String): DataFrame = {
    val store = graft.operators.TableStore.get
    val root = graft.operators.TableStore.canonicalRoot(rootPath)
    // newest first by the NUMERIC id, not the name (ADVICE r8): text
    // order over 'batch-%05d' breaks at id 100000, where the format
    // widens to 6 digits and 'batch-100000' < 'batch-99999' as text;
    // the first committed one wins, so only torn newer dirs cost a probe
    val last = store.listNames(root)
      .filter(n => n.startsWith("batch-") && n.stripPrefix("batch-").forall(_.isDigit))
      .sortBy(n => -n.stripPrefix("batch-").toLong)
      .find(n => store.exists(s"$root/$n/_COMMITTED"))
    spark.read.parquet(s"$root/${last.getOrElse(
      sys.error(s"readCommitted: no committed batch under $root"))}")
  }

  /** The hourly aggregate streamed through an EXACTLY-ONCE foreachBatch
    * file sink (`streaming_publish_exactly_once`): checkpointed source
    * offsets give at-least-once redelivery; [[commitBatch]]'s
    * batchId-keyed idempotent commit upgrades it to exactly-once — the
    * standard Structured Streaming contract for file/object-store
    * sinks. The gate reads the committed output BACK FROM DISK and
    * hash-matches it against the batch oracle, so the whole
    * stream→commit→read chain is what's proven, not the in-memory
    * frame.
    */
  def streamingPublishExactlyOnce(spark: SparkSession, dir: String): DataFrame = {
    val root = Scratch.dir("graft-eo-publish")
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", StatePartitions.toString)
    val q =
      try hourlyAgg(eventsStream(spark, dir)).writeStream
        .outputMode("complete")
        .option("checkpointLocation", s"$root/_chk")
        .foreachBatch { (b: Dataset[org.apache.spark.sql.Row], id: Long) =>
          commitBatch(b.toDF(), root, id); ()
        }
        .trigger(Trigger.AvailableNow())
        .start()
      finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    q.awaitTermination()
    readCommitted(spark, root)
  }

  /** STREAMING A-ES weighted sample — [[graft.ExtQueries.sampleWeighted]]
    * over an unbounded arrival stream: the priority `u^(1/w)` is a pure
    * row function (comparable across micro-batches) and "keep the top-B
    * by priority" is a COMMUTATIVE, merge-idempotent fold, so the final
    * sample is EXACTLY the batch A-ES sample no matter how arrivals
    * split — the gate reuses the batch oracle verbatim, the same
    * batch≡streaming posture as the three sessionizer generations.
    * Per-batch work is the distributed bounded-heap top-B; the carried
    * state is B rows (the documented bounded-driver-state class —
    * centroids, codebooks — NOT a corpus collect).
    *
    * Scale shape (100 TB ingest): each micro-batch contributes ≤B
    * candidate rows regardless of batch size; nothing global ever
    * sorts, and a re-run from any checkpoint converges to the same
    * sample because merging top-Bs loses no global winner.
    */
  def streamingWeightedSample(spark: SparkSession, dir: String): DataFrame = {
    val B = 100
    val path = s"$dir/documents.parquet"
    val schema = spark.read.parquet(path).schema
    // stage the corpus as 4 arrival files so AvailableNow +
    // maxFilesPerTrigger=1 delivers a genuinely multi-batch run
    val staged = Scratch.dir("graft-sws")
    spark.read.parquet(path).repartitionByRange(4, col("doc_id"))
      .write.mode("overwrite").parquet(staged)
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(staged)
    val u = (conv(substring(md5(col("doc_id").cast("string").cast("binary")), 1, 13),
      16, 10).cast("double") + lit(1.0)) / lit(math.pow(2.0, 52))
    val keyed = stream.filter(col("n_chars") > 0)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        pow(u, lit(1.0) / col("n_chars").cast("double")).as("__k"))
    val state =
      scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long, Double)]
    var nBatches = 0
    val chk = Scratch.dir("graft-sws-chk")
    val q = keyed.writeStream
      .option("checkpointLocation", chk)
      .foreachBatch { (b: Dataset[org.apache.spark.sql.Row], _: Long) =>
        nBatches += 1
        val top = b.orderBy(col("__k").desc, col("doc_id")).limit(B).collect()
        state ++= top.map(r =>
          (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        val merged = state.sortBy(t => (-t._4, t._1)).take(B)
        state.clear(); state ++= merged
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    require(nBatches >= 2,
      s"fixture must arrive in multiple micro-batches, got $nBatches")
    import spark.implicits._
    state.toSeq.toDF("doc_id", "lang", "n_chars", "__k")
      .withColumn("sel_rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("__k").desc, col("doc_id"))).cast("int"))
      .drop("__k")
  }

  def streamingExpectationSuite(spark: SparkSession, dir: String): DataFrame =
    runToTable(qualityMetrics(eventsStream(spark, dir)),
      "streaming_expectation_suite", "complete")

  /** Micro-batch commit INTO THE VERSIONED STORE (VERDICT r8 #5 — the
    * composition of [[commitBatch]]'s batchId idempotence with
    * [[graft.operators.Publish]]'s version history): each micro-batch
    * publishes a WAP version carrying its batchId as `_META`, and a
    * REDELIVERED batchId (Structured Streaming's at-least-once
    * contract after a crash between sink write and offset commit) is
    * detected by comparing against the CURRENT version's batchId —
    * batch ids are monotone per query, so `last >= incoming` means
    * replay, and the store is untouched even if the retry carries
    * different rows. Unlike [[commitBatch]] (latest-batch-wins flat
    * dirs), every committed batch stays a TIME-TRAVELABLE version.
    *
    * Crash contract, composed from the two layers': a crash anywhere
    * before Publish's pointer swap leaves the previous version current
    * and its batchId in force — the replay re-publishes under a fresh
    * (burned-number) version name. A crash after the swap means the
    * batch committed — the replay sees its own batchId current and
    * no-ops. Either way exactly one pointer-history version per
    * batchId.
    *
    * @return true if this call published, false on replay detection
    */
  def publishVersioned(df: DataFrame, rootPath: String, batchId: Long): Boolean = {
    val last = graft.operators.Publish.currentVersion(rootPath)
      .flatMap(v => graft.operators.Publish.readMeta(rootPath, v).get("batchId"))
      .map(_.toLong)
    if (last.exists(_ >= batchId)) false
    else {
      graft.operators.Publish.publish(df, rootPath,
        meta = Map("batchId" -> batchId.toString))
      true
    }
  }

  /** `streaming_versioned_publish`: two ingest waves (`event_id % 2`
    * splits the corpus) stream through ONE checkpointed query run
    * twice with AvailableNow — batch 0 sees wave 1, batch 1 the full
    * corpus (complete mode) — and each micro-batch lands as a
    * versioned publish. The gate then TIME-TRAVELS the pointer
    * history: per version, the batchId from `_META` plus exact
    * aggregates of the version's rows read back from disk. The oracle
    * states v00001 = the hourly aggregate over wave 1 and v00002 =
    * over everything, so the hash proves stream → versioned commit →
    * history → read-back in one chain.
    */
  def streamingVersionedPublish(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Publish
    val root = Scratch.dir("graft-vpub")
    val stage = Scratch.dir("graft-vpub-src")
    val ev = graft.sources.Tables.events(spark, dir)
    def runWave(): Unit = {
      val sch = spark.read.parquet(stage).schema
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", StatePartitions.toString)
      val q =
        try hourlyAgg(spark.readStream.schema(sch).parquet(stage)).writeStream
          .outputMode("complete")
          .option("checkpointLocation", s"$root/_chk")
          .foreachBatch { (b: Dataset[org.apache.spark.sql.Row], id: Long) =>
            publishVersioned(b.toDF(), root, id); ()
          }
          .trigger(Trigger.AvailableNow())
          .start()
        finally spark.conf.set("spark.sql.shuffle.partitions", prev)
      q.awaitTermination()
    }
    ev.filter(col("event_id") % 2 === 0).write.mode("append").parquet(stage)
    runWave()
    ev.filter(col("event_id") % 2 =!= 0).write.mode("append").parquet(stage)
    runWave()
    val versions = (Publish.staleVersions(root).filter(_.matches("v\\d+"))
      :+ Publish.currentVersion(root).getOrElse(
        sys.error(s"streamingVersionedPublish: nothing published under $root")))
      .sorted
    versions.map { v =>
      val bid = Publish.readMeta(root, v).getOrElse("batchId",
        sys.error(s"version $v has no batchId meta")).toLong
      Publish.readVersion(spark, root, v)
        .agg(count(lit(1)).as("n_rows"),
          sum(col("n_events")).as("n_events_total"),
          sum(expr("CAST(round(sum_value * 1000000.0) AS BIGINT)"))
            .as("sum_fp_total"))
        .select(lit(v).as("version"), lit(bid).as("batch_id"),
          col("n_rows"), col("n_events_total"), col("sum_fp_total"))
    }.reduce(_.unionByName(_))
  }

  /** `streaming_vacuum_replay` (VERDICT r9 #2): VACUUM composed with
    * the streaming version history — the retention window, the
    * burned-number contract, and batchId replay detection must hold
    * TOGETHER or the store's time-travel history can silently alias.
    * The chain: three ingest waves (`event_id % 3`) through ONE
    * checkpointed query → batches 0/1 publish as v00001/v00002; a
    * vacuum (`keepLast = 1`) physically reclaims v00001 (its number
    * stays burned via the `.purged` marker); a REDELIVERED batchId 0
    * (the at-least-once crash-replay case, now arriving AFTER its
    * version was vacuumed) must still no-op — replay detection reads
    * the CURRENT version's batchId, which vacuum never touches; then
    * batch 2 publishes and must land as v00003, NOT a recycled
    * v00001 — a reused name would let one version string refer to two
    * different micro-batch contents across the vacuum boundary.
    *
    * Each invariant is require()d in-line (a violation errs the gate)
    * AND restated in the emitted rows: per-version status + batchId
    * meta + disk read-back aggregates, plus a `replay` row proving the
    * stale redelivery published nothing. The oracle restates the
    * retained window's aggregates from the raw table.
    */
  def streamingVacuumReplay(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Publish
    val root = Scratch.dir("graft-vacrp")
    val stage = Scratch.dir("graft-vacrp-src")
    val ev = graft.sources.Tables.events(spark, dir)
    def runWave(): Unit = {
      val sch = spark.read.parquet(stage).schema
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      val q =
        try {
          spark.conf.set("spark.sql.shuffle.partitions", StatePartitions.toString)
          hourlyAgg(spark.readStream.schema(sch).parquet(stage)).writeStream
            .outputMode("complete")
            .option("checkpointLocation", s"$root/_chk")
            .foreachBatch { (b: Dataset[org.apache.spark.sql.Row], id: Long) =>
              publishVersioned(b.toDF(), root, id); ()
            }
            .trigger(Trigger.AvailableNow())
            .start()
        } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
      q.awaitTermination()
    }
    ev.filter(col("event_id") % 3 === 0).write.mode("append").parquet(stage)
    runWave() // batch 0 → v00001
    ev.filter(col("event_id") % 3 === 1).write.mode("append").parquet(stage)
    runWave() // batch 1 → v00002
    val vacuumed = Publish.vacuumRetain(root, keepLast = 1)
    require(vacuumed == Seq("v00001"),
      s"streamingVacuumReplay: expected v00001 reclaimed, got $vacuumed")
    // stale redelivery of batch 0 AFTER its version was vacuumed: the
    // current version's batchId (1) still outranks it — must no-op
    val replayPublished = publishVersioned(
      hourlyAggBatch(ev.filter(col("event_id") % 3 === 0)), root, batchId = 0)
    require(!replayPublished,
      "streamingVacuumReplay: stale batchId 0 republished after vacuum")
    ev.filter(col("event_id") % 3 === 2).write.mode("append").parquet(stage)
    runWave() // batch 2 → must be v00003 (v00001's number stays burned)
    val current = Publish.currentVersion(root)
    require(current.contains("v00003"),
      s"streamingVacuumReplay: batch 2 landed as $current, expected v00003 " +
        "(vacuumed version name must never be reused)")
    def versionRow(v: String): DataFrame = {
      val dirLive = java.nio.file.Files.isDirectory(
        java.nio.file.Paths.get(root, v))
      if (!dirLive)
        spark.range(1).select(lit(v).as("version"), lit("vacuumed").as("status"),
          lit(null).cast("long").as("batch_id"), lit(null).cast("long").as("n_rows"),
          lit(null).cast("long").as("n_events_total"),
          lit(null).cast("long").as("sum_fp_total"))
      else {
        val bid = Publish.readMeta(root, v).getOrElse("batchId",
          sys.error(s"version $v has no batchId meta")).toLong
        val status = if (current.contains(v)) "current" else "retained"
        Publish.readVersion(spark, root, v)
          .agg(count(lit(1)).as("n_rows"),
            sum(col("n_events")).as("n_events_total"),
            sum(expr("CAST(round(sum_value * 1000000.0) AS BIGINT)"))
              .as("sum_fp_total"))
          .select(lit(v).as("version"), lit(status).as("status"),
            lit(bid).as("batch_id"), col("n_rows"), col("n_events_total"),
            col("sum_fp_total"))
      }
    }
    val replayRow = spark.range(1).select(
      lit("replay_b00000").as("version"), lit("noop").as("status"),
      lit(0L).as("batch_id"), lit(null).cast("long").as("n_rows"),
      lit(null).cast("long").as("n_events_total"),
      lit(null).cast("long").as("sum_fp_total"))
    Seq("v00001", "v00002", "v00003").map(versionRow)
      .reduce(_.unionByName(_)).unionByName(replayRow)
  }

  /** [[hourlyAgg]] as a plain batch plan (no watermark) — the frame a
    * redelivered micro-batch would carry into [[publishVersioned]].
    */
  private def hourlyAggBatch(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(round(col("value") * 1000000).cast("long")).as("sum_fp"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("event_type"),
        col("n_events"),
        (col("sum_fp").cast("double") / 1000000).as("sum_value"))

  /** Streaming hourly DISTINCT-USER estimates: the KMV sketch aggregate
    * running INSIDE a watermarked streaming aggregation — the sketch
    * buffer (≤ k longs) is the state-store value per (hour, type)
    * group, so "unique users per hour" streams with bounded state
    * where exact streaming distinct would hold every user id seen.
    * Micro-batch increments merge into the stored sketch by the same
    * min-k path as batch partial aggregation, so the final estimate
    * equals the batch computation — which is what lets the DuckDB twin
    * (the standard min-k arithmetic over each hour's distinct set)
    * hash-gate a STREAMING query.
    */
  def streamingDistinctUsers(spark: SparkSession, dir: String): DataFrame = {
    val agg = eventsStream(spark, dir)
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(call_function("kmv_sketch", col("user_id").cast("string"), lit(64)).as("sk"),
        count(lit(1)).as("n_events"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("event_type"), col("n_events"),
        round(graft.ExtQueries.kmvEstimate(col("sk"), 64), 6).as("n_users_est"))
    runToTable(agg, "streaming_distinct_users", "complete")
  }

  /** STREAMING near-dup detection against the stored band state — the
    * streaming face of `pipeline_dedup_incremental`: documents arrive
    * as a stream, each is signatured+banded in-flight (stateless
    * expression work), and a stream–static join against the corpus
    * band state emits (new, corpus) near-dup pairs as they arrive.
    * Entirely stateless on the stream side: no watermark, no state
    * store — the "state" is the STATIC band table (in production the
    * stored, bucketed E85 artifact; re-planned per micro-batch here).
    *
    * Semantics vs the batch incremental: covers new-vs-CORPUS pairs
    * only (new-vs-new needs stream-global counts a per-row pipeline
    * can't see — route the accumulated batch through
    * `pipeline_dedup_incremental` for those), and the bucket cap
    * applies to the CORPUS band size (arrival-order independence: a
    * verdict emitted for doc N cannot depend on docs N+1…). Each
    * stream row expands at most `cap` pairs, so per-row work is
    * bounded. A pair recurs once per shared band; the sink-side
    * `distinct()` (standard exactly-once sink dedup) collapses them.
    */
  /** The batch-split documents stream, signatured + banded in-flight:
    * the near-dup corpus shape (base + shifted copies of every 10th
    * doc, mirroring ExtQueries.withNearDups), `doc_id % mod == 0`
    * split only, then one stateless `minhash_bands` pass per doc.
    * Split choice matters: copies sit at +1000000, and
    * 1000000 ≡ 1 (mod 7) → a planted (d, d+1000000) pair STRADDLES a
    * %7 split (the cross-join shape [[streamingDedupBands]] wants),
    * while 1000000 ≡ 0 (mod 5) → a %5 split keeps every planted pair
    * WITHIN the batch (the within-stream shape
    * [[streamingDedupBandsStateful]] needs a non-vacuous gate for).
    */
  private def batchBandedStream(spark: SparkSession, dir: String,
                                mod: Int): DataFrame = {
    val path = s"$dir/documents.parquet"
    val schema = spark.read.parquet(path).schema
    val raw = spark.readStream.schema(schema).parquet(stageAsDir(path))
    val base = raw.select(col("doc_id"), split(col("text"), " ").as("words"))
    val stream = base.unionByName(
        base.filter(col("doc_id") % 10 === 0).select(
          (col("doc_id") + lit(1000000L)).as("doc_id"),
          expr("slice(words, 6, greatest(size(words) - 5, 0))").as("words")))
      .filter(col("doc_id") % mod === 0)
    graft.ExtQueries.minhashBanded(stream)
  }

  def streamingDedupBands(spark: SparkSession, dir: String,
                          bandState: org.apache.spark.sql.DataFrame): DataFrame = {
    val cap = graft.operators.Buckets.DefaultCap
    val k = graft.operators.IncrementalDedup.K
    val pairs = batchBandedStream(spark, dir, mod = 7)
      .join(bandState.filter(col("cnt").between(1, cap)), "band")
      .select(col("doc_id"), col("sigs"), col("members"))
      .select(explode(expr(
        s"""transform(members, b ->
           |  struct(least(doc_id, b.doc_id) AS doc_id_1,
           |         greatest(doc_id, b.doc_id) AS doc_id_2,
           |         CAST(size(filter(zip_with(sigs, b.sigs, (x, y) -> x = y), p -> p)) AS DOUBLE) / $k
           |           AS est_jaccard))""".stripMargin)).as("p"))
      .select(col("p.doc_id_1"), col("p.doc_id_2"), col("p.est_jaccard"))
      .filter(col("est_jaccard") >= 0.4)
    runToTable(pairs, "streaming_dedup_bands", "append").distinct()
  }

  /** STREAMING perceptual image dedup — [[streamingDedupBands]]'s twin
    * for the image modality: arriving images (the textured fixture with
    * its planted brightness-shifted copies, `% 7 == 0` split) are
    * rendered → codec-decoded → aHashed IN-FLIGHT (stateless
    * `mapPartitions` inside the micro-batch — the hash stage needs no
    * state store), banded into 4×16-bit blocks, and stream-static
    * joined against the stored corpus block state. Same arrival-order
    * contract as the minhash twin: the bucket cap runs on the CORPUS
    * block size, so a verdict for an arriving image never depends on
    * later arrivals. Exact hamming ≤ 3 verification against each
    * corpus member's stored 64-char hash.
    */
  def streamingDedupPhash(spark: SparkSession, dir: String,
                          blockState: org.apache.spark.sql.DataFrame): DataFrame = {
    val cap = graft.operators.Buckets.DefaultCap
    val path = s"$dir/documents.parquet"
    val schema = spark.read.parquet(path).schema
    val raw = spark.readStream.schema(schema).parquet(stageAsDir(path))
    val base = raw.select(col("doc_id"), col("text"))
    val withCopies = base.select(col("doc_id"), col("text"), lit(0).as("shift"))
      .unionByName(base.filter(col("doc_id") % 10 === 0).select(
        (col("doc_id") + lit(1000000L)).as("doc_id"), col("text"), lit(8).as("shift")))
      .filter(col("doc_id") % 7 === 0)
    val banded = graft.operators.Multimodal.phashCodes(
        graft.operators.Multimodal.packTextured(withCopies)).toDF()
      .select(col("doc_id"), col("phash").as("sigs"),
        explode(graft.ExtQueries.hashBlockKeys(col("phash"))).as("band"))
    val ham =
      "64 - size(filter(sequence(1, 64), i -> substring(sigs, i, 1) = substring(b.sigs, i, 1)))"
    val pairs = banded
      .join(blockState.filter(col("cnt").between(1, cap)), "band")
      .select(col("doc_id"), col("sigs"), col("members"))
      .select(explode(expr(
        s"""transform(members, b ->
           |  struct(least(doc_id, b.doc_id) AS doc_id_1,
           |         greatest(doc_id, b.doc_id) AS doc_id_2,
           |         CAST($ham AS BIGINT) AS hamming))""".stripMargin)).as("p"))
      .select(col("p.doc_id_1"), col("p.doc_id_2"), col("p.hamming"))
      .filter(col("hamming") <= 3)
    runToTable(pairs, "streaming_dedup_phash", "append").distinct()
  }

  /** One banded doc as seen by the stateful dedup. */
  final case class BandDoc(band: String, doc_id: Long, sigs: Seq[String])

  /** One stored band member (id + 16-slot signature). */
  final case class BandMember(doc_id: Long, sigs: Seq[String])

  /** Per-band keyed state: members seen so far, capped. */
  final case class BandMembers(members: List[BandMember])

  final case class PairOut(doc_id_1: Long, doc_id_2: Long, est_jaccard: Double)

  /** WITHIN-STREAM near-dup detection as keyed streaming state — the
    * new-vs-new complement of [[streamingDedupBands]]: the band key is
    * the state key, the state value is the member list seen so far
    * (capped — a saturated band stops accepting, the stream-time form
    * of the bounded-bucket guard), and each arriving doc emits pairs
    * against the members already present. State is bounded by
    * cap × live bands, exactly the stored-band-table footprint the
    * batch path reads from parquet.
    *
    * Arrival-order contract: while a band stays under the cap the
    * emitted PAIR SET is arrival-order-free (every pair of co-banded
    * docs meets exactly once); past the cap the first-`cap` arrivals
    * win — the gate fixture stays far below the cap (spec-asserted),
    * where the output equals the batch detector restricted to
    * within-batch pairs.
    */
  def dedupBandsStateful(banded: Dataset[BandDoc],
                         cap: Int = graft.operators.Buckets.DefaultCap,
                         minEst: Double = 0.4): Dataset[PairOut] = {
    import banded.sparkSession.implicits._
    val k = graft.operators.IncrementalDedup.K
    banded.groupByKey(_.band)
      .flatMapGroupsWithState[BandMembers, PairOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_, it, state) =>
          // within-batch arrival order is partition order — sort by
          // doc_id for a deterministic (and replay-stable) sequence
          val in = it.toArray.sortBy(_.doc_id)
          var members = state.getOption.map(_.members).getOrElse(Nil)
          val out = scala.collection.mutable.ArrayBuffer.empty[PairOut]
          in.foreach { d =>
            if (members.size < cap) {
              members.foreach { m =>
                var eq = 0
                var i = 0
                while (i < k) { if (d.sigs(i) == m.sigs(i)) eq += 1; i += 1 }
                val est = eq.toDouble / k
                if (est >= minEst)
                  out += PairOut(math.min(d.doc_id, m.doc_id),
                    math.max(d.doc_id, m.doc_id), est)
              }
              members = BandMember(d.doc_id, d.sigs) :: members
            }
          }
          state.update(BandMembers(members))
          out.iterator
      }
  }

  /** [[dedupBandsStateful]] over the banded batch-doc stream, run to
    * completion — pairs recur once per shared band, collapsed by the
    * sink-side distinct like [[streamingDedupBands]].
    */
  def streamingDedupBandsStateful(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val banded = batchBandedStream(spark, dir, mod = 5)
      .select(col("band"), col("doc_id"), col("sigs")).as[BandDoc]
    runToTable(dedupBandsStateful(banded).toDF(),
      "streaming_dedup_bands_stateful", "append").distinct()
  }

  /** [[dedupBandsStateful]] through Spark 4's `transformWithState` —
    * the same dual-API equivalence the sessionizer pair proves (E15 ↔
    * tws), extended to dedup state. The member list lives in a named
    * `ListState`: appending one member is an O(1) RocksDB append
    * instead of rewriting the whole serialized list the
    * flatMapGroupsWithState ValueState forces — at cap-deep bands
    * that is the difference between O(cap) and O(cap²) total write
    * work per band. No timers (TimeMode.None): band state has no
    * time semantics; production would bound it with a TTLConfig
    * instead of a watermark.
    */
  private class BandDedupTwsProcessor(cap: Int, minEst: Double)
    extends org.apache.spark.sql.streaming.StatefulProcessor[String, BandDoc, PairOut] {

    @transient private var members: org.apache.spark.sql.streaming.ListState[BandMember] = _

    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      members = getHandle.getListState[BandMember]("members",
        org.apache.spark.sql.Encoders.product[BandMember],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }

    override def handleInputRows(
        band: String, it: Iterator[BandDoc],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[PairOut] = {
      val k = graft.operators.IncrementalDedup.K
      val in = it.toArray.sortBy(_.doc_id)
      val existing =
        scala.collection.mutable.ArrayBuffer[BandMember](members.get().toSeq: _*)
      val out = scala.collection.mutable.ArrayBuffer.empty[PairOut]
      in.foreach { d =>
        if (existing.size < cap) {
          existing.foreach { m =>
            var eq = 0
            var i = 0
            while (i < k) { if (d.sigs(i) == m.sigs(i)) eq += 1; i += 1 }
            val est = eq.toDouble / k
            if (est >= minEst)
              out += PairOut(math.min(d.doc_id, m.doc_id),
                math.max(d.doc_id, m.doc_id), est)
          }
          val nm = BandMember(d.doc_id, d.sigs)
          members.appendValue(nm)
          existing += nm
        }
      }
      out.iterator
    }
  }

  /** [[dedupBandsStateful]]'s pair set through transformWithState. */
  def dedupBandsTws(banded: Dataset[BandDoc],
                    cap: Int = graft.operators.Buckets.DefaultCap,
                    minEst: Double = 0.4): Dataset[PairOut] =
    banded.groupByKey(_.band)(org.apache.spark.sql.Encoders.STRING)
      .transformWithState(
        new BandDedupTwsProcessor(cap, minEst),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append())(org.apache.spark.sql.Encoders.product[PairOut])

  /** [[streamingDedupBandsStateful]]'s gate through the tws operator —
    * RocksDB provider set for this query and restored, like the tws
    * sessionizer.
    */
  def streamingDedupBandsTws(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val banded = batchBandedStream(spark, dir, mod = 5)
      .select(col("band"), col("doc_id"), col("sigs")).as[BandDoc]
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try runToTable(dedupBandsTws(banded).toDF(),
        "streaming_dedup_bands_tws", "append").distinct()
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Stream–static join enrichment: the event stream joined to the
    * static customer dimension, then aggregated per (segment,
    * event_type) — the standard streaming-enrichment shape. The static
    * side is re-planned per micro-batch under the same broadcast rules
    * as batch (at 100 TB: broadcast a dim, or pre-bucket both sides);
    * unmatched users keep the COALESCE sentinel like the batch reports.
    */
  def streamingEnrichStatic(spark: SparkSession, dir: String): DataFrame = {
    val cust = graft.sources.Tables.load(spark, dir, "customer")
      .select(col("c_custkey").as("user_id"),
        col("c_mktsegment").as("segment"))
    val agg = eventsStream(spark, dir)
      .select(col("user_id"), col("event_type"), col("value"))
      .join(cust, Seq("user_id"), "left")
      .groupBy(coalesce(col("segment"), lit("NO_SEGMENT")).as("segment"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(round(col("value") * 1000000).cast("long")).as("sum_fp"))
      .select(col("segment"), col("event_type"), col("n_events"),
        (col("sum_fp").cast("double") / 1000000).as("sum_value"))
    runToTable(agg, "streaming_enrich_static", "complete")
  }

  /** IN-FLIGHT compliance purge (the streaming face of
    * `pipeline_delete_propagate`): the event stream is filtered against
    * the delete roster BEFORE any downstream state or sink sees it, so
    * a purge request takes effect for in-flight data immediately, not
    * at the next batch rewrite. The roster is the static side (in
    * production: the received-requests table; here derived from the
    * batch events table by the same `% 97` stand-in rule), broadcast
    * into the stream as a left join + null filter — stream–static LEFT
    * ANTI is not a supported join type, but left_outer + IS NULL is,
    * and it compiles to the same broadcast probe with zero streaming
    * state. The audit output is per-event-type surviving counts plus
    * `n_leaked` re-derived from the compliance RULE itself (not the
    * roster frame — the same de-tautologized check as the batch op),
    * so a roster/rule divergence shows up as a nonzero column.
    *
    * Scale: no user-keyed shuffle anywhere on the stream side (the
    * roster broadcasts; the audit groupBy is map-side combined over
    * |event_type| groups) and no state store beyond the complete-mode
    * aggregate's |event_type| rows.
    */
  def streamingDeletePropagate(spark: SparkSession, dir: String): DataFrame = {
    val roster = graft.sources.Tables.events(spark, dir)
      .select(col("user_id")).distinct()
      .filter(col("user_id") % 97 === 0)
      .withColumn("__hit", lit(1))
    val survivors = eventsStream(spark, dir)
      .join(broadcast(roster), Seq("user_id"), "left_outer")
      .filter(col("__hit").isNull)
    val audit = survivors
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_after"),
        count(when(col("user_id") % 97 === 0, lit(1))).as("n_leaked"))
    runToTable(audit, "streaming_delete_propagate", "complete")
  }

  /** Stream–stream interval join (click → purchase attribution): each
    * click joined to the same user's purchases within the following 6
    * hours. Both sides carry watermarks AND the join condition bounds
    * event time on the watermarked timestamp columns — that is what
    * lets the state store evict buffered rows as the watermarks advance
    * (the same predicate on raw epoch longs would join correctly but
    * Spark could not derive state bounds, leaving both sides buffered
    * forever). Inner matches emit as soon as both sides arrive, so
    * AvailableNow needs no watermark-advancing sentinel.
    *
    * Determinism: the µs lag is computed from the truncated-µs epochs
    * the engine exposes (`ts_ns DIV 1000` ≡ DuckDB `epoch_us`), and the
    * interval bound compares the same truncated values on both engines.
    *
    * Scale: per-side state ≈ (interval + lateness horizon) of rows per
    * user partition, keyed and shuffled on user_id exactly like the
    * batch join; output streams out incrementally.
    */
  /** Declarative sessionization via Spark's native `session_window`
    * (dynamic-gap merging inside the aggregation operator) — the
    * built-in sibling of the flatMapGroupsWithState sessionizer
    * [[streamingSessionize]]: same 30-minute gap rule, no custom state
    * class, sessions merge as the state store absorbs events.
    * Semantics gated cross-engine: a new session starts iff the µs gap
    * ≥ 30 min (touching windows do not overlap), session_end is
    * last-event + gap (the operator's window end).
    */
  def streamingSessionWindow(spark: SparkSession, dir: String): DataFrame = {
    val agg = eventsStream(spark, dir)
      .withWatermark("ts", "2 hours")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        date_format(col("sw.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        date_format(col("sw.end"), "yyyy-MM-dd HH:mm:ss").as("session_end_gap"),
        col("n_events"))
    runToTable(agg, "streaming_session_window", "complete")
  }

  /** Far-future watermark-sentinel stream (one row per joined
    * event_type, user_id < 0, ts = 2100-01-01): with Trigger
    * .AvailableNow the final watermark stops `delay` behind max(event
    * ts), which would hold back OUTER-join null-extensions whose
    * emission time (click_ts + interval) falls inside the last
    * interval+delay of data — the sentinel advances both watermarks
    * past every real row so ALL outer results flush. This is the
    * streaming analogue of the heartbeat events production pipelines
    * emit on quiet topics; sentinel rows are filtered from the output
    * and can never join a real row (negative user_id).
    */
  private def sentinelStream(spark: SparkSession, dir: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val path = s"$dir/events.parquet"
    val schema = spark.read.parquet(path).schema
    val farSec = 4102444800L // 2100-01-01T00:00:00Z
    // the sentinel row's ts must be written in the SAME physical shape
    // the live events carry, so the union'd stream has one schema
    val tsType = schema("ts").dataType
    val tsValue: Any = tsType match {
      case LongType         => farSec * 1000000000L
      case TimestampType    => java.time.Instant.ofEpochSecond(farSec)
      case TimestampNTZType =>
        java.time.LocalDateTime.ofEpochSecond(farSec, 0, java.time.ZoneOffset.UTC)
      case other => throw new IllegalStateException(
        s"events.ts arrived as $other — teach sentinelStream this encoding")
    }
    // cache dir keyed by a digest of the FULL pinned schema, not just the
    // ts encoding: a regenerated dataset that keeps ts but changes any
    // other column's type/shape would otherwise be served a stale-schema
    // sentinel and break the stream union — the exact drift class the
    // environment canary exists for
    val schemaKey = java.security.MessageDigest.getInstance("MD5")
      .digest(schema.json.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(16)
    val outDir = Paths.get(System.getProperty("java.io.tmpdir"),
      s"graft-stream-sentinel-$schemaKey")
    if (!Files.exists(outDir.resolve("_SUCCESS"))) {
      val byName = Map[String, Any](
        "event_id" -> -1L, "ts" -> tsValue, "user_id" -> -1L,
        "event_type" -> "click", "value" -> 0.0, "props" -> null)
      def row(overrides: (String, Any)*): org.apache.spark.sql.Row =
        org.apache.spark.sql.Row.fromSeq(schema.fields.map(f =>
          (byName ++ overrides).apply(f.name)).toSeq)
      spark.createDataFrame(
          java.util.Arrays.asList(
            row(), row("event_id" -> -2L, "user_id" -> -2L, "event_type" -> "purchase")),
          schema)
        .coalesce(1).write.mode("overwrite").parquet(outDir.toString)
    }
    graft.sources.Tables.normalizeEventTs(
      spark.readStream.schema(schema).parquet(outDir.toString))
  }

  /** LEFT OUTER stream-stream interval join: every click emits — with
    * its attributed purchase when one arrives inside the 6 h window, or
    * null-extended once the watermark proves no purchase can still
    * come. Same state bounds as the inner form; the only addition is
    * the watermark sentinel (see [[sentinelStream]]) so AvailableNow
    * flushes the trailing unmatched clicks, making the result equal the
    * batch LEFT JOIN exactly.
    */
  def streamStreamAttributionOuter(spark: SparkSession, dir: String): DataFrame = {
    val ev = eventsStream(spark, dir).unionByName(sentinelStream(spark, dir))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("click_user"),
        col("ts").as("click_ts"), expr("ts_ns DIV 1000").as("click_us"))
      .withWatermark("click_ts", "2 hours")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("purchase_user"),
        col("ts").as("purchase_ts"), expr("ts_ns DIV 1000").as("purchase_us"))
      .withWatermark("purchase_ts", "2 hours")
    val joined = clicks.join(purchases,
        col("click_user") === col("purchase_user") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") + expr("INTERVAL 6 HOURS"),
        "left_outer")
      .select(col("click_user").as("user_id"), col("click_id"),
        col("purchase_id"),
        (col("purchase_us") - col("click_us")).as("lag_us"))
    // The sentinel filter runs on the MATERIALIZED batch result, never
    // inside the streaming plan: a `user_id >= 0` predicate there is
    // pushed into the file-stream scan (and, via constraint inference,
    // into the purchase side too), where parquet row-group stats
    // (user_id max = -1) prune the sentinel FILE before the watermark
    // operator ever sees its event time — silently restoring the very
    // held-back-tail problem the sentinel exists to fix (measured: the
    // newest ~8 h of unmatched clicks never emitted).
    runToTable(joined, "streaming_interval_join_outer", "append")
      .filter(col("user_id") >= 0)
  }

  def streamStreamAttribution(spark: SparkSession, dir: String): DataFrame = {
    val clicks = eventsStream(spark, dir).filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("click_user"),
        col("ts").as("click_ts"), expr("ts_ns DIV 1000").as("click_us"))
      .withWatermark("click_ts", "2 hours")
    val purchases = eventsStream(spark, dir).filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("purchase_user"),
        col("ts").as("purchase_ts"), expr("ts_ns DIV 1000").as("purchase_us"))
      .withWatermark("purchase_ts", "2 hours")
    val joined = clicks.join(purchases,
      col("click_user") === col("purchase_user") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 6 HOURS"))
      .select(col("click_user").as("user_id"), col("click_id"),
        col("purchase_id"),
        (col("purchase_us") - col("click_us")).as("lag_us"))
    runToTable(joined, "streaming_interval_join", "append")
  }

  /** Streaming dedup over a deliberately duplicated stream (the source
    * unioned with itself) — output must equal the distinct base table.
    */
  def streamingDedupEvents(spark: SparkSession, dir: String): DataFrame = {
    val s1 = eventsStream(spark, dir)
    val s2 = eventsStream(spark, dir)
    runToTable(dedupEvents(s1.unionByName(s2)), "streaming_dedup_events", "append")
  }

  // ===== custom-state sessionization (flatMapGroupsWithState) =====

  /** Event as seen by the sessionizer (ns timestamp is the exact order
    * key; `ts` is the µs watermark column).
    */
  final case class SessEvent(user_id: Long, event_id: Long, ts_ns: Long,
                             ts: java.sql.Timestamp)

  /** Open-session state kept per user between micro-batches. */
  final case class OpenSession(idx: Long, startNs: Long, lastNs: Long, n: Long)

  final case class SessionOut(user_id: Long, session_id: Long, n_events: Long,
                              session_start: String, session_end: String)

  private val tsFmt: DateTimeFormatter =
    DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss").withZone(ZoneOffset.UTC)

  private def fmtNs(ns: Long): String =
    tsFmt.format(java.time.Instant.ofEpochSecond(ns / 1000000000L))

  /** Gap-based sessionization as keyed streaming state: events extend the
    * open session; a gap > `gapSec` (in whole seconds, matching the batch
    * formulation) closes it and emits; the event-time timeout (watermark
    * past last event + gap) flushes the final open session. Incremental
    * form of `Queries.eventsSessionize` — identical output by the oracle
    * gate.
    *
    * Scale: state is one tiny fixed-size record per ACTIVE user (not per
    * event) in the keyed state store; watermark eviction bounds it to
    * users seen within the lateness horizon.
    */
  def sessionize(events: Dataset[SessEvent], gapSec: Long = 1800): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapMs = gapSec * 1000
    events
      .withWatermark("ts", "2 hours")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, it: Iterator[SessEvent], state: GroupState[OpenSession]) =>
          if (it.isEmpty && state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(SessionOut(userId, s.idx, s.n, fmtNs(s.startNs), fmtNs(s.lastNs)))
          } else {
            // within-batch arrival order is not time order: sort by the
            // same total order as the batch window (ts_ns, event_id)
            val evs = it.toArray.sortBy(e => (e.ts_ns, e.event_id))
            val out = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
            var cur = state.getOption
            evs.foreach { e =>
              cur match {
                case None =>
                  cur = Some(OpenSession(1, e.ts_ns, e.ts_ns, 1))
                case Some(s) if (e.ts_ns / 1000000000L) - (s.lastNs / 1000000000L) > gapSec =>
                  out += SessionOut(userId, s.idx, s.n, fmtNs(s.startNs), fmtNs(s.lastNs))
                  cur = Some(OpenSession(s.idx + 1, e.ts_ns, e.ts_ns, 1))
                case Some(s) =>
                  cur = Some(s.copy(lastNs = math.max(s.lastNs, e.ts_ns), n = s.n + 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.lastNs / 1000000L + gapMs)
            }
            out.iterator
          }
      }
  }

  // ===== sessionization via transformWithState (StatefulProcessor) =====

  /** The same gap-sessionization as [[sessionize]] through Spark 4's
    * `transformWithState` operator (StatefulProcessor + explicit
    * event-time timers + named ValueState) — the modern arbitrary-state
    * API the old flatMapGroupsWithState form will eventually migrate
    * to. Both forms are gated against the SAME batch oracle, so the
    * migration equivalence is proven, not assumed.
    *
    * Timer discipline: exactly one live timer per key (the previous
    * timer is deleted before the new one is registered — stale timers
    * would otherwise fire and close sessions early). State: the same
    * one fixed-size OpenSession record per ACTIVE user as E15, in the
    * RocksDB state store transformWithState requires.
    */
  private class SessionTwsProcessor(gapSec: Long)
    extends org.apache.spark.sql.streaming.StatefulProcessor[Long, SessEvent, SessionOut] {

    @transient private var open: org.apache.spark.sql.streaming.ValueState[OpenSession] = _

    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      open = getHandle.getValueState[OpenSession]("open",
        org.apache.spark.sql.Encoders.product[OpenSession],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }

    private def expiryOf(s: OpenSession): Long = s.lastNs / 1000000L + gapSec * 1000

    override def handleInputRows(
        userId: Long, it: Iterator[SessEvent],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[SessionOut] = {
      // within-batch arrival order is not time order: sort by the same
      // total order as the batch window (ts_ns, event_id)
      val evs = it.toArray.sortBy(e => (e.ts_ns, e.event_id))
      if (evs.isEmpty) return Iterator.empty
      val out = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
      var cur = Option(open.get())
      cur.foreach(s => getHandle.deleteTimer(expiryOf(s)))
      evs.foreach { e =>
        cur match {
          case None =>
            cur = Some(OpenSession(1, e.ts_ns, e.ts_ns, 1))
          case Some(s) if (e.ts_ns / 1000000000L) - (s.lastNs / 1000000000L) > gapSec =>
            out += SessionOut(userId, s.idx, s.n, fmtNs(s.startNs), fmtNs(s.lastNs))
            cur = Some(OpenSession(s.idx + 1, e.ts_ns, e.ts_ns, 1))
          case Some(s) =>
            cur = Some(s.copy(lastNs = math.max(s.lastNs, e.ts_ns), n = s.n + 1))
        }
      }
      cur.foreach { s =>
        open.update(s)
        getHandle.registerTimer(expiryOf(s))
      }
      out.iterator
    }

    override def handleExpiredTimer(
        userId: Long,
        timerValues: org.apache.spark.sql.streaming.TimerValues,
        expired: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[SessionOut] = {
      val s = open.get()
      if (s == null || expiryOf(s) != expired.getExpiryTimeInMs()) Iterator.empty
      else {
        open.clear()
        Iterator(SessionOut(userId, s.idx, s.n, fmtNs(s.startNs), fmtNs(s.lastNs)))
      }
    }
  }

  /** [[sessionize]]'s output through the transformWithState operator. */
  def sessionizeTws(events: Dataset[SessEvent], gapSec: Long = 1800): Dataset[SessionOut] = {
    events
      .withWatermark("ts", "2 hours")
      .groupByKey(_.user_id)(org.apache.spark.sql.Encoders.scalaLong)
      .transformWithState(
        new SessionTwsProcessor(gapSec),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append())(org.apache.spark.sql.Encoders.product[SessionOut])
  }

  /** Streaming tws-sessionization run to completion — the same sentinel
    * flush pattern as [[streamingSessionize]]; transformWithState
    * requires the RocksDB state store provider, set for this query and
    * restored after.
    */
  def streamingSessionizeTws(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val maxNs = graft.sources.Tables.events(spark, dir)
      .agg(max(col("ts_ns"))).head().getLong(0)
    val sentinelNs = maxNs + 30L * 24 * 3600 * 1000000000L
    val sentinel = MemoryStream[SessEvent](spark)
    sentinel.addData(SessEvent(-1L, -1L, sentinelNs,
      new java.sql.Timestamp(sentinelNs / 1000000L)))
    val real = eventsStream(spark, dir)
      .select(col("user_id").cast("long").as("user_id"),
        col("event_id").cast("long").as("event_id"),
        col("ts_ns").cast("long").as("ts_ns"), col("ts"))
      .as[SessEvent]
    val sessions = sessionizeTws(real.unionByName(sentinel.toDS()))
      .filter(col("user_id") >= 0)
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try runToTable(sessions.toDF(), "streaming_sessionize_tws", "append")
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  // ===== incremental staging: streaming clean_contacts_primary =====

  /** One preprocessed contact row (the staged-view schema + tie-breaker
    * + watermark column).
    */
  final case class ContactRow(
      account_id: String,
      activity_date: Option[java.sql.Date], activity_time: String,
      next_activity_date: Option[java.sql.Date],
      collection_channel: String, contact_type: String,
      contact_outcome: String, non_payment_reason: String,
      contact_location: String, next_action: String,
      notes: Option[String], phone_number: Option[String],
      department: String, agent_name: String,
      src_seq: Long, ts: java.sql.Timestamp)

  /** The staged view's window order as a comparator: channel ASC, type
    * ASC, activity_date DESC NULLS LAST, src_seq ASC (reference
    * `01_staging_layer.sql:124-127` + the engine's tie-breaker).
    */
  private def contactBeats(a: ContactRow, b: ContactRow): Boolean = {
    val ch = a.collection_channel.compareTo(b.collection_channel)
    if (ch != 0) return ch < 0
    val ct = a.contact_type.compareTo(b.contact_type)
    if (ct != 0) return ct < 0
    (a.activity_date, b.activity_date) match {
      case (Some(x), Some(y)) if x.getTime != y.getTime => x.getTime > y.getTime
      case (Some(_), None) => true
      case (None, Some(_)) => false
      case _ => a.src_seq < b.src_seq
    }
  }

  /** Incremental clean_contacts_primary: the reference's latest-contact
    * view maintained as keyed streaming state (one best row per account)
    * instead of a batch window — the staging layer's streaming mode
    * (SURVEY.md §7.1.7d). Event-time timeout emits the final row per
    * account once the watermark passes.
    */
  def latestContactStream(rows: org.apache.spark.sql.Dataset[ContactRow]): DataFrame = {
    import rows.sparkSession.implicits._
    rows
      .withWatermark("ts", "2 hours")
      .groupByKey(_.account_id)
      .flatMapGroupsWithState[ContactRow, ContactRow](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: String, it: Iterator[ContactRow], state: GroupState[ContactRow]) =>
          if (it.isEmpty && state.hasTimedOut) {
            val best = state.get; state.remove(); Iterator(best)
          } else {
            var best = state.getOption.orNull
            var maxTs = 0L
            it.foreach { r =>
              if (best == null || contactBeats(r, best)) best = r
              if (r.ts.getTime > maxTs) maxTs = r.ts.getTime
            }
            state.update(best)
            state.setTimeoutTimestamp(maxTs + 60000)
            Iterator.empty
          }
      }
      .toDF()
      .select(graft.staging.StagingLayer.viewCols.map(col): _*)
  }

  /** Run the incremental staging view to completion over the events
    * stream; must equal the batch `clean_contacts_primary`.
    */
  def streamingLatestContact(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val act = graft.staging.StagingLayer.preprocessPrimary(
      graft.Derive.activitiesFrom(eventsStream(spark, dir), extraCols = Seq("ts")),
      extraCols = Seq("src_seq", "ts"))
      .as[ContactRow]
    val maxNs = graft.sources.Tables.events(spark, dir)
      .agg(max(col("ts_ns"))).head().getLong(0)
    val sentinel = MemoryStream[ContactRow](spark)
    sentinel.addData(ContactRow("__sentinel", None, "", None, "", "", "", "", "", "",
      None, None, "", "", -1L,
      new java.sql.Timestamp(maxNs / 1000000L + 30L * 24 * 3600 * 1000)))
    val out = latestContactStream(act.unionByName(sentinel.toDS()))
      .filter(col("account_id") =!= "__sentinel")
    runToTable(out, "streaming_latest_contact", "append")
  }

  /** Streaming sessionization run to completion. A far-future sentinel
    * event (from a MemoryStream, `user_id = -1`, filtered from output)
    * advances the final watermark past every open session so the
    * event-time timeouts flush — without it, AvailableNow would end with
    * the last sessions still open in state.
    */
  def streamingSessionize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val maxNs = graft.sources.Tables.events(spark, dir)
      .agg(max(col("ts_ns"))).head().getLong(0)
    val sentinelNs = maxNs + 30L * 24 * 3600 * 1000000000L
    val sentinel = MemoryStream[SessEvent](spark)
    sentinel.addData(SessEvent(-1L, -1L, sentinelNs,
      new java.sql.Timestamp(sentinelNs / 1000000L)))
    val real = eventsStream(spark, dir)
      .select(col("user_id").cast("long").as("user_id"),
        col("event_id").cast("long").as("event_id"),
        col("ts_ns").cast("long").as("ts_ns"), col("ts"))
      .as[SessEvent]
    val sessions = sessionize(real.unionByName(sentinel.toDS()))
      .filter(col("user_id") >= 0)
    runToTable(sessions.toDF(), "streaming_sessionize", "append")
  }

  /** Micro-batch APPEND into the MANIFEST-BACKED table
    * ([[graft.operators.VersionedTable]]) — the streaming sink a real
    * table format ships: [[publishVersioned]]'s batchId idempotence
    * composed with the manifest fold, so each micro-batch lands as a
    * versioned commit whose stats/bloom sidecar rows fold ∝ batch
    * (never the table), and a redelivered batchId no-ops against the
    * head's `_META`. Batch 0 creates the table; later batches append.
    *
    * @return true if this call committed, false on replay detection
    */
  def appendVersionedTable(batch: DataFrame, tableRoot: String,
                           spec: graft.operators.VersionedTable.Spec,
                           batchId: Long,
                           layout: DataFrame => DataFrame = identity,
                           extraMeta: Map[String, String] = Map.empty): Boolean = {
    import graft.operators.VersionedTable
    val last = VersionedTable.headMeta(tableRoot, "batchId").map(_.toLong)
    if (last.exists(_ >= batchId)) false
    else {
      val meta = Map("batchId" -> batchId.toString) ++ extraMeta
      if (VersionedTable.headVersion(tableRoot).isEmpty)
        VersionedTable.create(batch.sparkSession, batch, tableRoot, spec,
          layout = layout, extraMeta = meta)
      else
        VersionedTable.append(batch.sparkSession, batch, tableRoot, spec,
          layout = layout, extraMeta = meta)
      true
    }
  }

  /** Micro-batch MERGE into the manifest-backed table — the streaming
    * CDC-APPLY sink: each micro-batch (pre-aggregated per key by the
    * caller, so the source is key-unique as
    * [[graft.operators.VersionedTable.merge]] requires) folds into
    * the target via matched-update SETs and not-matched inserts, with
    * the same batchId idempotence as [[appendVersionedTable]] — a
    * redelivered batchId no-ops against the head's `_META`, so the
    * at-least-once foreachBatch contract composes with the atomic
    * merge commit into exactly-once table state. Batch 0 creates the
    * table.
    *
    * Scale shape (100 TB): each micro-batch pays the merge's economics
    * — bloom-probed band scan + batch — so a continuous CDC stream
    * maintains a 100 TB table at cost ∝ change rate, never ∝ table.
    *
    * @return true if this call committed, false on replay detection
    */
  def mergeVersionedTable(batch: DataFrame, tableRoot: String,
                          spec: graft.operators.VersionedTable.Spec,
                          batchId: Long,
                          matchedUpdate: Map[String, org.apache.spark.sql.Column])
      : Boolean = {
    import graft.operators.VersionedTable
    val last = VersionedTable.headMeta(tableRoot, "batchId").map(_.toLong)
    if (last.exists(_ >= batchId)) false
    else {
      val meta = Map("batchId" -> batchId.toString)
      if (VersionedTable.headVersion(tableRoot).isEmpty)
        VersionedTable.create(batch.sparkSession, batch, tableRoot, spec,
          extraMeta = meta)
      else
        VersionedTable.merge(batch.sparkSession, tableRoot, spec, batch,
          matchedUpdate = matchedUpdate, extraMeta = meta)
      true
    }
  }

  /** `streaming_merge_apply`: the stream → MERGE chain — a per-user
    * profile table (event count + event-id checksum per user)
    * continuously maintained from the event stream by the CDC-apply
    * sink: each micro-batch pre-aggregates per user (making the merge
    * source key-unique), matched users FOLD the batch delta into
    * their row (`n_events += src`, SETs reading both sides of the
    * pair), unmatched users insert. Two ingest waves (`event_id % 2`)
    * through ONE checkpointed stream, then a stale batchId-0
    * redelivery carrying different rows must no-op (require()d). The
    * oracle restates the profile straight from the batch events
    * table, so the hash proves stream → per-batch fold → merge commit
    * → exactly-once, independent of how events split across batches.
    */
  def streamingMergeApply(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.VersionedTable
    val spec = VersionedTable.Spec(Seq("user_id"), "user_id", 1 << 13)
    val troot = Scratch.dir("graft-smrg")
    val stage = Scratch.dir("graft-smrg-src")
    val ev = graft.sources.Tables.load(spark, dir, "events")
      .select(col("event_id"), col("user_id"))
    val folds = Map(
      "n_events" -> (col("n_events") + col("src_n_events")),
      "sum_eids" -> (col("sum_eids") + col("src_sum_eids")))
    def preAgg(b: DataFrame): DataFrame =
      b.filter(col("user_id").isNotNull).groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          sum(col("event_id").cast("long")).as("sum_eids"))
    def runWave(): Unit = {
      val sch = spark.read.parquet(stage).schema
      val q = spark.readStream.schema(sch).parquet(stage)
        .writeStream.outputMode("append")
        .option("checkpointLocation", s"$troot/_chk")
        .foreachBatch { (b: Dataset[org.apache.spark.sql.Row], id: Long) =>
          mergeVersionedTable(preAgg(b.toDF()), s"$troot/table", spec, id,
            folds); ()
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    ev.filter(col("event_id") % 2 === 0).write.mode("append").parquet(stage)
    runWave()
    ev.filter(col("event_id") % 2 =!= 0).write.mode("append").parquet(stage)
    runWave()
    // at-least-once crash replay: a stale batchId 0 redelivery with
    // DIFFERENT rows must leave the table untouched
    val replayed = mergeVersionedTable(
      preAgg(ev.limit(50)), s"$troot/table", spec, 0L, folds)
    require(!replayed, "stale batchId redelivery must no-op")
    VersionedTable.read(spark, s"$troot/table")
      .groupBy("n_events")
      .agg(count(lit(1)).as("n_users"),
        sum(col("sum_eids")).as("sum_eids"))
  }

  /** `streaming_versioned_ingest`: the stream → versioned-TABLE chain
    * (where `streaming_versioned_publish` versions a flat artifact,
    * this ingests into the manifest model with skipping sidecars and
    * time travel): two ingest waves (`doc_id % 2`) through ONE
    * checkpointed append-mode file stream — batch 0 CREATEs the table,
    * batch 1 APPENDs — then a STALE REDELIVERY of batchId 0 carrying
    * different rows must no-op (require()d in-line). Every version is
    * read back THROUGH ITS OWN MANIFEST with its batchId from `_META`;
    * the oracle restates both waves' memberships, so the hash proves
    * stream → manifest commit → history → pointer-resolved read, and
    * that the replay published nothing.
    */
  def streamingVersionedIngest(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.VersionedTable
    val spec = VersionedTable.Spec(Seq("n_chars"), "doc_id", 1 << 13)
    val troot = Scratch.dir("graft-vting")
    val stage = Scratch.dir("graft-vting-src")
    val d = graft.sources.Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    def runWave(): Unit = {
      val sch = spark.read.parquet(stage).schema
      val q = spark.readStream.schema(sch).parquet(stage)
        .writeStream.outputMode("append")
        .option("checkpointLocation", s"$troot/_chk")
        .foreachBatch { (b: Dataset[org.apache.spark.sql.Row], id: Long) =>
          appendVersionedTable(b.toDF(), s"$troot/table", spec, id); ()
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    d.filter(col("doc_id") % 2 === 0).write.mode("append").parquet(stage)
    runWave()
    d.filter(col("doc_id") % 2 =!= 0).write.mode("append").parquet(stage)
    runWave()
    // at-least-once crash replay: a stale batchId 0 redelivery with
    // DIFFERENT rows must leave the table untouched
    val replayed = appendVersionedTable(
      d.filter(col("doc_id") % 2 === 0).limit(5), s"$troot/table", spec, 0L)
    require(!replayed, "stale batchId redelivery must no-op")
    require(VersionedTable.headVersion(s"$troot/table").contains("v00002"),
      "replay must not advance the head")
    Seq("v00001", "v00002").map { v =>
      val bid = VersionedTable.versionMeta(s"$troot/table", v)
        .getOrElse("batchId", sys.error(s"$v has no batchId meta")).toLong
      VersionedTable.readVersion(spark, s"$troot/table", v)
        .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("sum_ids"),
          sum(col("n_chars").cast("long")).as("sum_chars"))
        .select(lit(v).as("version"), lit(bid).as("batch_id"),
          col("n_docs"), col("sum_ids"), col("sum_chars"))
    }.reduce(_.unionByName(_))
  }

  /** The MEDALLION HOP (`streaming_table_to_table`): bronze → silver
    * as one continuously-maintained pipeline — the composition a
    * lakehouse user actually deploys, built ENTIRELY from this repo's
    * own halves: [[graft.sources.FeedStreamProvider]] streams bronze's
    * change feed (version offsets, one micro-batch per commit), each
    * batch is TRANSFORMED (a projection deriving `chars_bin`) and
    * folded into the SILVER versioned table by
    * [[graft.operators.VersionedTable.applyChanges]] with a
    * monotone per-batch watermark — so silver is exactly-once under
    * Structured Streaming's at-least-once replay (a redelivered batch
    * finds `applied_upto` already past its watermark and no-ops),
    * and silver is itself a versioned, time-travelable, feed-emitting
    * table (the hop CHAINS). An immediate second drain from the same
    * checkpoint with no new bronze commits is require()d to leave
    * silver's head untouched.
    *
    * Scale shape (100 TB): the hop pays bronze's window bytes +
    * silver's bloom-probed holders per trigger — neither table is
    * ever rescanned; N hops cost N × feed bytes, the medallion
    * economics that make bronze→silver→gold viable at all.
    */
  def streamingTableToTable(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.VersionedTable
    val bSpec = VersionedTable.Spec(Seq("n_chars"), "doc_id", 1 << 13)
    val sSpec = VersionedTable.Spec(Seq("chars_bin"), "doc_id", 1 << 13)
    val d = graft.sources.Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val bronze = Scratch.dir("graft-t2t-b")
    val silver = Scratch.dir("graft-t2t-s")
    val chk = Scratch.dir("graft-t2t-chk")
    def toSilver(df: DataFrame): DataFrame = df.select(
      col("doc_id"), col("lang"),
      (col("n_chars") - col("n_chars") % 100).as("chars_bin"))
    val v1 = VersionedTable.create(spark, d.filter(col("doc_id") % 3 === 0),
      bronze, bSpec)
    // silver bootstraps from bronze v1 TRANSFORMED, watermark v0
    VersionedTable.create(spark,
      toSilver(VersionedTable.readVersion(spark, bronze, v1)), silver, sSpec,
      extraMeta = Map("applied_upto" -> "v0"))
    VersionedTable.append(spark, d.filter(col("doc_id") % 3 === 1), bronze, bSpec)
    VersionedTable.merge(spark, bronze, bSpec,
      d.filter(col("doc_id") % 11 === 0)
        .select(col("doc_id"), col("lang"), (col("n_chars") + 1000).as("n_chars")),
      matchedUpdate = Map("n_chars" -> col("src_n_chars")),
      insertNotMatched = false)
    VersionedTable.deleteRosterDV(spark, bronze, bSpec,
      d.filter(col("doc_id") % 13 === 0).select(col("doc_id")))
    var nBatches = 0
    def drain(): Unit = {
      val q = spark.readStream.format("graft.sources.FeedStreamProvider")
        .option("root", bronze)
        .option("startingVersion", v1)
        .option("maxVersionsPerTrigger", "1")
        .load()
        .writeStream
        .option("checkpointLocation", chk)
        .foreachBatch { (b: Dataset[org.apache.spark.sql.Row], id: Long) =>
          nBatches += 1
          VersionedTable.applyChanges(spark, silver, sSpec,
            b.toDF().select(col("doc_id"), col("lang"),
              (col("n_chars") - col("n_chars") % 100).as("chars_bin"),
              col("change_type")),
            s"v${id + 1}")
          ()
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drain()
    require(nBatches >= 3,
      s"one micro-batch per bronze commit expected, got $nBatches")
    val headAfter = VersionedTable.headVersion(silver)
    // a second drain from the same checkpoint with no new bronze
    // commits must leave silver untouched (restart no-op)
    drain()
    require(VersionedTable.headVersion(silver) == headAfter,
      "an empty redrain must not commit to silver")
    toSilver(VersionedTable.read(spark, bronze)).groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("sum_ids"),
        sum(col("chars_bin")).as("sum_bins"))
      .select(lit("2_bronze_head").as("slice"), col("lang"), col("n_docs"),
        col("sum_ids"), col("sum_bins"))
      .unionByName(VersionedTable.read(spark, silver).groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("sum_ids"),
          sum(col("chars_bin")).as("sum_bins"))
        .select(lit("1_silver").as("slice"), col("lang"), col("n_docs"),
          col("sum_ids"), col("sum_bins")))
  }

  /** AUTO-OPTIMIZE inside the ingest loop (`streaming_auto_optimize`,
    * the Delta auto-compaction posture): a continuous micro-batch
    * ingest fragments a table — one small generation per trigger —
    * so after each commit the sink consults
    * [[graft.operators.VersionedTable.maintenancePlan]] (manifest
    * rows + file sizes, zero data IO) and runs `optimizeCompact` when
    * enough sub-target files accumulate, INSIDE the same foreachBatch
    * hook. The gate require()s one batch per staged file, that
    * compaction actually fired mid-stream (≥1 `optimize-compact`
    * commit in the history), that the head's file count ends BELOW
    * the batch count (the fragmentation is absorbed), and — the
    * exactly-once claim the composition endangers — that a
    * REDELIVERED batchId still no-ops AFTER a maintenance commit:
    * the `batchId` watermark now INHERITS through commits like
    * `applied_upto` (this gate found the erasure; same bug class as
    * ADVICE r12's watermark).
    *
    * Scale shape (100 TB): the plan consult is manifest-sized per
    * trigger; compaction IO ∝ the small generations it absorbs —
    * ingest latency stays flat while read amplification is bounded,
    * which is why every production table format ships this loop.
    */
  def streamingAutoOptimize(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.VersionedTable
    val spec = VersionedTable.Spec(Seq("n_chars"), "doc_id", 1 << 13)
    val d = graft.sources.Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val staged = Scratch.dir("graft-ao-s")
    val root = Scratch.dir("graft-ao-t")
    val chk = Scratch.dir("graft-ao-chk")
    d.repartitionByRange(6, col("doc_id")).write.mode("overwrite").parquet(staged)
    val schema = spark.read.parquet(staged).schema
    var nBatches = 0
    var nCompactions = 0
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(staged)
      .writeStream
      .option("checkpointLocation", chk)
      .foreachBatch { (b: Dataset[org.apache.spark.sql.Row], id: Long) =>
        nBatches += 1
        appendVersionedTable(b.toDF(), root, spec, id)
        // auto-compaction: prescriptions from the manifest alone;
        // fire once ≥4 sub-target generations accumulate
        val due = VersionedTable.maintenancePlan(spark, root, 1L << 20)
          .filter(col("action") === "optimize-compact").count()
        if (due >= 4) {
          VersionedTable.optimizeCompact(spark, root, spec, 1L << 20)
          nCompactions += 1
        }
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    require(nBatches == 6, s"one micro-batch per staged file, got $nBatches")
    require(nCompactions >= 1,
      "auto-compaction must fire at least once mid-stream")
    require(VersionedTable.manifest(spark, root).count() < 6L,
      "the head must carry fewer files than the batch count")
    // the exactly-once claim across maintenance: batchId 0 redelivery
    // AFTER optimize commits must still no-op (inherited watermark)
    val replayed = appendVersionedTable(
      spark.read.parquet(staged).limit(7), root, spec, 0L)
    require(!replayed,
      "a redelivered batchId must no-op across maintenance commits")
    VersionedTable.read(spark, root).groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_id")).as("sum_ids"),
        sum(col("n_chars").cast("long")).as("sum_chars"))
  }

  /** The GOLD hop (`streaming_gold_agg`): silver → gold where gold is
    * an AGGREGATE — the per-language (n_docs, Σchars) rollup — kept as
    * its own versioned table and maintained INCREMENTALLY per
    * micro-batch: each feed window folds as MV' = MV ⊞ agg(inserts)
    * ⊟ agg(deletes) restricted to the batch's affected groups
    * (a right-outer join of the groups-sized gold head against the
    * batch delta), and lands through
    * [[graft.operators.VersionedTable.applyChanges]] — affected
    * groups REPLACED (insert rows), drained groups (n_docs → 0)
    * tombstoned (delete rows) — with the monotone per-batch watermark
    * making a redelivered batch no-op BEFORE its (stale-state,
    * recomputed) fold could land. This completes the medallion:
    * bronze → silver (E220, row-level) → gold (aggregate), each hop
    * versioned, time-travelable and feed-emitting.
    *
    * The gate runs append + MERGE-update + DV-delete on silver,
    * drains one micro-batch per commit (require()d ≥ 3), require()s
    * an empty re-drain to leave gold's head untouched, and hashes
    * gold's head AND silver's directly-aggregated head against one
    * oracle restatement — a double-applied batch, a group folded from
    * a missed pre-image, or an unaffected group churned by the fold
    * all diverge the slices.
    *
    * Scale shape (100 TB): per trigger the fold pays feed-window rows
    * + a groups-sized join (gold is #groups rows, never corpus); the
    * apply pays gold's bloom-probed holders. The aggregate never
    * recomputes from silver — the incremental-view-maintenance
    * economics stacked on the feed-source economics.
    */
  def streamingGoldAgg(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.VersionedTable
    val sSpec = VersionedTable.Spec(Seq("n_chars"), "doc_id", 1 << 13)
    val gSpec = VersionedTable.Spec(Seq("n_docs"), "lang", 1 << 13)
    val d = graft.sources.Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val silver = Scratch.dir("graft-gold-s")
    val gold = Scratch.dir("graft-gold-g")
    val chk = Scratch.dir("graft-gold-chk")
    def aggOf(df: DataFrame): DataFrame = df.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars").cast("long")).as("sum_chars"))
    val v1 = VersionedTable.create(spark, d.filter(col("doc_id") % 3 === 0),
      silver, sSpec)
    // gold bootstraps from silver v1 AGGREGATED, watermark v0
    VersionedTable.create(spark,
      aggOf(VersionedTable.readVersion(spark, silver, v1)), gold, gSpec,
      extraMeta = Map("applied_upto" -> "v0"))
    VersionedTable.append(spark, d.filter(col("doc_id") % 3 === 1), silver, sSpec)
    VersionedTable.merge(spark, silver, sSpec,
      d.filter(col("doc_id") % 11 === 0)
        .select(col("doc_id"), col("lang"), (col("n_chars") + 1000).as("n_chars")),
      matchedUpdate = Map("n_chars" -> col("src_n_chars")),
      insertNotMatched = false)
    VersionedTable.deleteRosterDV(spark, silver, sSpec,
      d.filter(col("doc_id") % 13 === 0).select(col("doc_id")))
    var nBatches = 0
    def drain(): Unit = {
      val q = spark.readStream.format("graft.sources.FeedStreamProvider")
        .option("root", silver)
        .option("startingVersion", v1)
        .option("maxVersionsPerTrigger", "1")
        .load()
        .writeStream
        .option("checkpointLocation", chk)
        .foreachBatch { (b: Dataset[org.apache.spark.sql.Row], id: Long) =>
          nBatches += 1
          val batch = b.toDF()
          val delta = aggOf(batch.filter(col("change_type") === "insert"))
            .select(col("lang"), col("n_docs").as("ins_n"),
              col("sum_chars").as("ins_c"))
            .join(aggOf(batch.filter(col("change_type") === "delete"))
              .select(col("lang"), col("n_docs").as("del_n"),
                col("sum_chars").as("del_c")),
              Seq("lang"), "full_outer")
          // fold ONLY the affected groups (right-outer against the
          // batch delta): unaffected gold rows never churn
          val folded = VersionedTable.read(spark, gold)
            .join(delta, Seq("lang"), "right_outer")
            .select(col("lang"),
              (coalesce(col("n_docs"), lit(0L)) + coalesce(col("ins_n"), lit(0L))
                - coalesce(col("del_n"), lit(0L))).as("n_docs"),
              (coalesce(col("sum_chars"), lit(0L)) + coalesce(col("ins_c"), lit(0L))
                - coalesce(col("del_c"), lit(0L))).as("sum_chars"))
          VersionedTable.applyChanges(spark, gold, gSpec,
            folded.filter(col("n_docs") > 0)
              .withColumn("change_type", lit("insert"))
              .unionByName(folded.filter(col("n_docs") <= 0)
                .withColumn("change_type", lit("delete"))),
            s"v${id + 1}")
          ()
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drain()
    require(nBatches >= 3,
      s"one micro-batch per silver commit expected, got $nBatches")
    val headAfter = VersionedTable.headVersion(gold)
    drain()
    require(VersionedTable.headVersion(gold) == headAfter,
      "an empty redrain must not commit to gold")
    VersionedTable.read(spark, gold)
      .select(lit("1_gold").as("slice"), col("lang"), col("n_docs"),
        col("sum_chars"))
      .unionByName(aggOf(VersionedTable.read(spark, silver))
        .select(lit("2_silver_head").as("slice"), col("lang"), col("n_docs"),
          col("sum_chars")))
  }

  /** The DECLARATIVE medallion hop (`streaming_sink_medallion`,
    * [[graft.sources.TableSinkProvider]]): where E220
    * (`streaming_table_to_table`) folds the feed in user foreachBatch
    * code, this is the zero-code form — `readStream.format
    * ("graft-feed")` piped straight into `writeStream.format
    * ("graft-table").option("mode", "apply")`, the sink running
    * [[graft.operators.VersionedTable.applyChanges]] per micro-batch
    * with a monotone `applied_upto` watermark. Four-verb source
    * history (create → append → MERGE update → DV-delete), one batch
    * per commit, an empty redrain require()d to leave the replica
    * untouched; the gate hashes the replica head against the source
    * head under one oracle restatement.
    *
    * Scale shape (100 TB): identical to E220's (feed window bytes +
    * bloom-probed replica holders per trigger) — the sink form buys
    * the DECLARATIVE wiring, not a different plan; the replica root
    * registered as a vacuum consumer is the feed spools' custody
    * floor.
    */
  def streamingSinkMedallion(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.VersionedTable
    val spec = VersionedTable.Spec(Seq("n_chars"), "doc_id", 1 << 13)
    val d = graft.sources.Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val src = Scratch.dir("graft-sm-src")
    val replica = Scratch.dir("graft-sm-rep")
    val chk = Scratch.dir("graft-sm-chk")
    val v1 = VersionedTable.create(spark, d.filter(col("doc_id") % 3 === 0),
      src, spec)
    // replica bootstraps from source v1, watermark v0 (the E220
    // convention: the sink's batch 0 stamps v1)
    VersionedTable.create(spark, VersionedTable.readVersion(spark, src, v1),
      replica, spec, extraMeta = Map("applied_upto" -> "v0"))
    VersionedTable.append(spark, d.filter(col("doc_id") % 3 === 1), src, spec)
    VersionedTable.merge(spark, src, spec,
      d.filter(col("doc_id") % 11 === 0)
        .select(col("doc_id"), col("lang"), (col("n_chars") + 1000).as("n_chars")),
      matchedUpdate = Map("n_chars" -> col("src_n_chars")),
      insertNotMatched = false)
    VersionedTable.deleteRosterDV(spark, src, spec,
      d.filter(col("doc_id") % 13 === 0).select(col("doc_id")))
    def drain(): Unit = {
      val q = spark.readStream.format("graft.sources.FeedStreamProvider")
        .option("root", src)
        .option("startingVersion", v1)
        .option("maxVersionsPerTrigger", "1")
        .load()
        .writeStream.format("graft.sources.TableSinkProvider")
        .option("root", replica)
        .option("keyCol", "doc_id")
        .option("statCols", "n_chars")
        .option("mode", "apply")
        .option("checkpointLocation", chk)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drain()
    val headAfter = VersionedTable.headVersion(replica)
    require(VersionedTable.publishedVersions(replica).size >= 4,
      "one replica commit per source commit expected")
    drain() // restart no-op: same checkpoint, no new commits
    require(VersionedTable.headVersion(replica) == headAfter,
      "an empty redrain must not commit to the replica")
    def aggOf(df: DataFrame, slice: String): DataFrame = df.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_id")).as("sum_ids"),
        sum(col("n_chars").cast("long")).as("sum_chars"))
      .select(lit(slice).as("slice"), col("lang"), col("n_docs"),
        col("sum_ids"), col("sum_chars"))
    aggOf(VersionedTable.read(spark, replica), "1_replica")
      .unionByName(aggOf(VersionedTable.read(spark, src), "2_source"))
  }

  /** FROM-SCRATCH replication via the initial snapshot
    * (`streaming_feed_snapshot`): `startingVersion=snapshot` makes the
    * feed source emit the table's CURRENT content as batch 0 (the
    * Delta initial-snapshot posture), so the declarative hop —
    * graft-feed into the graft-table sink — replicates a table that
    * PREDATES the stream with no out-of-band bootstrap at all: the
    * sink's apply mode creates the replica from the snapshot batch,
    * then folds each later commit's window. Two pre-stream commits
    * prove the snapshot carries history the change feed alone never
    * would; two post-snapshot commits (MERGE update + DV-delete)
    * prove the offset hand-off (snapshot at v2 → windows v2→v3→v4,
    * require()d); an empty redrain leaves the replica untouched. The
    * gate hashes replica head ≡ source head.
    *
    * Scale shape (100 TB): the snapshot batch costs one table read —
    * paid ONCE per consumer lifetime, exactly the bootstrap a
    * replica must pay somewhere; every later trigger pays window
    * bytes. The snapshot spool is w_v00000_v<h>, under the same
    * vacuum custody floor as every window spool.
    */
  def streamingFeedSnapshot(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.VersionedTable
    val spec = VersionedTable.Spec(Seq("n_chars"), "doc_id", 1 << 13)
    val d = graft.sources.Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val src = Scratch.dir("graft-snap-s")
    val replica = Scratch.dir("graft-snap-r")
    val chk = Scratch.dir("graft-snap-c")
    // two commits BEFORE the stream exists — only a snapshot start
    // can carry them to a from-scratch consumer
    VersionedTable.create(spark, d.filter(col("doc_id") % 3 === 0), src, spec)
    VersionedTable.append(spark, d.filter(col("doc_id") % 3 === 1), src, spec)
    def drain(): Unit = {
      val q = spark.readStream.format("graft.sources.FeedStreamProvider")
        .option("root", src)
        .option("startingVersion", "snapshot")
        .option("maxVersionsPerTrigger", "1")
        .load()
        .writeStream.format("graft.sources.TableSinkProvider")
        .option("root", replica)
        .option("keyCol", "doc_id")
        .option("statCols", "n_chars")
        .option("mode", "apply")
        .option("checkpointLocation", chk)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drain() // batch 0 = the snapshot at v2: the replica bootstraps
    require(VersionedTable.read(spark, replica).count() ==
      d.filter(col("doc_id") % 3 < 2).count(),
      "the snapshot batch must carry the full pre-stream content")
    VersionedTable.merge(spark, src, spec,
      d.filter(col("doc_id") % 11 === 0)
        .select(col("doc_id"), col("lang"), (col("n_chars") + 1000).as("n_chars")),
      matchedUpdate = Map("n_chars" -> col("src_n_chars")),
      insertNotMatched = false)
    VersionedTable.deleteRosterDV(spark, src, spec,
      d.filter(col("doc_id") % 13 === 0).select(col("doc_id")))
    drain() // windows v2→v3, v3→v4 — no snapshot re-emission
    val headAfter = VersionedTable.headVersion(replica)
    require(VersionedTable.publishedVersions(replica).size == 3,
      "bootstrap + two window applies expected on the replica")
    drain()
    require(VersionedTable.headVersion(replica) == headAfter,
      "an empty redrain must not commit to the replica")
    def aggOf(df: DataFrame, slice: String): DataFrame = df.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_id")).as("sum_ids"),
        sum(col("n_chars").cast("long")).as("sum_chars"))
      .select(lit(slice).as("slice"), col("lang"), col("n_docs"),
        col("sum_ids"), col("sum_chars"))
    aggOf(VersionedTable.read(spark, replica), "1_replica")
      .unionByName(aggOf(VersionedTable.read(spark, src), "2_source"))
  }

  /** MIN/MAX in the gold MV (`streaming_gold_agg_minmax`, VERDICT r13
    * frontier gap #4): a delete cannot FOLD out of a MIN/MAX — the
    * retracted row may have been the extremum, and nothing in the
    * aggregate remembers the runner-up. The IVM answer: per
    * micro-batch, count/sum keep the sign-foldable delta fold, while
    * min/max RECOMPUTE from silver AT THE WINDOW'S END VERSION —
    * restricted to the batch's AFFECTED groups (left-semi against the
    * batch's group keys), so untouched groups are never read, never
    * folded, never rewritten. The fixture's last commit is a
    * delete-heavy batch confined to ONE language — require()d to
    * touch exactly one gold group — and the fold cross-checks itself:
    * the folded count/sum must equal the recomputed count/sum on
    * every affected group (a divergence means a missed pre-image, the
    * bug class this machinery exists to catch). A group whose
    * recompute comes back empty (fully drained) tombstones out.
    *
    * Scale shape (100 TB): the sign-foldable columns pay feed-window
    * rows; the min/max recompute pays the affected groups' silver
    * rows — under a lang-clustered silver layout that is the changed
    * band, never the table; gold stays #groups-sized throughout.
    */
  /** One micro-batch of the MIN/MAX gold fold (shared by the
    * `streaming_gold_agg_minmax` gate and its edge-case spec):
    * count/sum fold sign-foldably against gold's head; min/max
    * recompute from silver AT `endVersion`, restricted to the batch's
    * affected groups; the fold self-audits (folded count/sum must
    * equal the recompute's); drained groups tombstone out. Commits
    * through [[graft.operators.VersionedTable.applyChanges]] under
    * `watermark`. Gold schema contract: (lang, n_docs, sum_chars,
    * min_chars, max_chars) keyed by lang; the batch is a feed window
    * over (doc_id, lang, n_chars, change_type).
    *
    * @return the number of affected groups (the untouched-groups-
    *         stay-cold claim, require()able by callers)
    */
  private[graft] def foldGoldMinMax(spark: SparkSession, gold: String,
                                    gSpec: graft.operators.VersionedTable.Spec,
                                    silver: String, batch: DataFrame,
                                    endVersion: String,
                                    watermark: String): Long = {
    import graft.operators.VersionedTable
    def cs(df: DataFrame): DataFrame = df.groupBy("lang")
      .agg(count(lit(1)).as("n"), sum(col("n_chars").cast("long")).as("c"))
    // the delta frame feeds FOUR jobs this trigger (the affected
    // count, the fold join, the recompute semi-join, the drained
    // anti-join) — persist for the trigger's scope so the batch
    // groupBy runs once, not per consuming job (VERDICT r14 #3)
    graft.operators.Checkpoints.withPersisted(
      cs(batch.filter(col("change_type") === "insert"))
        .select(col("lang"), col("n").as("ins_n"), col("c").as("ins_c"))
        .join(cs(batch.filter(col("change_type") === "delete"))
          .select(col("lang"), col("n").as("del_n"), col("c").as("del_c")),
          Seq("lang"), "full_outer")) { delta =>
      val affected = delta.count()
      // the replay watermark gates BEFORE the fold: a redelivered window
      // recomputed against gold's ALREADY-FOLDED head would fail its own
      // self-audit (and double-fold if it didn't) — the check
      // applyChanges runs internally must run here first
      val stale = VersionedTable.headVersion(gold).exists(hv =>
        VersionedTable.versionMeta(gold, hv).get("applied_upto")
          .exists(a => a.drop(1).toLong >= watermark.drop(1).toLong))
      if (stale) affected
      else {
        // sign-foldable columns: delta fold against gold's head
        val folded = VersionedTable.read(spark, gold)
          .select(col("lang"), col("n_docs"), col("sum_chars"))
          .join(delta, Seq("lang"), "right_outer")
          .select(col("lang"),
            (coalesce(col("n_docs"), lit(0L)) + coalesce(col("ins_n"), lit(0L))
              - coalesce(col("del_n"), lit(0L))).as("n_docs"),
            (coalesce(col("sum_chars"), lit(0L)) + coalesce(col("ins_c"), lit(0L))
              - coalesce(col("del_c"), lit(0L))).as("sum_chars"))
        // non-sign-foldable columns: recompute the AFFECTED groups from
        // silver at the window's END version
        val recomputed = VersionedTable.readVersion(spark, silver, endVersion)
          .join(delta.select("lang"), Seq("lang"), "left_semi")
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars").cast("long")).as("sum_chars"),
            min(col("n_chars").cast("long")).as("min_chars"),
            max(col("n_chars").cast("long")).as("max_chars"))
        // self-audit: fold and recompute must agree on the sign-foldable
        // columns for every surviving affected group
        val drift = folded.join(recomputed
            .select(col("lang"), col("n_docs").as("r_n"),
              col("sum_chars").as("r_c")),
            Seq("lang"), "inner")
          .filter(col("n_docs") =!= col("r_n") || col("sum_chars") =!= col("r_c"))
        require(drift.isEmpty,
          "gold fold diverged from the recompute on an affected group — a " +
            "missed pre-image in the window")
        val survivors = folded.join(recomputed
            .select(col("lang"), col("min_chars"), col("max_chars")),
          Seq("lang"), "inner")
        val drained0 = folded.join(recomputed.select("lang"), Seq("lang"), "left_anti")
        // the audit must cover DRAINED groups too (ADVICE r14): a group
        // absent from the silver recompute is about to tombstone — its
        // folded count/sum must have reached exactly 0, or a missed
        // pre-image (the bug class this audit exists for) is silently
        // DELETING a live gold row instead of failing loudly
        val badDrain = drained0.filter(
          col("n_docs") =!= 0L || col("sum_chars") =!= 0L)
        require(badDrain.isEmpty,
          "gold fold drained a group whose folded count/sum is nonzero — a " +
            "missed pre-image in the window would silently delete the row")
        val drained = drained0
          .withColumn("min_chars", lit(null).cast("long"))
          .withColumn("max_chars", lit(null).cast("long"))
        VersionedTable.applyChanges(spark, gold, gSpec,
          survivors.withColumn("change_type", lit("insert"))
            .unionByName(drained.withColumn("change_type", lit("delete"))),
          watermark)
        affected
      }
    }
  }

  def streamingGoldAggMinMax(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.VersionedTable
    val sSpec = VersionedTable.Spec(Seq("n_chars"), "doc_id", 1 << 13)
    val gSpec = VersionedTable.Spec(Seq("n_docs"), "lang", 1 << 13)
    val d = graft.sources.Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val silver = Scratch.dir("graft-goldmm-s")
    val gold = Scratch.dir("graft-goldmm-g")
    val chk = Scratch.dir("graft-goldmm-chk")
    def aggOf(df: DataFrame): DataFrame = df.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars").cast("long")).as("sum_chars"),
        min(col("n_chars").cast("long")).as("min_chars"),
        max(col("n_chars").cast("long")).as("max_chars"))
    val delLang = d.agg(min(col("lang"))).head().getString(0)
    val v1 = VersionedTable.create(spark, d.filter(col("doc_id") % 3 === 0),
      silver, sSpec)
    VersionedTable.create(spark,
      aggOf(VersionedTable.readVersion(spark, silver, v1)), gold, gSpec,
      extraMeta = Map("applied_upto" -> "v0"))
    VersionedTable.append(spark, d.filter(col("doc_id") % 3 === 1), silver, sSpec)
    VersionedTable.merge(spark, silver, sSpec,
      d.filter(col("doc_id") % 11 === 0)
        .select(col("doc_id"), col("lang"), (col("n_chars") + 1000).as("n_chars")),
      matchedUpdate = Map("n_chars" -> col("src_n_chars")),
      insertNotMatched = false)
    // the delete-heavy commit confined to ONE language: the batch that
    // forces the recompute path AND proves untouched groups stay cold
    VersionedTable.deleteRosterDV(spark, silver, sSpec,
      d.filter(col("doc_id") % 13 === 0 && col("lang") === delLang)
        .select(col("doc_id")))
    var nBatches = 0
    var lastAffected = -1L
    def drain(): Unit = {
      val q = spark.readStream.format("graft.sources.FeedStreamProvider")
        .option("root", silver)
        .option("startingVersion", v1)
        .option("maxVersionsPerTrigger", "1")
        .load()
        .writeStream
        .option("checkpointLocation", chk)
        .foreachBatch { (b: Dataset[org.apache.spark.sql.Row], id: Long) =>
          nBatches += 1
          // one version per trigger from v1 ⇒ batch id ends at v(id+2)
          lastAffected = foldGoldMinMax(spark, gold, gSpec, silver,
            b.toDF(), "v%05d".format(id + 2), s"v${id + 1}")
          ()
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drain()
    require(nBatches >= 3,
      s"one micro-batch per silver commit expected, got $nBatches")
    require(lastAffected == 1L,
      s"the one-language delete batch must touch exactly one gold group, " +
        s"got $lastAffected")
    val headAfter = VersionedTable.headVersion(gold)
    drain()
    require(VersionedTable.headVersion(gold) == headAfter,
      "an empty redrain must not commit to gold")
    VersionedTable.read(spark, gold)
      .select(lit("1_gold").as("slice"), col("lang"), col("n_docs"),
        col("sum_chars"), col("min_chars"), col("max_chars"))
      .unionByName(aggOf(VersionedTable.read(spark, silver))
        .select(lit("2_silver_head").as("slice"), col("lang"), col("n_docs"),
          col("sum_chars"), col("min_chars"), col("max_chars")))
  }

  /** PER-ROW COMMIT METADATA on the feed
    * (`streaming_feed_commit_versions`, VERDICT r14 #1 — the Delta
    * CDF `_commit_version`/`_commit_timestamp` parity gap): the
    * four-verb source chain (create → append → MERGE update →
    * DV-delete) streams through `graft-feed` with
    * `commitVersions=true`, and every emitted row carries the VERSION
    * THAT COMMITTED IT plus that version's effective writer stamp
    * (v1 stamped 1000, v3 stamped 3000; v2/v4 INHERIT the preceding
    * stamp — the [[graft.operators.VersionedTable.versionAsOfTs]]
    * rule stated per row). The gate accumulates every micro-batch and
    * hash-matches the full attributed feed against the DuckDB
    * restatement: a row charged to the wrong commit, a delete missing
    * its pre-image payload, or a timestamp that failed to inherit all
    * diverge. Each batch is require()d to carry exactly one distinct
    * `_commit_version` (1 version per trigger ⇒ 1 commit per batch).
    *
    * Scale shape (100 TB): attribution stamps ride the existing
    * per-version feed planning ([[graft.operators.VersionedTable
    * .changeFeedWithCommitVersions]] — one manifest diff per version,
    * the changeFeed bill at its finest segmentation); no data-path
    * cost beyond two literal columns in the spool.
    */
  def streamingFeedCommitVersions(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.VersionedTable
    val spec = VersionedTable.Spec(Seq("n_chars"), "doc_id", 1 << 13)
    val d = graft.sources.Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val src = Scratch.dir("graft-fcv-src")
    val out = Scratch.dir("graft-fcv-out")
    val chk = Scratch.dir("graft-fcv-chk")
    val v1 = VersionedTable.create(spark, d.filter(col("doc_id") % 3 === 0),
      src, spec, extraMeta = Map("commit_ts" -> "1000"))
    VersionedTable.append(spark, d.filter(col("doc_id") % 3 === 1), src, spec)
    VersionedTable.merge(spark, src, spec,
      d.filter(col("doc_id") % 11 === 0)
        .select(col("doc_id"), col("lang"), (col("n_chars") + 1000).as("n_chars")),
      matchedUpdate = Map("n_chars" -> col("src_n_chars")),
      insertNotMatched = false, extraMeta = Map("commit_ts" -> "3000"))
    VersionedTable.deleteRosterDV(spark, src, spec,
      d.filter(col("doc_id") % 13 === 0).select(col("doc_id")))
    var nBatches = 0
    val q = spark.readStream.format("graft.sources.FeedStreamProvider")
      .option("root", src)
      .option("startingVersion", v1)
      .option("maxVersionsPerTrigger", "1")
      .option("commitVersions", "true")
      .load()
      .writeStream
      .option("checkpointLocation", chk)
      .foreachBatch { (b: Dataset[org.apache.spark.sql.Row], _: Long) =>
        nBatches += 1
        val batch = b.toDF()
        // one version per trigger ⇒ one commit per batch, stated by
        // the rows themselves
        val vs = batch.select("_commit_version").distinct().count()
        require(vs <= 1L,
          s"a 1-version window must attribute to one commit, got $vs")
        batch.write.mode("append").parquet(out)
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    require(nBatches >= 3,
      s"one micro-batch per source commit expected, got $nBatches")
    spark.read.parquet(out)
      .select(col("doc_id"), col("lang"), col("n_chars"), col("change_type"),
        col("_commit_version"), col("_commit_timestamp"),
        col("_commit_version_num"))
  }

  /** EXPECTATIONS on the declarative sink
    * (`streaming_sink_expectations` — the DLT quality-gate trio as
    * sink options, the streaming form of the curation funnel's reject
    * leg): a raw document stream lands through `graft-table` with
    * `expect = <predicate>` and `onViolation = quarantine` — per
    * micro-batch, rows satisfying the predicate append to bronze and
    * violations land in a SECOND versioned table, BOTH exactly-once
    * by the same `batchId` watermark (a replayed batch no-ops on both
    * tables, so the quality split is idempotent, auditable, and never
    * drops a rejected row on the floor the way a plain filter would).
    * Two staged files under `maxFilesPerTrigger=1` force two batches
    * (per-batch split require()d by the quarantine watermark); an
    * empty redrain leaves both heads untouched. The gate hashes
    * bronze + quarantine row-level against the DuckDB predicate
    * split — one row on the wrong side diverges.
    *
    * Scale shape (100 TB): the split is one codegen'd filter over the
    * batch; each side pays its own append (batch bytes + one manifest
    * publish) — never table bytes; rejected rows stay a queryable
    * versioned table for the funnel audit.
    */
  def streamingSinkExpectations(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.VersionedTable
    val d = graft.sources.Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val stage = Scratch.dir("graft-se-st")
    val bronze = Scratch.dir("graft-se-b") + "/t"
    val quar = Scratch.dir("graft-se-q") + "/t"
    val chk = Scratch.dir("graft-se-c")
    d.repartitionByRange(2, col("doc_id"))
      .write.mode("overwrite").parquet(stage)
    def drain(): Unit = {
      val sch = spark.read.parquet(stage).schema
      val q = spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", "1").parquet(stage)
        .writeStream.format("graft.sources.TableSinkProvider")
        .option("root", bronze)
        .option("keyCol", "doc_id")
        .option("statCols", "n_chars")
        .option("expect", "n_chars % 7 != 0")
        .option("onViolation", "quarantine")
        .option("quarantineRoot", quar)
        .option("checkpointLocation", chk)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drain()
    // both legs carry the batchId watermark — the split is per-batch
    // exactly-once, not a post-hoc filter
    require(VersionedTable.headMeta(bronze, "batchId").isDefined &&
      VersionedTable.headMeta(quar, "batchId").isDefined,
      "both legs must ride the batchId watermark")
    val heads = (VersionedTable.headVersion(bronze), VersionedTable.headVersion(quar))
    drain() // empty redrain: neither table commits
    require((VersionedTable.headVersion(bronze), VersionedTable.headVersion(quar)) == heads,
      "an empty redrain must not commit to either leg")
    def shaped(root: String, slice: String): DataFrame =
      VersionedTable.read(spark, root)
        .select(lit(slice).as("slice"), col("doc_id"), col("lang"), col("n_chars"))
    shaped(bronze, "1_bronze").unionByName(shaped(quar, "2_quarantine"))
  }

  /** RAW out-of-order CDC through the declarative sink
    * (`streaming_sink_applyseq`, VERDICT r14 #6 — the spec-only
    * applySeq mode under the oracle gate): a shuffled external CDC
    * feed — multiple ops per key, late arrivals delivered after the
    * op that supersedes them — staged as three waves and streamed
    * into `writeStream.format("graft-table").option("mode",
    * "applySeq").option("sequenceBy", "seq")`. Per batch the sink
    * resolves the net op per key (highest `seq` wins) via
    * [[graft.operators.VersionedTable.applyChangesSeq]], bootstrapping
    * the replica from the first wave's net inserts. Wave 1 carries a
    * stale delete UNDER the insert that supersedes it; wave 2 updates
    * through a delete+insert pair; wave 3 deletes with a stale late
    * re-insert that must lose. The gate hashes the replica's full
    * content row-by-row against the DuckDB restatement of the net
    * outcome.
    *
    * Scale shape (100 TB): per trigger one window shuffle over the
    * feed rows (the row_number seq resolution) + the applyChanges
    * bill (window rows + bloom-probed holders) — never table bytes.
    */
  def streamingSinkApplySeq(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.VersionedTable
    val d = graft.sources.Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val stage = Scratch.dir("graft-sq-st")
    val table = Scratch.dir("graft-sq-t") + "/t"
    val chk = Scratch.dir("graft-sq-c")
    def cdc(df: DataFrame, seq: Long, op: String): DataFrame =
      df.select(col("doc_id"), col("lang"), col("n_chars"),
        lit(seq).as("seq"), lit(op).as("change_type"))
    def drain(): Unit = {
      val sch = spark.read.parquet(stage).schema
      val q = spark.readStream.schema(sch).parquet(stage)
        .writeStream.format("graft.sources.TableSinkProvider")
        .option("root", table)
        .option("keyCol", "doc_id")
        .option("statCols", "n_chars")
        .option("mode", "applySeq")
        .option("sequenceBy", "seq")
        .option("checkpointLocation", chk)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    // wave 1 (bootstraps the replica): inserts, shuffled with STALE
    // deletes a higher-seq insert supersedes — they must lose in-batch
    cdc(d.filter(col("doc_id") % 3 === 0), 1L, "insert")
      .unionByName(cdc(
        d.filter(col("doc_id") % 3 === 0 && col("doc_id") % 5 === 0),
        0L, "delete"))
      .repartition(4)
      .write.mode("append").parquet(stage)
    drain()
    // wave 2: updates as out-of-order delete+insert pairs; keys new
    // to the replica net-insert through the same resolution
    cdc(d.filter(col("doc_id") % 11 === 0)
        .withColumn("n_chars", col("n_chars") + 1000), 3L, "insert")
      .unionByName(cdc(d.filter(col("doc_id") % 11 === 0), 2L, "delete"))
      .repartition(4)
      .write.mode("append").parquet(stage)
    drain()
    // wave 3: deletes, with a LATE stale re-insert that must lose
    cdc(d.filter(col("doc_id") % 13 === 0), 5L, "delete")
      .unionByName(cdc(
        d.filter(col("doc_id") % 13 === 0 && col("doc_id") % 2 === 0)
          .withColumn("n_chars", col("n_chars") + 9999), 4L, "insert"))
      .repartition(4)
      .write.mode("append").parquet(stage)
    drain()
    // the transport-only sequence column never lands in the replica
    require(!VersionedTable.read(spark, table).columns.contains("seq"),
      "the sequenceBy column is transport, not payload")
    VersionedTable.read(spark, table)
      .select(col("doc_id"), col("lang"), col("n_chars"))
  }

  /** The versioned table as a STREAMING SOURCE
    * (`streaming_feed_source`, [[graft.sources.FeedStreamProvider]] —
    * VERDICT r12 frontier gap #1, the Delta streaming-source / CDF
    * analog): a four-verb chain (create → append → MERGE update →
    * DV-delete) runs on the table, then
    * `readStream.format("graft-feed")` consumes the change feed with
    * VERSION-NUMBER OFFSETS, `maxVersionsPerTrigger = 1` forcing one
    * micro-batch per commit (require()d ≥ 3), and each batch folds
    * into a driver-held per-language MV exactly the way a
    * [[graft.operators.FeedConsumer]] fold would (insert rows add,
    * delete rows subtract — the feed's deletes carry full payloads).
    * The gate hashes the STREAM-FOLDED MV against the HEAD-READ
    * aggregate under one oracle restatement: a missed window, a
    * double-applied batch, or an update emitted without its pre-image
    * all diverge the slices.
    *
    * Scale shape (100 TB): each trigger pays its window's changed
    * files + DV delta (never table bytes); the micro-batch data path
    * reads the planner's feed spool directly on executors. The MV
    * here is driver-held only because it is #languages rows — the
    * bounded-state class, not a corpus collect.
    */
  def streamingFeedSource(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.VersionedTable
    val spec = VersionedTable.Spec(Seq("n_chars"), "doc_id", 1 << 13)
    val d = graft.sources.Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val src = Scratch.dir("graft-feedsrc")
    val chk = Scratch.dir("graft-feedsrc-chk")
    val layout = (df: DataFrame) =>
      df.repartitionByRange(8, col("n_chars"), col("doc_id"))
        .sortWithinPartitions("n_chars")
    val v1 = VersionedTable.create(spark, d.filter(col("doc_id") % 3 === 0),
      src, spec, layout)
    VersionedTable.append(spark, d.filter(col("doc_id") % 3 === 1), src, spec,
      layout)
    VersionedTable.merge(spark, src, spec,
      d.filter(col("doc_id") % 11 === 0)
        .select(col("doc_id"), col("lang"), (col("n_chars") + 1000).as("n_chars")),
      matchedUpdate = Map("n_chars" -> col("src_n_chars")),
      insertNotMatched = false, layout = layout)
    VersionedTable.deleteRosterDV(spark, src, spec,
      d.filter(col("doc_id") % 13 === 0).select(col("doc_id")))
    // bootstrap MV = the replica's v1 view; stream-fold the rest
    val state = scala.collection.mutable.Map.empty[String, (Long, Long)]
    VersionedTable.readVersion(spark, src, v1).groupBy("lang")
      .agg(count(lit(1)).as("n"), sum(col("n_chars").cast("long")).as("s"))
      .collect().foreach(r => state(r.getString(0)) = (r.getLong(1), r.getLong(2)))
    var nBatches = 0
    val q = spark.readStream.format("graft.sources.FeedStreamProvider")
      .option("root", src)
      .option("startingVersion", v1)
      .option("maxVersionsPerTrigger", "1")
      .load()
      .writeStream
      .option("checkpointLocation", chk)
      .foreachBatch { (b: Dataset[org.apache.spark.sql.Row], _: Long) =>
        nBatches += 1
        b.groupBy("lang", "change_type")
          .agg(count(lit(1)).as("n"), sum(col("n_chars").cast("long")).as("s"))
          .collect().foreach { r =>
            val sign = if (r.getString(1) == "insert") 1L else -1L
            val (n0, s0) = state.getOrElse(r.getString(0), (0L, 0L))
            state(r.getString(0)) =
              (n0 + sign * r.getLong(2), s0 + sign * r.getLong(3))
          }
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    require(nBatches >= 3,
      s"maxVersionsPerTrigger=1 over 3 data commits must micro-batch per " +
        s"version, got $nBatches")
    import spark.implicits._
    val mv = state.toSeq.filter(_._2._1 > 0L)
      .map { case (lang, (n, s)) => (lang, n, s) }
      .toDF("lang", "n_docs", "sum_chars")
    mv.select(lit("1_stream_mv").as("slice"), col("lang"), col("n_docs"),
        col("sum_chars"))
      .unionByName(VersionedTable.read(spark, src).groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars").cast("long")).as("sum_chars"))
        .select(lit("2_head").as("slice"), col("lang"), col("n_docs"),
          col("sum_chars")))
  }

  /** COMPLEX columns through the streaming feed
    * (`streaming_feed_embeddings`, VERDICT r13 next-round #2): the
    * E227 embedding corpus — `array<float>`, the first real column
    * type a training pipeline streams and exactly what the r13 spool
    * reader refused — replicates through `graft-feed` into a second
    * versioned table. Four-verb source history (create → append →
    * MERGE reversing selected vectors → DV-delete), one micro-batch
    * per commit, each batch folded by
    * [[graft.operators.VersionedTable.applyChanges]] with the
    * window's END VERSION as its watermark. The spool now reads back
    * through Spark's own parquet path, so any Spark SQL type
    * round-trips; the gate hashes the REPLICA head against the source
    * head under one oracle restatement (dim + the in-order
    * sum-of-squares checksum, rounded — the [[graft.ExtOracleSql]]
    * double-fold convention).
    *
    * SPOOL CUSTODY exercised in-gate (VERDICT r13 next-round #1):
    * after the drain, a vacuum with the REPLICA registered as
    * consumer (its `applied_upto` = the last window's end version)
    * must reclaim every `_stream` window spool — require()d empty —
    * while the pre-vacuum require pins that the spools existed.
    *
    * Scale shape (100 TB): per-trigger cost ∝ the window's changed
    * files (embedding bytes ride the spool once); the replica fold
    * pays bloom-probed holders only; spool disk is bounded by
    * consumer lag, reclaimed by the vacuum custody rule.
    */
  def streamingFeedEmbeddings(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.VersionedTable
    val spec = VersionedTable.Spec(Seq("vec_id"), "vec_id", 1 << 13)
    val e = graft.sources.Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val src = Scratch.dir("graft-fe-src")
    val replica = Scratch.dir("graft-fe-rep")
    val chk = Scratch.dir("graft-fe-chk")
    val v1 = VersionedTable.create(spark, e.filter(col("vec_id") % 4 =!= 3),
      src, spec)                                                    // v1
    VersionedTable.append(spark, e.filter(col("vec_id") % 4 === 3), src, spec) // v2
    VersionedTable.merge(spark, src, spec,
      e.filter(col("vec_id") % 25 === 0)
        .select(col("vec_id"), reverse(col("embedding")).as("embedding")),
      matchedUpdate = Map("embedding" -> col("src_embedding")),
      insertNotMatched = false)                                     // v3
    VersionedTable.deleteRosterDV(spark, src, spec,
      e.filter(col("vec_id") % 17 === 0).select(col("vec_id")))     // v4
    // replica bootstraps from source v1; the stream folds the rest
    VersionedTable.create(spark, VersionedTable.readVersion(spark, src, v1),
      replica, spec, extraMeta = Map("applied_upto" -> "v1"))
    var nBatches = 0
    def drain(): Unit = {
      val q = spark.readStream.format("graft.sources.FeedStreamProvider")
        .option("root", src)
        .option("startingVersion", v1)
        .option("maxVersionsPerTrigger", "1")
        .load()
        .writeStream
        .option("checkpointLocation", chk)
        .foreachBatch { (b: Dataset[org.apache.spark.sql.Row], id: Long) =>
          nBatches += 1
          // one version per trigger from v1 ⇒ batch id covers window
          // v(id+1) → v(id+2); the END version is the replay watermark
          VersionedTable.applyChanges(spark, replica, spec,
            b.toDF().select(col("vec_id"), col("embedding"),
              col("change_type")),
            "v%05d".format(id + 2))
          ()
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drain()
    require(nBatches >= 3,
      s"one micro-batch per source commit expected, got $nBatches")
    val headAfter = VersionedTable.headVersion(replica)
    drain() // restart no-op: same checkpoint, no new commits
    require(VersionedTable.headVersion(replica) == headAfter,
      "an empty redrain must not commit to the replica")
    // spool custody: the caught-up replica (applied_upto = source
    // head) lets vacuum reclaim every window spool
    def spools(): Set[String] = {
      val p = java.nio.file.Paths.get(src, "_stream")
      if (!java.nio.file.Files.isDirectory(p)) Set.empty
      else {
        val st = java.nio.file.Files.list(p)
        try { import scala.jdk.CollectionConverters._
          st.iterator().asScala.map(_.getFileName.toString).toSet
        } finally st.close()
      }
    }
    require(spools().nonEmpty, "the drain must have spooled its windows")
    VersionedTable.vacuum(spark, src,
      keepLast = VersionedTable.publishedVersions(src).size,
      consumers = Seq(replica))
    require(spools().isEmpty,
      s"a caught-up consumer pins no spool, got ${spools()}")
    def shaped(df: DataFrame, slice: String): DataFrame = df.select(
      lit(slice).as("slice"), col("vec_id"),
      size(col("embedding")).cast("long").as("dim"),
      round(aggregate(col("embedding"), lit(0.0),
        (acc, x) => acc + x.cast("double") * x.cast("double")), 6)
        .as("checksum"))
    shaped(VersionedTable.read(spark, replica), "1_replica")
      .unionByName(shaped(VersionedTable.read(spark, src), "2_source"))
  }
}
