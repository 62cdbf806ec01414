package graft.sources

import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SQLContext}
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSinkProvider}
import org.apache.spark.sql.streaming.OutputMode

import graft.operators.{Checkpoints, VersionedTable}

/** STREAMING SINK into a [[VersionedTable]] — the first-class
  * `df.writeStream.format("graft-table")` form of the foreachBatch
  * patterns the medallion gates established (the Delta streaming-sink
  * analog; Delta's own sink is this same V1 `Sink` architecture: the
  * micro-batch arrives DRIVER-side as a DataFrame and the commit runs
  * through the table's ordinary verb machinery).
  *
  * Options:
  *  - `root` (required): the versioned table's root directory.
  *  - `keyCol` (required): the table's bloom key ([[VersionedTable.Spec]]).
  *  - `statCols`: comma-separated min/max stat columns (default none).
  *  - `mBits`: bloom bitmap bits (default 8192).
  *  - `mode`:
  *     - `append` (default): each micro-batch lands as one
  *       create/append commit, exactly-once by the `batchId` watermark
  *       (inherits through maintenance commits — the E228 contract).
  *     - `apply`: the batch is a CHANGE FEED window (carries
  *       `change_type`) folded by [[VersionedTable.applyChanges]] —
  *       so `readStream.format("graft-feed") → writeStream
  *       .format("graft-table").option("mode","apply")` is a complete
  *       declarative table-to-table replication hop with zero user
  *       code. Exactly-once by `applied_upto` = the window's TRUE END
  *       VERSION, read off the batch plan's DSv2 offset metadata
  *       ([[GraftTableSink.feedWindowEnd]]) — a real SOURCE offset
  *       under multi-version windows, `startingVersion > 0` and
  *       `snapshot` bootstraps alike, so registering the replica as a
  *       [[VersionedTable.vacuum]] consumer gives a version-true spool
  *       custody floor and composes with out-of-band bootstraps that
  *       stamp `applied_upto=vK`. An absent table bootstraps from the
  *       first batch's inserts (use the feed source's
  *       `startingVersion=snapshot` when the source predates the
  *       stream). A raw non-graft-feed CDC stream (no offset metadata
  *       to read) falls back to the `v(batchId+1)` batch counter and
  *       REFUSES a replica whose existing watermark is ahead of it —
  *       the convention mismatch that would otherwise silently skip
  *       windows.
  *     - `applySeq`: `apply` for RAW external CDC feeds — multiple
  *       ops per key, late arrivals, shuffled order — resolved per
  *       key by `option("sequenceBy", <col>)` before the fold
  *       ([[VersionedTable.applyChangesSeq]]'s contract: highest
  *       sequence wins, insert outranks delete at a tie).
  *  - `autoOptimize` (`true`|`false`, default false): after each
  *    commit the sink consults [[VersionedTable.maintenancePlan]]
  *    (manifest rows + file sizes, zero data IO) and runs
  *    `optimizeCompact` once ≥4 sub-target generations accumulate —
  *    the E228 auto-compaction loop as a sink option; the `batchId` /
  *    `applied_upto` watermarks inherit through the maintenance
  *    commits, so exactly-once survives it.
  *  - `autoOptimizeTargetBytes` (default 1 MiB): the small-file
  *    threshold the auto-optimize consult uses.
  *  - `expect` + `onViolation` (`fail`|`drop`|`quarantine`, default
  *    fail) + `quarantineRoot`: the DLT expectations trio as sink
  *    options — `expect` is a SQL predicate a row must satisfy
  *    (FALSE or NULL violates, the DLT rule); `fail` aborts the
  *    batch before anything commits, `drop` discards violations,
  *    `quarantine` lands them in a second versioned table
  *    exactly-once by the same `batchId` watermark (the streaming
  *    form of the curation funnel's reject leg — rejected rows stay
  *    queryable, auditable, and replayable). In `apply`/`applySeq`
  *    mode expectations evaluate CHANGE rows (the DLT APPLY CHANGES
  *    semantics): dropping or quarantining a violating DELETE row
  *    means the replica intentionally KEEPS a row the source removed
  *    — state quality policy on a replication hop only when that
  *    divergence is the intent.
  *
  * The incoming micro-batch frame is streaming-tagged, so it re-roots
  * through [[GraftSqlBridge.fromInternalRdd]] (the Delta sink's toRdd
  * re-wrap) before the verb consumes it as a batch frame.
  *
  * Scale shape (100 TB): per trigger the sink pays the batch's write
  * + one manifest publish (`append`) or the applyChanges bill
  * (window rows + bloom-probed holders, `apply`) — never table bytes;
  * registering the sink's root as a vacuum consumer gives the
  * upstream feed spools their custody floor.
  */
class TableSinkProvider extends StreamSinkProvider with DataSourceRegister {
  override def shortName(): String = "graft-table"

  override def createSink(sqlContext: SQLContext,
                          parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: OutputMode): Sink = {
    val p = parameters.map { case (k, v) => k.toLowerCase -> v }
    def req(k: String): String = p.getOrElse(k.toLowerCase,
      throw new IllegalArgumentException(
        s"graft-table sink needs option('$k', ...)"))
    require(outputMode == OutputMode.Append() || outputMode == OutputMode.Update(),
      s"graft-table sink supports append/update output modes, got $outputMode")
    val spec = VersionedTable.Spec(
      p.get("statcols").map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        .getOrElse(Nil),
      req("keyCol"),
      p.get("mbits").map(_.toInt).getOrElse(1 << 13))
    val mode = p.getOrElse("mode", "append").toLowerCase
    require(mode == "append" || mode == "apply" || mode == "applyseq",
      s"graft-table sink mode must be append|apply|applySeq, got $mode")
    val seqCol = p.get("sequenceby")
    require(mode != "applyseq" || seqCol.isDefined,
      "graft-table applySeq mode needs option('sequenceBy', <col>)")
    val onViolation = p.getOrElse("onviolation", "fail").toLowerCase
    require(Set("fail", "drop", "quarantine").contains(onViolation),
      s"graft-table onViolation must be fail|drop|quarantine, got $onViolation")
    require(onViolation != "quarantine" || p.contains("quarantineroot"),
      "graft-table onViolation=quarantine needs option('quarantineRoot', ...)")
    require(onViolation != "quarantine" ||
        !p.get("quarantineroot").contains(req("root")),
      "graft-table quarantineRoot must differ from root: quarantining " +
        "into the sink's own table consumes its batchId watermark and " +
        "silently drops the batch's passing rows")
    require(p.contains("expect") || !p.contains("onviolation"),
      "graft-table onViolation without option('expect', <predicate>)")
    new GraftTableSink(req("root"), spec, mode, seqCol,
      p.get("autooptimize").exists(_.toBoolean),
      p.get("autooptimizetargetbytes").map(_.toLong).getOrElse(1L << 20),
      p.get("expect"), onViolation, p.get("quarantineroot"))
  }
}

private[sources] class GraftTableSink(root: String,
                                      spec: VersionedTable.Spec,
                                      mode: String,
                                      seqCol: Option[String] = None,
                                      autoOptimize: Boolean = false,
                                      targetBytes: Long = 1L << 20,
                                      expect: Option[String] = None,
                                      onViolation: String = "fail",
                                      quarantineRoot: Option[String] = None)
  extends Sink {

  /** The TRUE SOURCE-VERSION end of this micro-batch's feed window,
    * read off the batch plan's offset metadata (VERDICT r14 #1): the
    * micro-batch planner hands the sink a plan whose
    * [[org.apache.spark.sql.execution.datasources.v2.StreamingDataSourceV2ScanRelation]]
    * carries the exact (start, end] offsets it planned for each DSv2
    * source — for a `graft-feed` source those ARE table version
    * numbers. Stamping `applied_upto` from this (instead of the old
    * `v(batchId+1)` batch counter) makes the sink's watermark a REAL
    * source offset under every admission shape — multi-version
    * windows (the default `allAvailable`!), `startingVersion > 0`,
    * `snapshot` bootstrap — so vacuum's spool custody floor
    * ([[VersionedTable.vacuum]]) is version-true and a caught-up
    * sink releases every spool. Works for EMPTY windows too
    * (property-only commits still advance the offset), which no
    * per-row `_commit_version` max could. Empty when the plan has no
    * graft-feed source (raw external CDC into applySeq); one entry
    * PER FEED RELATION when it has several (a union stream) —
    * resolved per mode (VERDICT r15 #4): `apply`/`applySeq` REFUSE a
    * multi-feed plan (one `applied_upto` watermark cannot be
    * exactly-once for two independently-advancing sources — the
    * min would re-apply the ahead source's redelivered windows),
    * while `append` stamps the MIN end (batchId carries replay
    * idempotence there, so `applied_upto` is purely a custody floor,
    * and a floor at-or-below each source's true end only ever retains
    * MORE — both spools still drain once both sources catch up).
    */
  private def feedWindowEnds(data: DataFrame): Seq[Option[Long]] = {
    import org.apache.spark.sql.execution.datasources.v2.StreamingDataSourceV2ScanRelation
    // ONE ENTRY PER RELATION, not per extracted offset: a feed
    // relation whose end offset is missing or foreign-typed must
    // still COUNT (as None — it forces the safe fallback or the
    // multi-feed refusal below), never silently vanish. Dropping it
    // would let a two-feed plan with one offset-less relation
    // masquerade as single-feed and stamp applied_upto from the
    // surviving source — the exactly-once violation the refusal
    // exists to prevent. Two sources that happen to sit at the same
    // version number are likewise still two entries.
    data.queryExecution.logical.collect {
      case r: StreamingDataSourceV2ScanRelation
          if r.stream.isInstanceOf[FeedMicroBatchStream] =>
        r.endOffset.toSeq.collect { case o: FeedOffset => o.version } match {
          case Seq(v) => Some(v)
          case _ => None
        }
    }
  }

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    val s = data.sparkSession
    val windowEnd = GraftTableSink.resolveWindowEnd(mode, feedWindowEnds(data))
    // the streaming frame can't be consumed by batch verbs directly —
    // re-root its physical rows as a batch frame (the Delta sink move)
    val batch0 = GraftSqlBridge.fromInternalRdd(s,
      data.queryExecution.toRdd, data.schema)
    // feed metadata columns are transport, not payload: a replica
    // never stores another table's commit lineage
    val full0 = batch0.drop("_commit_version", "_commit_version_num",
      "_commit_timestamp")
    // with expectations, the re-rooted batch is consumed 2–3× (the
    // violation probe plus the keep-side commit, plus the quarantine
    // leg) — persist for the scope of this addBatch (ADVICE r15), or
    // every pass recomputes the micro-batch plan from the source
    def commit(full: DataFrame): Unit = {
    // EXPECTATIONS (the DLT quality-gate trio): a row KEEPS only when
    // the predicate is TRUE — false or NULL violates (the DLT rule).
    // fail: any violation aborts the batch before anything commits;
    // drop: violations vanish; quarantine: violations land in a
    // SECOND versioned table exactly-once by the same batchId
    // watermark, so the quality split replays idempotently with the
    // main commit.
    val batch = expect match {
      case None => full
      case Some(pred) =>
        val keep = org.apache.spark.sql.functions.coalesce(
          org.apache.spark.sql.functions.expr(pred),
          org.apache.spark.sql.functions.lit(false))
        onViolation match {
          case "fail" =>
            val bad = full.filter(!keep).count()
            require(bad == 0L,
              s"graft-table expectation '$pred' failed for $bad row(s) " +
                s"in batch $batchId (onViolation=fail)")
            full
          case "drop" => full.filter(keep)
          case "quarantine" =>
            val bad = full.filter(!keep)
            if (!bad.isEmpty)
              graft.streaming.StreamingStage.appendVersionedTable(
                bad, quarantineRoot.get,
                VersionedTable.Spec(Nil, spec.keyCol, spec.mBits), batchId)
            full.filter(keep)
        }
    }
    mode match {
      case "append" =>
        // an all-quarantined batch leaves nothing to append (WAP
        // audits refuse empty versions); replay stays consistent —
        // the quarantine side no-ops by its own batchId watermark.
        // A graft-feed-driven append log ALSO stamps applied_upto
        // (the window's true end version) so registering it as a
        // vacuum consumer gives the upstream spools a custody floor
        // — the apply-mode contract extended to feed→append-log
        // pipelines.
        if (expect.isEmpty || !batch.isEmpty)
          graft.streaming.StreamingStage.appendVersionedTable(
            batch, root, spec, batchId,
            extraMeta = windowEnd
              .map(e => Map("applied_upto" -> "v%05d".format(e)))
              .getOrElse(Map.empty))
        ()
      case "apply" | "applyseq" =>
        require(batch.columns.contains("change_type"),
          s"graft-table $mode mode: the batch must carry change_type " +
            "(stream from graft-feed, or shape the CDC feed)")
        val upTo = windowEnd match {
          case Some(end) => "v%05d".format(end)
          case None =>
            // no graft-feed source in the plan (raw external CDC):
            // fall back to the batch-counter convention — valid ONLY
            // against a replica whose existing watermark follows it.
            // A source-version bootstrap (applied_upto = vK from an
            // out-of-band snapshot) under this convention would make
            // every early batch read as already-applied and silently
            // drop windows (ADVICE r14) — refuse loudly instead.
            VersionedTable.headMeta(root, "applied_upto").foreach { a =>
              require(a.drop(1).toLong <= batchId + 1,
                s"graft-table $mode: replica $root carries applied_upto=$a, " +
                  s"ahead of the batch-counter watermark v${batchId + 1}. " +
                  "Without a graft-feed source the sink cannot derive " +
                  "source-version offsets; a version-bootstrapped replica " +
                  "must be driven from a graft-feed stream (whose window " +
                  "offsets stamp applied_upto version-true)")
            }
            s"v${batchId + 1}"
        }
        if (VersionedTable.headVersion(root).isEmpty) {
          // bootstrap from the first window's inserts; a raw feed
          // resolves its net op per key first (highest seq wins)
          val net = seqCol match {
            case Some(sc) =>
              val w = org.apache.spark.sql.expressions.Window
                .partitionBy(col(spec.keyCol))
                .orderBy(col(sc).desc, col("change_type").desc)
              batch
                .withColumn("__rn",
                  org.apache.spark.sql.functions.row_number().over(w))
                .filter(col("__rn") === 1).drop("__rn", sc)
            case None => batch
          }
          VersionedTable.create(s,
            net.filter(col("change_type") === "insert").drop("change_type"),
            root, spec, extraMeta = Map("applied_upto" -> upTo))
        } else seqCol match {
          case Some(sc) =>
            VersionedTable.applyChangesSeq(s, root, spec, batch, upTo, sc)
          case None =>
            VersionedTable.applyChanges(s, root, spec, batch, upTo)
        }
        ()
    }
    if (autoOptimize) {
      val due = VersionedTable.maintenancePlan(s, root, targetBytes)
        .filter(col("action") === "optimize-compact").count()
      if (due >= 4) { VersionedTable.optimizeCompact(s, root, spec, targetBytes); () }
    }
    }
    if (expect.isDefined) Checkpoints.withPersisted(full0)(commit) else commit(full0)
  }

  override def toString: String = s"GraftTableSink($root, mode=$mode)"
}

private[graft] object GraftTableSink {

  /** Resolve the batch's custody watermark from the per-relation feed
    * ends ([[GraftTableSink.feedWindowEnds]]; `None` = a feed relation
    * whose end offset the plan didn't carry). Pure so the resolution
    * table is unit-testable without fabricating DSv2 plans:
    *
    *  - no feed relations → None (batch-counter fallback, guarded by
    *    the bootstrap `require` at the use site);
    *  - one relation → its end (or None, same fallback);
    *  - several relations → `apply`/`applySeq` REFUSE (one
    *    `applied_upto` watermark cannot be exactly-once for two
    *    independently-advancing sources — the min would re-apply the
    *    ahead source's redelivered windows, VERDICT r15 #4); `append`
    *    stamps min(ends) as a conservative custody floor — but ONLY
    *    when every relation's end is known (a floor computed over a
    *    subset is not at-or-below the missing source's true end, so an
    *    unknown end claims NO floor: vacuum just retains more).
    */
  def resolveWindowEnd(mode: String, ends: Seq[Option[Long]]): Option[Long] =
    ends match {
      case Seq() => None
      case Seq(one) => one
      case many =>
        require(mode == "append",
          s"graft-table $mode: the micro-batch plan carries " +
            s"${many.length} graft-feed sources — one applied_upto " +
            "watermark cannot be exactly-once for independently-" +
            "advancing sources (the min would re-apply the ahead " +
            "source's redelivered windows). Replicate each source " +
            "through its own stream, or union into an append-mode log")
        if (many.forall(_.isDefined)) Some(many.flatten.min) else None
    }
}
