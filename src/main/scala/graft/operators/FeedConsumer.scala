package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** CHECKPOINTED CHANGE-FEED CONSUMER: the loop that keeps a derived
  * artifact continuously maintained off a [[VersionedTable]]'s
  * manifest feed — the piece between the one-window folds
  * (`layout_mv_from_feed`, `layout_index_from_feed` apply ONE window
  * by hand) and a production pipeline (a scheduler wakes the consumer
  * whenever; it must never miss or double-apply a window).
  *
  * The consumer's OFFSET — the last table version it consumed — rides
  * the derived artifact's own commit `_META` (`consumed_upto`), so
  * state and offset move in ONE atomic publish: there is no window
  * for a crash between "fold applied" and "offset advanced", which is
  * exactly the Kafka offsets-in-the-sink pattern and the same
  * idempotence contract the streaming ingest stamps with `batchId`.
  * Replays are structural no-ops: a wake that finds offset == head
  * publishes nothing.
  *
  * Scale shape (100 TB): each advance costs ∝ the feed window
  * (changed files + DV delta) plus the fold itself; the offset read
  * is one `_META` file. The derived artifact never rebuilds ∝ table
  * after bootstrap.
  */
object FeedConsumer {

  /** Advance the consumer: bootstrap on first wake (derive state from
    * the CURRENT table head), fold the feed window on later wakes,
    * no-op when already caught up. A window holding ONLY property /
    * content-identical commits (set-constraint, rename, optimize-noop
    * — [[VersionedTable.changeFeed]] returns an empty typed frame)
    * republishes the state unchanged with the offset advanced
    * (action "skip") — the consumer must move past property commits,
    * never crash on them until a data commit lands.
    *
    * @param init   bootstrap derivation: table head read → initial state
    * @param fold   incremental maintenance: (state, feedWindow) → state'
    * @param layout physical layout of the published derived state.
    *               Default `coalesce(1)` fits MV-sized state (one
    *               file, one read); an INDEX-sized derived artifact
    *               must pass its own layout (e.g. the bucketing its
    *               query path probes) or every fold funnels through
    *               one task — the same caller-owns-layout contract as
    *               [[VersionedTable.create]].
    * @return (published derived version or the unchanged head on a
    *         no-op, what happened: "bootstrap" | "fold" | "skip" |
    *         "noop")
    */
  def advance(s: SparkSession, tableRoot: String, derivedRoot: String,
              init: DataFrame => DataFrame,
              fold: (DataFrame, DataFrame) => DataFrame,
              maxVersionsPerWake: Int = Int.MaxValue,
              layout: DataFrame => DataFrame = _.coalesce(1)): (String, String) = {
    require(maxVersionsPerWake >= 1,
      s"feed consumer: maxVersionsPerWake must be >= 1, got $maxVersionsPerWake")
    val head = VersionedTable.headVersion(tableRoot).getOrElse(
      throw new IllegalArgumentException(
        s"feed consumer: no published table under $tableRoot"))
    Publish.currentVersion(derivedRoot) match {
      case None =>
        val state = init(VersionedTable.readVersion(s, tableRoot, head))
        (Publish.publish(layout(state), derivedRoot,
          meta = Map("verb" -> "consumer-bootstrap", "consumed_upto" -> head)),
          "bootstrap")
      case Some(dv) =>
        val upto = Publish.readMeta(derivedRoot, dv).getOrElse("consumed_upto",
          throw new IllegalStateException(
            s"feed consumer: derived $derivedRoot@$dv carries no consumed_upto"))
        if (upto == head) (dv, "noop")
        else {
          // back-pressure (the maxFilesPerTrigger analog): cap the
          // window at the newest PUBLISHED version within budget — a
          // backlogged consumer catches up in bounded bites instead
          // of one table-sized fold
          def vNum(v: String) = v.drop(1).toLong
          val target =
            if (maxVersionsPerWake == Int.MaxValue) head
            else VersionedTable.publishedVersions(tableRoot)
              .filter(v => vNum(v) > vNum(upto) &&
                vNum(v) <= vNum(upto) + maxVersionsPerWake)
              .lastOption.getOrElse(head)
          // the window is persisted for the wake: the emptiness probe
          // and a fold that reads the feed more than once (an MV fold
          // filters it twice — inserts and deletes) must not re-run
          // the manifest diff per materialization
          Checkpoints.withPersisted(
              VersionedTable.changeFeed(s, tableRoot, upto, target)) { feed =>
            val prior = Publish.readVersion(s, derivedRoot, dv)
            if (feed.isEmpty)
              // all-property window: state unchanged, offset still moves
              // (the fold is skipped — a fold's algebra need not be
              // no-op-safe on an empty window)
              (Publish.publish(layout(prior), derivedRoot,
                meta = Map("verb" -> "consumer-skip", "consumed_upto" -> target,
                  "consumed_from" -> upto)), "skip")
            else
              (Publish.publish(layout(fold(prior, feed)), derivedRoot,
                meta = Map("verb" -> "consumer-fold", "consumed_upto" -> target,
                  "consumed_from" -> upto)), "fold")
          }
        }
    }
  }
}
