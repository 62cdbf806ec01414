package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

/** PLANS.md's audited invariants as assertions — a reordered filter, a
  * lost pushdown, or a window that stops planning its partial pass now
  * fails CI instead of silently regressing 100 TB behavior.
  */
class PlanRegressionSpec extends SparkSpec {

  private def staticPlan(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  private def finalPlan(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  private def planLines(plan: String, needle: String): Seq[String] =
    plan.linesIterator.filter(_.contains(needle)).toSeq

  /** Count shuffle exchanges in a formatted plan (tree labels nodes as
    * `Exchange (N)`; details carry the hashpartitioning arguments).
    */
  private def countExchanges(plan: String): Int =
    "Exchange \\(\\d+\\)".r.findAllIn(plan).size

  test("q3: every table filter is pushed to its parquet scan") {
    val plan = staticPlan(Queries.q3TopkRevenue(spark, sfSmoke))
    val pushed = planLines(plan, "PushedFilters")
    assert(pushed.exists(_.contains("EqualTo(c_mktsegment,BUILDING)")), plan.take(4000))
    assert(pushed.exists(_.contains("LessThan(o_orderdate")), plan.take(4000))
    assert(pushed.exists(_.contains("GreaterThan(l_shipdate")), plan.take(4000))
  }

  test("s1: column pruning reaches the scan (no unread columns in ReadSchema)") {
    val plan = staticPlan(Queries.s1ScanProject(spark, sfSmoke))
    val schemas = planLines(plan, "ReadSchema")
    assert(schemas.nonEmpty && schemas.forall(l =>
      !l.contains("l_comment") && !l.contains("l_shipinstruct")), schemas.mkString("\n"))
  }

  test("w1: row_number=1 takes the native top-k (partial+final around one exchange)") {
    // NativeTopKRule rewrites the pattern to TopKPerKeyExec; the
    // partial instance bounds what crosses the wire, like
    // WindowGroupLimit did on the stock path
    val plan = staticPlan(Queries.w1LatestPerKey(spark, sfSmoke))
    assert("TopKPerKey \\(\\d+\\)".r.findAllIn(plan).size >= 2, plan.take(4000))
    assert(countExchanges(plan) == 1, plan.take(4000))
    assert(planLines(plan, "hashpartitioning").nonEmpty, plan.take(4000))
    // one sort at most: the final phase's spillable sort of the
    // partial-reduced candidates; the full input is never sorted
    assert("Sort \\(\\d+\\)".r.findAllIn(plan).size <= 1, plan.take(4000))
  }

  test("native rewrite fires for SQL text too; rank-consuming queries keep their Window") {
    sources.Tables.registerAll(spark, sfSmoke)
    val sqlPlan = staticPlan(spark.sql(
      """SELECT account, order_key FROM (
        |  SELECT o_custkey AS account, o_orderkey AS order_key,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate DESC, o_orderkey ASC) AS rn
        |  FROM orders) WHERE rn = 1""".stripMargin))
    assert(sqlPlan.contains("TopKPerKey"), sqlPlan.take(3000))

    // topKRanked keeps the rank column -> the guard must leave the Window
    val ranked = staticPlan(graft.operators.LatestPerKey.topKRanked(
      spark.table("orders"), 3,
      Seq(org.apache.spark.sql.functions.col("o_custkey")),
      Seq(org.apache.spark.sql.functions.col("o_totalprice").desc_nulls_last,
        org.apache.spark.sql.functions.col("o_orderkey").asc_nulls_first)))
    assert(!ranked.contains("TopKPerKey"), ranked.take(3000))
    assert(ranked.contains("Window"), ranked.take(3000))
  }

  test("w1 stock path survives behind the kill switch") {
    spark.conf.set("spark.graft.nativeTopK.enabled", "false")
    try {
      val plan = staticPlan(Queries.w1LatestPerKey(spark, sfSmoke))
      assert("WindowGroupLimit \\(\\d+\\)".r.findAllIn(plan).size >= 2, plan.take(4000))
    } finally spark.conf.set("spark.graft.nativeTopK.enabled", "true")
  }

  test("report1: contact views broadcast at runtime; native top-k dedup present") {
    val df = Queries.report1(spark, sfSmoke)
    val plan = finalPlan(df)
    assert(plan.contains("BroadcastHashJoin"), plan.take(4000))
    assert(!plan.contains("CartesianProduct"), plan.take(4000))
    assert(plan.contains("TopKPerKey"), plan.take(4000))
  }

  test("sessionize: exactly one shuffle on the key (agg reuses the window's partitioning)") {
    val plan = staticPlan(Queries.eventsSessionize(spark, sfSmoke))
    val n = countExchanges(plan)
    assert(n == 1, s"expected 1 key shuffle, found $n:\n${plan.take(4000)}")
  }

  test("banded LSH ANN: hash-agg dedup, broadcast candidates, no cartesian/sort-agg") {
    // the (query, neighbor) dedup must stay a partial+final HashAggregate
    // on two longs (score computed BEFORE dedup) — deduping rows that
    // carry the vector array regresses to SortAggregate with two sorts
    // and vector-width shuffle rows; and the corpus side must reach the
    // candidate join via broadcast, never a shuffle or cross product
    val plan = staticPlan(ExtQueries.simAnnLshTopK(spark, sfSmoke))
    assert(!plan.contains("SortAggregate"), plan.take(4000))
    assert(!plan.contains("CartesianProduct"), plan.take(4000))
    assert(planLines(plan, "BroadcastHashJoin").nonEmpty, plan.take(4000))
    assert("HashAggregate \\(\\d+\\)".r.findAllIn(plan).size >= 2, plan.take(4000))
    // exactly two shuffles (the pair dedup and the final top-k window);
    // lookbehind excludes BroadcastExchange from the shuffle count
    assert("(?<!Broadcast)Exchange \\(\\d+\\)".r.findAllIn(plan).size == 2, plan.take(4000))
  }

  test("tfidf: ONE corpus scan; window df; no cartesian of big sides") {
    // df via window-over-tf instead of groupBy+broadcast-join-back:
    // Spark does not reuse a shuffle consumed through a
    // BroadcastExchange, so the join form re-scanned and re-tokenized
    // the corpus for the df leg — exactly one parquet scan may appear
    val plan = staticPlan(ExtQueries.textTfidfTopK(spark, sfSmoke))
    assert(!plan.contains("CartesianProduct"), plan.take(4000))
    // one tokenize (Generate) leg; the only other scan is N's
    // column-less row count (metadata-sized, no explode behind it)
    assert("Generate \\(\\d+\\)".r.findAllIn(plan).size == 1, plan.take(4000))
    // count detail headers "(n) Scan parquet" — one per node (the tree
    // line AND the detail section would double-count a loose pattern)
    assert("\\(\\d+\\) Scan parquet".r.findAllIn(plan).size <= 2, plan.take(4000))
    assert("(?<!Broadcast)Exchange \\(\\d+\\)".r.findAllIn(plan).size <= 4, plan.take(4000))
  }

  test("prepare_corpus: contamination anti-join broadcasts; no cartesian") {
    val plan = staticPlan(ExtQueries.pipelinePrepareCorpus(spark, sfSmoke))
    assert(!plan.contains("CartesianProduct"), plan.take(4000))
    assert(planLines(plan, "BroadcastHashJoin").exists(_.contains("LeftAnti")),
      plan.take(4000))
  }

  test("partitioned layout: lang filter prunes directories, not rows") {
    // partitionBy(lang) layout + filter(lang = 'en') must land in
    // PartitionFilters (directory-level pruning — non-matching
    // partitions never become scan input); a row-level PushedFilters
    // entry for lang would mean the layout is being scanned in full
    val plan = staticPlan(Queries.sourcePartitionedRoundtrip(spark, sfSmoke))
    val pf = planLines(plan, "PartitionFilters")
    assert(pf.exists(_.contains("lang")), plan.take(4000))
    assert(!planLines(plan, "PushedFilters").exists(_.contains("lang")), plan.take(4000))
  }

  test("default profile plans no Expand (HLL sketches, not multi-distinct rewrite)") {
    // exact count_distinct × N columns triggers the multi-distinct
    // rewrite: Expand multiplies every input row ×(N+1) before the first
    // HashAggregate — the HLL default must keep a plain one-pass agg
    val approx = staticPlan(ExtQueries.qaProfileActivities(spark, sfSmoke))
    assert(!approx.contains("Expand"), approx.take(4000))
    // the exact opt-in variant is ALLOWED its Expand (oracle-gated)
    val exact = staticPlan(ExtQueries.qaProfileActivitiesExact(spark, sfSmoke))
    assert(exact.contains("Expand"), exact.take(4000))
  }

  test("dedup_clusters: the edge-build pipeline is reused across propagation rounds") {
    // labelPropagate consumes the (expensive) chunk→shingle→pair edge
    // subtree once per round; AQE exchange reuse must materialize it
    // ONCE and feed rounds 2..7 a ReusedExchange — without it the query
    // would re-scan and re-shingle the corpus per round (≈7× the cost,
    // measured: rounds cost ~0.3 s each on top of a ~1.8 s edge build)
    val df = ExtQueries.dedupClusters(spark, sfSmoke)
    val plan = finalPlan(df)
    assert("ReusedExchange".r.findAllIn(plan).size >= 6, plan.take(4000))
    assert(!plan.contains("CartesianProduct"), plan.take(4000))
  }

  test("fuzzy decontamination: eval side broadcasts; no cartesian anywhere") {
    val plan = staticPlan(ExtQueries.textDecontaminateFuzzy(spark, sfSmoke))
    assert(!plan.contains("CartesianProduct"), plan.take(4000))
    assert(planLines(plan, "BroadcastHashJoin").nonEmpty, plan.take(4000))
  }

  test("salted join: right side replicates through a Generate, no cartesian") {
    val plan = staticPlan(Queries.j6SaltedJoin(spark, sfSmoke))
    assert(!plan.contains("CartesianProduct"), plan.take(4000))
    assert(planLines(plan, "Generate").nonEmpty, "salt replication must be an explode")
  }

  test("gap-fill / anomaly spine: generated hours never plan a CartesianProduct") {
    // the spine crossJoins a derived 1-row bounds frame and the tiny
    // type list — those must plan as broadcast nested loops, not
    // cartesian shuffles
    Seq(Queries.eventsGapFill(spark, sfSmoke),
        Queries.eventsAnomalyZscore(spark, sfSmoke)).foreach { df =>
      val plan = staticPlan(df)
      assert(!plan.contains("CartesianProduct"), plan.take(4000))
    }
  }

  test("round-5 ops: no cartesian, binned range join is an equi-join, bloom filters pre-join") {
    // range join: the bin key must make this an equi-join (hash or SMJ),
    // never a nested loop over the BETWEEN predicate
    val rj = staticPlan(Queries.eventsIntervalJoin(spark, sfSmoke))
    assert(!rj.contains("NestedLoop") && !rj.contains("CartesianProduct"), rj.take(4000))
    // bloom prune: the membership test is a Filter BELOW the semi-join
    // (scan-stage pruning), and the join stays a real semi-join
    val bp = staticPlan(Queries.j7BloomPrune(spark, sfSmoke))
    assert(planLines(bp, "LeftSemi").nonEmpty, bp.take(4000))
    assert(bp.contains("bloom_might_contain"), "bloom membership filter missing from the plan")
    // substring spans: exactly two exchanges feed the island window —
    // the digest groupBy and the doc-keyed window (plus AQE reuse)
    val sp = staticPlan(ExtQueries.textSubstringSpans(spark, sfSmoke))
    assert(!sp.contains("CartesianProduct"), sp.take(4000))
    // PQ ADC scoring: corpus side must carry ONLY (id, packed) into the
    // scoring join — no embedding array on the stream side of the join
    val pq = staticPlan(ExtQueries.simPqTopK(spark, sfSmoke))
    assert(!pq.contains("CartesianProduct"), pq.take(4000))
  }

  test("round-6 ops: segment dedup shuffles once per stage, pagerank joins stay equi, zkey is pure codegen") {
    // segment dedup: ONE digest-partitioned window (no groupBy+join-back
    // double scan) then the doc-keyed reassembly; no cartesian anywhere
    val sd = staticPlan(ExtQueries.textSegmentDedup(spark, sfSmoke))
    assert(!sd.contains("CartesianProduct"), sd.take(4000))
    assert("Window \\(\\d+\\)".r.findAllIn(sd).size == 1,
      "segment dedup must mark duplication in ONE window pass:\n" + sd.take(4000))
    // pagerank: every per-iteration join is hash/SMJ on the node key —
    // a nested loop would be quadratic in |V| at scale
    val pr = staticPlan(ExtQueries.graphPageRank(spark, sfSmoke))
    assert(!pr.contains("NestedLoop") && !pr.contains("CartesianProduct"),
      pr.take(4000))
    // z-order key: pure bit arithmetic in the scan stage — the whole
    // query is scan + project, zero exchanges
    val zk = staticPlan(ExtQueries.layoutZorder(spark, sfSmoke))
    assert(countExchanges(zk) == 0, zk.take(3000))
    assert(!zk.contains("BatchEvalPython") && !zk.contains("Generate"), zk.take(3000))
    // quantile sketch: partial+final hash aggregation around the group
    // exchange (the typed-imperative agg must keep map-side partials)
    val qs = staticPlan(ExtQueries.aggQuantileSketch(spark, sfSmoke))
    assert(planLines(qs, "sample_sketch").nonEmpty, qs.take(3000))
    assert(!qs.contains("CartesianProduct"), qs.take(3000))
  }

  test("round-6 tail: curriculum avoids a global sort, set algebra broadcasts, rolling distinct keeps one agg shuffle") {
    // curriculum bins: thresholds come from the bounded sample sketch —
    // a global Sort of the corpus (the exact-quantile shape) must NOT
    // appear; the threshold row joins back as a broadcast
    val cb = staticPlan(ExtQueries.pipelineCurriculumBins(spark, sfSmoke))
    assert(!"Sort \\(\\d+\\)".r.findFirstIn(cb).isDefined,
      "curriculum bins must not sort the corpus:\n" + cb.take(3000))
    assert(cb.contains("BroadcastNestedLoopJoin") || cb.contains("BroadcastExchange"),
      cb.take(3000))
    // sketch set algebra: the shared sketch is a 1-row broadcast; no
    // cartesian of corpus-sized sides
    val sa = staticPlan(ExtQueries.qaSketchSetAlgebra(spark, sfSmoke))
    assert(!sa.contains("CartesianProduct"), sa.take(3000))
    // rolling distinct: one groupBy exchange + one window exchange on
    // the same key family — no join-back re-scan of events
    val rd = staticPlan(ExtQueries.eventsRollingDistinct(spark, sfSmoke))
    assert(planLines(rd, "Location: InMemoryFileIndex").size == 1,
      "rolling distinct must scan events exactly once:\n" + rd.take(3000))
  }

  test("r11 ops: purge joins broadcast, shuffle shards in one exchange, drift in one scan") {
    // delete propagation: every roster join is a broadcast build — the
    // 100 TB layer side must never shuffle on subject_key
    val dp = staticPlan(ExtQueries.pipelineDeletePropagate(spark, sfSmoke))
    assert(planLines(dp, "BroadcastHashJoin").nonEmpty, dp.take(3000))
    assert(planLines(dp, "hashpartitioning(subject_key").isEmpty,
      "roster join must not shuffle the big side:\n" + dp.take(3000))
    // deterministic shuffle: exactly one exchange (by shard), never a
    // global single-partition sort
    val sd = staticPlan(ExtQueries.pipelineShuffleDeterministic(spark, sfSmoke))
    assert(countExchanges(sd) == 1, sd.take(3000))
    assert(planLines(sd, "hashpartitioning(shard").nonEmpty, sd.take(3000))
    assert(!sd.contains("SinglePartition"), sd.take(3000))
    // snapshot drift: both snapshots' counts AND the totals come from
    // ONE scan of documents (conditional aggregation + a window over
    // the tiny stratum frame — no branch re-scan)
    val dr = staticPlan(ExtQueries.qaSnapshotDrift(spark, sfSmoke))
    assert(planLines(dr, "Location: InMemoryFileIndex").size == 1,
      "drift must scan documents exactly once:\n" + dr.take(3000))
    // same single-scan shape for the mixing normalizer
    val mt = staticPlan(ExtQueries.mixTemperature(spark, sfSmoke))
    assert(planLines(mt, "Location: InMemoryFileIndex").size == 1,
      "mix_temperature must scan documents exactly once:\n" + mt.take(3000))
    // key-skew diagnostic: the materialized count frame means the
    // events scan happens once; both consumers read the write+read-back
    // parquet under the managed checkpoint root (r17 — materialize is a
    // pinned-schema read-back now, so the scan node is a parquet scan
    // whose location is the graft-ckpt root, never the events table)
    val ks = staticPlan(ExtQueries.qaKeySkew(spark, sfSmoke))
    val ksScans = planLines(ks, "Location: InMemoryFileIndex")
    assert(ksScans.nonEmpty && ksScans.forall(_.contains("graft-ckpt")),
      "qa_key_skew must read the materialized counts, not re-scan events:\n" + ks.take(3000))
  }

  test("r13 ops: BM25 pair agg runs in place behind a pinned exchange; global-ids window partitioned") {
    // BM25 (PLANS.md #26): the cand-pinned repartition must survive as a
    // REPARTITION_BY_COL exchange on doc_id, and the pair groupBy must
    // aggregate IN PLACE — no exchange between the join and the final
    // hash aggregate (word-partitioned or AQE-coalesced shapes both
    // reintroduce one and re-serialize the amplified pair stream)
    val bm = staticPlan(ExtQueries.textBm25TopK(spark, sfSmoke))
    assert(planLines(bm, "REPARTITION_BY_NUM").nonEmpty ||
      planLines(bm, "hashpartitioning(doc_id").exists(_.contains("REPARTITION")),
      "BM25 lost its pinned cand repartition:\n" + bm.take(3000))
    // tree shape: the pair HashAggregates sit DIRECTLY above the
    // broadcast join (partial+final fused, no exchange between) — any
    // non-broadcast Exchange in that span means the in-place clustering
    // was lost
    val tree = bm.linesIterator.takeWhile(!_.startsWith("(")).toVector
    val joinIdx = tree.indexWhere(_.contains("BroadcastHashJoin"))
    val aggsAbove = tree.zipWithIndex
      .filter { case (l, i) => l.contains("HashAggregate") && i < joinIdx }
    assert(joinIdx >= 0 && aggsAbove.size >= 2,
      "BM25 tree lost its fused pair aggregates:\n" + bm.take(3000))
    val span = tree.slice(aggsAbove.map(_._2).min, joinIdx)
    assert(!span.exists(l => l.contains("Exchange") && !l.contains("Broadcast")),
      "BM25 pair aggregation no longer satisfies its clustering in place:\n" + bm.take(3000))
    // global ids: the corpus-sized row_number window keeps its bucket
    // partition keys (never a SinglePartition corpus window); the only
    // global window is over the tiny counts frame
    val gi = staticPlan(ExtQueries.pipelineGlobalIds(spark, sfSmoke))
    // formatted mode puts window functions in Arguments detail lines:
    // the row_number spec must carry the (n_chars, b) bucket partition
    val rnSpecs = planLines(gi, "row_number")
    assert(rnSpecs.nonEmpty && rnSpecs.forall(l =>
        l.contains("windowspecdefinition(n_chars")),
      "global-ids corpus window lost its bucket partitioning:\n" + gi.take(3000))
  }

  test("r13 ops: ER blocking join pinned, PCA corpus passes bounded") {
    // ER (PLANS.md #26): both variant-frame exchanges are width-pinned
    // repartitions on the block key, and the distinct pair frame
    // repartitions on d_name so the best-match agg runs in place
    val er = staticPlan(ExtQueries.erFuzzyMatch(spark, sfSmoke))
    assert(planLines(er, "hashpartitioning(k").size >= 2,
      "ER blocking join lost its pinned key exchanges:\n" + er.take(3000))
    assert(planLines(er, "hashpartitioning(d_name").nonEmpty,
      "ER scoring stage lost its d_name repartition:\n" + er.take(3000))
    // PCA: three rounds = six consumers of the exploded corpus frame —
    // since r11 that frame is persisted for the run (VERDICT r10 #5)
    // and the 64-row result is materialized once (bounded collect +
    // local RDD re-wrap) past the cache, so the returned plan is an
    // RDD scan, not the unrolled join cascade re-running per consumer
    val pca = staticPlan(ExtQueries.embedPcaPower(spark, sfSmoke))
    assert(!pca.contains("CartesianProduct"), pca.take(3000))
    assert(pca.contains("ExistingRDD") || pca.contains("LogicalRDD"),
      "embedPcaPower no longer materializes its result past the xl cache:\n" + pca.take(3000))
  }

  test("r16 ops: purged BM25 query path reads artifacts only; change-feed apply plans no cartesian") {
    // the gate builds + purges the index (side effects), then returns
    // the lazy stored-scoredTopK plan — which must reference ONLY the
    // purged artifacts: no corpus parquet anywhere, no cartesian (the
    // 1-row stats crossJoin broadcasts as a nested-loop, not a CP)
    val pg = staticPlan(ExtQueries.textBm25PurgeTopK(spark, sfSmoke))
    assert(!pg.contains("documents.parquet"),
      "purged BM25 query path must not re-read the corpus:\n" + pg.take(3000))
    assert(!pg.contains("CartesianProduct"), pg.take(3000))
    // CDC apply: two sequential change-sized folds over the replica —
    // anti-join + union shapes only, never a cartesian
    val ap = staticPlan(ExtQueries.pipelineApplyChangeFeed(spark, sfSmoke))
    assert(!ap.contains("CartesianProduct"), ap.take(3000))
  }

  test("r15 ops: timestamp CDF plans no cartesian; attribution feed stamps literals without a join on change windows") {
    // the ts-addressed feed is the changeFeed shape behind two index
    // reads: DV deletes resolve by position joins / broadcasts, never
    // a cartesian
    val fts = staticPlan(ExtQueries.layoutFeedByTimestamp(spark, sfSmoke))
    assert(!fts.contains("CartesianProduct"), fts.take(3000))
    // per-row attribution on a CHANGE window is two literal columns —
    // no join may appear beyond the changeFeed's own position/anti
    // joins (the snapshot path's broadcast ts-join is a different,
    // spool-planning-time shape)
    import graft.operators.VersionedTable
    import org.apache.spark.sql.functions.col
    val spec = VersionedTable.Spec(Seq("n"), "k", 1 << 13)
    val root = tempDir("graft-pin-cv").toString
    import spark.implicits._
    val df = (0L until 50L).map(i => (i, i % 7)).toDF("k", "n")
    val v1 = VersionedTable.create(spark, df, root, spec)
    VersionedTable.append(spark, df.select((col("k") + 100).as("k"), col("n")),
      root, spec)
    val plain = staticPlan(VersionedTable.changeFeed(spark, root, v1, "v00002"))
    val cv = staticPlan(VersionedTable.changeFeedWithCommitVersions(
      spark, root, v1, "v00002"))
    assert(!cv.contains("CartesianProduct"), cv.take(3000))
    assert(countExchanges(cv) == countExchanges(plain),
      s"attribution must add no exchange: cv=${countExchanges(cv)} " +
        s"plain=${countExchanges(plain)}")
    graft.operators.Checkpoints.deleteTree(java.nio.file.Paths.get(root))
  }

  test("decayed score: bounded-heap top-k, one shuffle, no window") {
    val plan = staticPlan(ExtQueries.eventsDecayedScore(spark, sfSmoke))
    assert(plan.contains("TakeOrderedAndProject"),
      "top-100 must plan as the bounded heap, not a global sort:\n" + plan.take(2000))
    assert(!plan.contains("Window"),
      "the decay is a projection + groupBy — a Window here is a regression")
  }

  test("q1: aggregation pipeline stays inside WholeStageCodegen") {
    // codegen spans only show on the executed plan, as `*(n)` stage
    // markers (AQE's static formatted plan omits the annotation)
    val plan = finalPlan(Queries.q1PricingSummary(spark, sfSmoke))
    assert("\\*\\(\\d+\\) HashAggregate".r.findFirstIn(plan).isDefined, plan.take(2000))
    assert("\\*\\(\\d+\\) Filter".r.findFirstIn(plan).isDefined, plan.take(2000))
  }
}
