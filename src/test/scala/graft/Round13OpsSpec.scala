package graft

import org.apache.spark.sql.functions._

/** Round-13 ops: BM25 retrieval, k-anonymity generalization, dense
  * global ids.
  */
class Round13OpsSpec extends SparkSpec {

  test("textBm25TopK: matches an independent driver-side BM25 reference") {
    val docs = ExtQueries.docs(spark, sfSmoke)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").toSeq).toMap
    val n = docs.size.toLong
    val l = docs.valuesIterator.map(_.size.toLong).sum
    val tf = docs.map { case (id, ws) =>
      id -> ws.groupBy(identity).map { case (w, g) => w -> g.size.toLong } }
    val df = docs.values.flatMap(_.distinct).groupBy(identity)
      .map { case (w, g) => w -> g.size.toLong }
    // the exact integer arithmetic of the operator, restated independently
    def term(word: String, cand: Long): Long = {
      val t = tf(cand)(word); val d = df(word); val dl = docs(cand).size.toLong
      val idf = (2L * (n - d) + 1L) * 1000L / (2L * d + 1L)
      idf * t * 2200000L / (t * 1000000L + 300000L + 900000L * dl * n / l)
    }
    val expected = docs.keys.filter(_ % 25 == 0).flatMap { q =>
      val cands = docs.keys.filter(c => c != q).flatMap { c =>
        val shared = docs(q).distinct.filter(tf(c).contains)
        if (shared.isEmpty) None
        else Some((c, shared.map(term(_, c)).sum, shared.size.toLong))
      }.toSeq.sortBy { case (c, s, _) => (-s, c) }.take(10)
      cands.zipWithIndex.map { case ((c, s, nt), i) => (q, i + 1L, c, s, nt) }
    }.toSet
    val got = ExtQueries.textBm25TopK(spark, sfSmoke).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    assert(got == expected)
  }

  test("qaKAnonymity: released groups clear k, counts conserved, ladder non-vacuous") {
    // sf0.01: the smoke SF's ~150 customers spread over ~1500 QI cells
    // leave every level-0 group below k, so the ladder's released rung
    // only appears from sf0.01 up (the gated SFs)
    val sfDir = "/root/testdata/sf0.01"
    val rows = ExtQueries.qaKAnonymity(spark, sfDir).collect()
      .map(r => (r.getAs[Number](0).longValue(), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getBoolean(5)))
    // every level-0/1 release clears k; flags are honest everywhere
    rows.foreach { case (_, seg, band, level, cnt, anon) =>
      assert(anon == (cnt >= 4L))
      if (level < 2) assert(cnt >= 4L, s"level-$level group below k released")
      assert((level >= 1) == (band == "*"), "band generalized iff level >= 1")
      assert((level == 2) == (seg == "*"), "segment generalized iff level == 2")
    }
    // conservation: nobody dropped, nobody double-counted
    assert(rows.map(_._5).sum ==
      sources.Tables.load(spark, sfDir, "customer").count())
    // the fixture actually exercises the ladder
    assert(rows.exists(_._4 == 0L) && rows.exists(_._4 > 0L),
      "generalization ladder vacuous at the smoke SF")
  }

  test("pipelineGlobalIds: equals the naive global window, ids dense, window partitioned") {
    import org.apache.spark.sql.expressions.Window
    val got = ExtQueries.pipelineGlobalIds(spark, sfSmoke)
    val naive = ExtQueries.docs(spark, sfSmoke)
      .withColumn("global_id", row_number().over(
        Window.orderBy(col("n_chars").asc_nulls_first, col("doc_id").asc_nulls_first))
        .cast("long") - 1L)
      .select("doc_id", "global_id")
    val gotMap = got.select("doc_id", "global_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val naiveMap = naive.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotMap == naiveMap)
    // dense: a permutation of 0..N-1
    assert(gotMap.values.toSeq.sorted == (0L until gotMap.size.toLong))
    // the corpus-sized window keeps its partition keys — the whole point
    val plan = got.queryExecution.executedPlan.toString
    val windows = plan.linesIterator.filter(_.contains("Window")).toSeq
    assert(windows.exists(w => w.contains("row_number") && w.contains("n_chars")),
      "per-bucket window lost its partitioning:\n" + plan)
  }

  test("commitBatch: replayed batchId is a no-op even with different retry content") {
    import streaming.StreamingStage
    val root = tempDir("graft-eo-spec").toString
    val df = spark.range(10).toDF("v")
    assert(StreamingStage.commitBatch(df, root, 0L), "first commit must land")
    // redelivery after a crash-between-write-and-offset-commit: same
    // batchId, and the retry even carries DIFFERENT rows — must skip
    assert(!StreamingStage.commitBatch(df.limit(2), root, 0L), "replay must be skipped")
    assert(StreamingStage.readCommitted(spark, root).count() == 10L,
      "replay must not overwrite the committed content")
    // next batch commits alongside; read-back follows the max committed id
    assert(StreamingStage.commitBatch(df.limit(3), root, 1L))
    assert(StreamingStage.readCommitted(spark, root).count() == 3L)
    // a torn attempt (dir without marker) is discarded and rewritten
    val torn = java.nio.file.Paths.get(root, "batch-00002")
    java.nio.file.Files.createDirectories(torn)
    java.nio.file.Files.writeString(torn.resolve("part-junk"), "torn")
    assert(StreamingStage.commitBatch(df.limit(5), root, 2L), "torn attempt must rewrite")
    assert(StreamingStage.readCommitted(spark, root).count() == 5L)
  }

  test("streamingPublishExactlyOnce: committed artifact equals the batch aggregate") {
    val got = ExtQueries.streamingPublishExactlyOnce(spark, sfSmoke).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    val want = Queries.eventsHourlyAgg(spark, sfSmoke).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got == want)
  }

  test("sourceSchemaEvolution: merged read fills the evolved column, totals conserved") {
    val got = Queries.sourceSchemaEvolution(spark, sfSmoke).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    // gen-1 rows (even event_id) surface ONLY under the null-filled default
    assert(got.contains("unknown"), "null-filled generation missing from merge read")
    val evTotal = sources.Tables.events(spark, sfSmoke).count()
    assert(got.values.sum == evTotal, "merge read lost or duplicated rows")
    assert(got.keySet.size > 1, "evolved generation's real types missing")
  }

  test("sampleStratifiedProportional: quotas sum to the budget, picks respect quota") {
    val rows = ExtQueries.sampleStratifiedProportional(spark, sfSmoke).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // Hamilton apportionment: the sample is EXACTLY the budget
    assert(rows.length == 100, s"sample size ${rows.length} != budget 100")
    val byLang = rows.groupBy(_._2)
    byLang.foreach { case (lang, g) =>
      val quota = g.head._4
      assert(g.forall(_._4 == quota))
      assert(g.length.toLong == quota, s"$lang: picked ${g.length} != quota $quota")
      assert(g.map(_._3).sorted.toSeq == (1L to quota), s"$lang: ranks not contiguous")
    }
    // proportionality: each stratum's quota is within 1 seat of exact share
    val counts = ExtQueries.docs(spark, sfSmoke).groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = counts.values.sum.toDouble
    byLang.foreach { case (lang, g) =>
      val exact = 100.0 * counts(lang) / n
      assert(math.abs(g.head._4 - exact) < 1.0, s"$lang: quota off by >= 1 seat")
    }
  }

  test("embedPcaPower: matches an independent driver-side fixed-point power iteration") {
    val x = sources.Tables.load(spark, sfSmoke, "embeddings")
      .selectExpr("vec_id",
        "transform(embedding, v -> CAST(round(CAST(v AS DOUBLE) * 1000000) AS BIGINT)) AS xfp")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    val dims = x.values.head.length
    def signDiv(n: Long, d: Long): Long = if (n < 0) -((-n) / d) else n / d
    var v = Array.fill(dims)(1000000L)
    for (_ <- 1 to 3) {
      val sByVec = x.map { case (id, row) =>
        id -> row.indices.map(j => row(j) * v(j)).sum }
      val smax = sByVec.values.map(math.abs).max
      val t = sByVec.map { case (id, s) => id -> signDiv(s, 1 + smax / 1048576) }
      val vr = Array.tabulate(dims)(j => x.map { case (id, row) => t(id) * row(j) }.sum)
      val vmax = vr.map(math.abs).max
      v = vr.map(signDiv(_, 1 + vmax / 1000000))
    }
    val got = ExtQueries.embedPcaPower(spark, sfSmoke).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == v.indices.map(j => j.toLong -> v(j)).toMap)
    // the direction is non-degenerate and normalized to the 10^6 scale
    assert(got.values.map(math.abs).max <= 1000000L && got.values.exists(_ != 0L))
  }

  test("pipelineGlobalIdsIncremental: existing ids stable, tail appended, full re-rank would renumber") {
    val rows = ExtQueries.pipelineGlobalIdsIncremental(spark, sfSmoke).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    val (newDocs, oldDocs) = rows.partition(_._4)
    val n0 = oldDocs.length.toLong
    // stability: old ids are exactly the pre-batch assignment
    val want = ExtQueries.docs(spark, sfSmoke).filter(col("doc_id") % 7 =!= 0)
      .collect().map(r => (r.getLong(0), r.getLong(4))).sortBy(x => (x._2, x._1))
      .zipWithIndex.map { case ((id, _), i) => id -> i.toLong }.toMap
    assert(oldDocs.forall { case (id, _, gid, _) => want(id) == gid })
    // tail-append: every new id lands after the state, densely
    assert(newDocs.forall(_._3 >= n0))
    assert(rows.map(_._3).sorted.toSeq == (0L until rows.length.toLong))
    // and the CONTRAST: a full re-rank over the grown corpus renumbers
    // existing docs — the failure mode append-stability exists to avoid
    val full = ExtQueries.pipelineGlobalIds(spark, sfSmoke).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(oldDocs.exists { case (id, _, gid, _) => full(id) != gid },
      "fixture degenerate: full re-rank did not renumber any existing doc")
  }

  test("readVersion: superseded versions stay readable, tombstones and orphans refused") {
    import operators.Publish
    val root = tempDir("graft_tt_spec").toString
    val v1 = Publish.publish(spark.range(10).toDF("v"), root)
    val v1Rows = Publish.readVersion(spark, root, v1).collect().map(_.getLong(0)).sorted
    val v2 = Publish.publish(spark.range(100, 105).toDF("v"), root)
    // time travel: v1 unchanged by the later publish; pointer follows v2
    assert(Publish.readVersion(spark, root, v1).collect().map(_.getLong(0)).sorted
      .sameElements(v1Rows))
    assert(Publish.read(spark, root).count() == 5L)
    assert(Publish.readVersion(spark, root, v2).count() == 5L)
    // a failed (audit-vetoed) attempt is NOT time-travel-reachable
    intercept[Exception] {
      Publish.publish(spark.range(3).toDF("v"), root,
        audit = _ => sys.error("veto"))
    }
    intercept[IllegalArgumentException](Publish.readVersion(spark, root, "v00003"))
    intercept[IllegalArgumentException](Publish.readVersion(spark, root, "v00003.failed"))
    intercept[IllegalArgumentException](Publish.readVersion(spark, root, "v00099"))
  }

  test("pipelineIncrementalMv: fold equals one-shot aggregate, both arms non-vacuous") {
    val got = ExtQueries.pipelineIncrementalMv(spark, sfSmoke).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    val want = sources.Tables.events(spark, sfSmoke)
      .groupBy(expr("ts_ns DIV 86400000000000").as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        (sum(round(col("value") * 1000000).cast("long")).cast("double") / 1000000).as("sv"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got == want)
    // the split actually exercises both the stored and the batch arm
    val ev = sources.Tables.events(spark, sfSmoke)
    assert(ev.filter(col("event_id") % 4 === 0).count() > 0)
    assert(ev.filter(col("event_id") % 4 =!= 0).count() > 0)
  }

  test("dedupContainment: planted suffix copies are perfect containments; some escape Jaccard") {
    val rows = ExtQueries.dedupContainment(spark, sfSmoke).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // planted pairs: trimmed copy (id + 1000000) contained in its base
    val planted = rows.filter { case (container, contained, _, _) =>
      contained == container + 1000000L }
    assert(planted.nonEmpty, "no planted containment pairs detected")
    planted.foreach { case (_, _, _, c) =>
      assert(c == 1.0, s"suffix copy must be a perfect containment, got $c") }
    // the structural claim: at sf0.1 (where short docs exist) some
    // contained pairs sit BELOW the Jaccard gate — the detector's point
    val sf01 = "/root/testdata/sf0.1"
    val cont = ExtQueries.dedupContainment(spark, sf01).collect()
      .map(r => (r.getLong(0) min r.getLong(1), r.getLong(0) max r.getLong(1))).toSet
    val jac = ExtQueries.dedupNgramJaccard(spark, sf01).collect()
      .map(r => (r.getLong(0) min r.getLong(1), r.getLong(0) max r.getLong(1))).toSet
    assert((cont -- jac).nonEmpty,
      "every containment pair also passed Jaccard - the asymmetric detector adds nothing")
  }

  test("eventsAnomalySeasonal: integer test equals the float 3-sigma rule, flags non-degenerate") {
    val rows = ExtQueries.eventsAnomalySeasonal(spark, sfSmoke).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getBoolean(6)))
    // the integer inequality must agree with the float population
    // 3-sigma rule it restates (away from exact-equality boundaries
    // the fixture's integer counts never hit)
    val bySlot = rows.groupBy(r => (r._3, r._2))
    bySlot.foreach { case (_, g) =>
      val n = g.length.toDouble
      val mu = g.map(_._4).sum / n
      val sig2 = g.map(x => x._4 * x._4.toDouble).sum / n - mu * mu
      g.foreach { case (_, _, _, x, devSq, thrSq, flag) =>
        assert(flag == (devSq > thrSq))
        // away from the exact boundary the float rule must agree; AT
        // the boundary (devSq == thrSq, which the fixture's small
        // integer counts do hit) float roundoff flips either way —
        // that fragility is exactly why the test ships integer-exact
        if (devSq != thrSq) {
          val floatFlag = (x - mu) * (x - mu) > 9.0 * sig2
          assert(flag == floatFlag, s"integer and float 3-sigma disagree at x=$x mu=$mu")
        }
      }
    }
    assert(rows.exists(_._7) && rows.exists(!_._7),
      "fixture degenerate: anomaly flags all one value")
  }

  test("mixTokenBudget: contiguous prefixes, budget binds, crossing doc included") {
    val rows = ExtQueries.mixTokenBudget(spark, sfSmoke).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val bySrc = rows.groupBy(_._1)
    assert(bySrc.size == 20, "every source contributes")
    bySrc.foreach { case (src, g) =>
      val sorted = g.sortBy(_._2)
      // contiguous digest-order prefix
      assert(sorted.map(_._2).toSeq == (1L to g.length.toLong), s"$src: ranks not a prefix")
      // cum_tokens is the running sum and every PRIOR total is under budget
      sorted.foldLeft(0L) { case (before, (_, _, _, nt, cum)) =>
        assert(cum == before + nt, s"$src: cum_tokens not a running sum")
        assert(before < 600L, s"$src: doc taken with budget already exhausted")
        cum
      }
      // the budget actually binds: the final total crosses it
      assert(sorted.last._5 >= 600L, s"$src: budget never reached (vacuous fixture)")
    }
  }

  test("layoutCompactionExec-mechanics: fewer files, identical content") {
    // the physical claims the hash gate can't see, on the same shapes
    val out = tempDir("graft_compact_spec").toString
    val ev = sources.Tables.events(spark, sfSmoke).select(col("event_id"),
      expr("ts_ns DIV 86400000000000").as("day"))
    ev.repartition(8).write.partitionBy("day").parquet(s"$out/frag")
    spark.read.parquet(s"$out/frag").repartition(col("day"))
      .write.partitionBy("day").parquet(s"$out/compact")
    def nFiles(p: String): Long = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(p)).iterator().asScala
        .count(f => f.getFileName.toString.startsWith("part-")).toLong
    }
    assert(nFiles(s"$out/compact") < nFiles(s"$out/frag"),
      "compaction did not reduce the file count")
    // per-day: exactly one output file
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.list(java.nio.file.Paths.get(s"$out/compact")).iterator().asScala
      .filter(_.getFileName.toString.startsWith("day=")).foreach { d =>
        val parts = java.nio.file.Files.list(d).iterator().asScala
          .count(_.getFileName.toString.startsWith("part-"))
        assert(parts == 1, s"${d.getFileName}: $parts files after compaction")
      }
    // identical row-level content (partition col reads back as int)
    def rows(p: String) = spark.read.parquet(p).collect()
      .map(r => (r.getLong(0), r.getAs[Number](1).longValue())).sorted
    assert(rows(s"$out/frag").sameElements(rows(s"$out/compact")),
      "compaction changed table content")
  }

  test("simRerankTwoStage: high recall vs exact, reranking genuinely reorders") {
    val got = ExtQueries.simRerankTwoStage(spark, sfSmoke).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(4)))
    val exact = ExtQueries.simCosineTopK(spark, sfSmoke).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val gotPairs = got.map { case (q, _, n, _) => (q, n) }.toSet
    val recall = (gotPairs intersect exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"two-stage recall@5 vs exact = $recall < 0.9")
    // the exact re-score must genuinely reorder the shortlist somewhere
    // (final rank != coarse rank), else stage 2 is vacuous
    assert(got.exists { case (_, rank, _, coarse) => rank != coarse },
      "rerank never changed an order - stage 2 vacuous")
    got.groupBy(_._1).foreach { case (q, g) =>
      assert(g.map(_._2).sorted.toSeq == (1L to 5L), s"query $q: ranks not 1..5")
      assert(g.forall(_._4 <= 50L), s"query $q: candidate outside the shortlist")
    }
  }

  test("qaDedupEval: metrics consistent, detector finds the planted pairs") {
    val r = ExtQueries.qaDedupEval(spark, sfSmoke).collect().head
    val Seq(nTruth, nDet, tp, fp, fn, prec, rec, f1) =
      (0 to 7).map(r.getLong(_))
    assert(tp + fp == nDet && tp + fn == nTruth)
    assert(prec == tp * 1000000L / nDet && rec == tp * 1000000L / nTruth)
    assert(f1 == 2 * prec * rec / (prec + rec))
    assert(nTruth > 0 && tp > 0, "eval vacuous: no planted pairs found")
    assert(rec >= 900000L, s"detector recall $rec ppm below 90% on planted copies")
  }

  test("pipelineBackfillOverwrite: healed table equals clean; dynamic overwrite is surgical") {
    import org.apache.spark.sql.functions.{col, count, lit}
    // the op end-to-end: corrupted initial load, healed by the backfill
    val got = ExtQueries.pipelineBackfillOverwrite(spark, sfSmoke).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    val want = sources.Tables.events(spark, sfSmoke)
      .groupBy(org.apache.spark.sql.functions.expr("ts_ns DIV 86400000000000").as("day"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        (org.apache.spark.sql.functions.sum(
          org.apache.spark.sql.functions.round(col("value") * 1000000).cast("long"))
          .cast("double") / 1000000).as("sv"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got == want)
    // surgical-overwrite mechanics: untouched partitions keep their exact
    // files (names AND bytes) across a dynamic-overwrite of other ones
    val out = tempDir("graft_backfill_spec")
      .resolve("t").toString
    spark.range(100).selectExpr("id % 4 AS day", "id AS v")
      .write.partitionBy("day").parquet(out)
    def files(day: Int) = {
      val d = java.nio.file.Paths.get(out, s"day=$day")
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.list(d).iterator().asScala
        .filter(_.getFileName.toString.startsWith("part-"))
        .map(p => p.getFileName.toString ->
          java.util.Arrays.hashCode(java.nio.file.Files.readAllBytes(p)))
        .toMap
    }
    val before = (1 to 3).map(files)
    spark.range(1000, 1010).selectExpr("CAST(0 AS BIGINT) AS day", "id AS v")
      .select(col("v"), col("day"))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("day").parquet(out)
    assert((1 to 3).map(files) == before,
      "dynamic overwrite touched partitions outside the incoming frame")
    assert(spark.read.parquet(out).filter(col("day") === 0).count() == 10L,
      "target partition not replaced")
  }
}
