package graft

import org.apache.spark.sql.functions._

/** Specs for the round-7 hygiene fixes: iterative-operator cache
  * lifetime, non-finite quantization inputs, z-order input guards.
  */
class Round7OpsSpec extends SparkSpec {
  import spark.implicits._

  test("pageRank: result unchanged by the spine collapse (2-cycle + star re-check)") {
    val edges = Seq(("a", "b"), ("b", "a")).toDF("src", "dst")
    val got = operators.PageRank.run(edges, iterations = 3)
      .select("node", "out_deg", "rank_fp").as[(String, Long, Long)]
      .collect().toSet
    val half = operators.PageRank.Scale / 2
    assert(got == Set(("a", 1L, half), ("b", 1L, half)), s"unexpected: $got")
  }

  test("quantize_i8d: non-finite elements pass through instead of crashing") {
    // BigDecimal.valueOf(NaN/Inf) throws — one bad embedding element
    // must not kill a corpus-wide query (ADVICE r4). Mirrors Spark's
    // RoundBase: non-finite in, non-finite out.
    val d = Seq(
      (1L, Array(1.0f, Float.NaN, -2.0f)),
      (2L, Array(Float.PositiveInfinity, 1.0f)),
      (3L, Array(3.0f, -1.5f))
    ).toDF("id", "emb")
    val got = d.select($"id", expr("quantize_i8d(emb)").as("q"))
      .as[(Long, Array[Double])].collect().toMap
    // NaN ignored by the max pass: scale = 2/127, finite elements quantize
    assert(got(1L)(0) == 64.0 && got(1L)(1).isNaN && got(1L)(2) == -127.0,
      s"unexpected: ${got(1L).toSeq}")
    // Inf dominates the max pass: scale = Inf, Inf/Inf = NaN, 1/Inf -> 0
    assert(got(2L)(0).isNaN && got(2L)(1) == 0.0, s"unexpected: ${got(2L).toSeq}")
    // untouched finite row still exact
    assert(got(3L).toSeq == Seq(127.0, -64.0), s"unexpected: ${got(3L).toSeq}")
  }

  test("incremental dedup gate: equals the full recompute restricted to batch-touching pairs") {
    val inc = ExtQueries.pipelineDedupIncremental(spark, sfSmoke)
      .as[(Long, Long, Double)].collect().toSet
    val full = ExtQueries.dedupMinhashLsh(spark, sfSmoke)
      .filter($"doc_id_1" % 7 === 0 || $"doc_id_2" % 7 === 0)
      .as[(Long, Long, Double)].collect().toSet
    assert(inc.nonEmpty, "fixture produced no batch-touching near-dup pairs")
    assert(inc == full,
      s"incremental-only: ${inc -- full}; full-only: ${full -- inc}")
  }

  test("incremental dedup: two chained increments through a stored parquet state") {
    // corpus A, then batch B1 folded into the state, then batch B2
    // deduped against the STORED state (parquet round-trip, bucketed by
    // band) — must equal the full recompute over A ∪ B1 ∪ B2 restricted
    // to pairs touching B2. Near-copies: id+1000 drops the first word.
    import operators.IncrementalDedup._
    val base = (1L to 30L).map(i =>
      (i, (0 until 20).map(w => s"t${(i * 7 + w) % 13}w$w").mkString(" ")))
    val corpus = (base ++ base.filter(_._1 % 3 == 0).map { case (i, t) =>
      (i + 1000L, t.split(" ").drop(1).mkString(" "))
    }).toDF("doc_id", "text")
      .select($"doc_id", split($"text", " ").as("words"))
    val inA = (id: org.apache.spark.sql.Column) => id % 5 < 3
    val inB1 = (id: org.apache.spark.sql.Column) => id % 5 === 3
    val state0 = bandState(ExtQueries.minhashBanded(corpus.filter(inA($"doc_id"))))
    val state1 = foldState(state0, ExtQueries.minhashBanded(corpus.filter(inB1($"doc_id"))))
    val tmp = tempDir("inc-state").toString
    spark.sql("DROP TABLE IF EXISTS inc_state_r7")
    state1.write.format("parquet").bucketBy(4, "band")
      .option("path", s"$tmp/state1").saveAsTable("inc_state_r7")
    val stored = spark.table("inc_state_r7")
    val got = pairsAgainst(stored,
      ExtQueries.minhashBanded(corpus.filter($"doc_id" % 5 > 3)))
      .as[(Long, Long, Double)].collect().toSet
    // full recompute via an empty state (every doc is "new")
    val banded = ExtQueries.minhashBanded(corpus)
    val full = pairsAgainst(bandState(banded.limit(0)), banded)
      .filter($"doc_id_1" % 5 > 3 || $"doc_id_2" % 5 > 3)
      .as[(Long, Long, Double)].collect().toSet
    assert(got.nonEmpty, "fixture produced no B2-touching pairs")
    assert(got == full, s"got-only: ${got -- full}; full-only: ${full -- got}")
  }

  test("incremental dedup: band cap is evaluated on the TOTAL membership") {
    import operators.IncrementalDedup._
    val sig = Seq.fill(16)("s")
    def banded(ids: Long*) = ids.map(i => (i, sig, "band1")).toDF("doc_id", "sigs", "band")
    // corpus 2 + batch 2 = 4 > cap 3: no pairs, but the count survives
    val s2 = bandState(banded(1L, 2L), cap = 3)
    assert(pairsAgainst(s2, banded(10L, 11L), minEst = 0.0, cap = 3).isEmpty)
    // corpus 1 + batch 2 = 3 <= cap: 2 cross + 1 within = 3 pairs
    val s1 = bandState(banded(1L), cap = 3)
    assert(pairsAgainst(s1, banded(10L, 11L), minEst = 0.0, cap = 3).count() == 3)
    // fold past the cap truncates members but keeps the count
    val folded = foldState(s2, banded(3L, 4L), cap = 3)
      .select($"cnt", size($"members")).as[(Long, Int)].head()
    assert(folded == ((4L, 0)), s"unexpected: $folded")
  }

  test("exact incremental dedup: first-seen wins, and two increments fold forward") {
    import operators.IncrementalDedup._
    val corpus = Seq((10L, "alpha beta"), (11L, "gamma delta")).toDF("doc_id", "text")
    val b1 = Seq((5L, "alpha beta"), (6L, "epsilon"), (7L, "epsilon"))
      .toDF("doc_id", "text")
    val s0 = digestState(corpus)
    val v1 = exactAgainst(s0, b1).as[(Long, Long, Boolean, String)].collect().toSet
    // doc 5 duplicates corpus doc 10 even though 5 < 10 — the stored
    // canonical must not flip (published corpus rows are immutable)
    assert(v1 == Set((5L, 10L, false, "dup_corpus"),
      (6L, 6L, true, "canonical"), (7L, 6L, false, "dup_batch")), s"got $v1")
    val s1 = foldDigestState(s0, b1)
    val b2 = Seq((20L, "epsilon"), (21L, "zeta")).toDF("doc_id", "text")
    val v2 = exactAgainst(s1, b2).as[(Long, Long, Boolean, String)].collect().toSet
    // "epsilon" entered the state via b1's minimum (6), so b2's copy is
    // a corpus dup now; "zeta" is genuinely new
    assert(v2 == Set((20L, 6L, false, "dup_corpus"),
      (21L, 21L, true, "canonical")), s"got $v2")
  }

  test("incremental state folds are identities on an empty batch") {
    import operators.IncrementalDedup._
    val sig = Seq.fill(16)("s")
    val banded = Seq((1L, sig, "b1"), (2L, sig, "b1"), (3L, sig, "b2"))
      .toDF("doc_id", "sigs", "band")
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select($"band", $"cnt", expr("array_sort(transform(members, m -> m.doc_id))"))
      .as[(String, Long, Seq[Long])].collect().toSet
    val s0 = bandState(banded)
    assert(canon(foldState(s0, banded.limit(0))) == canon(s0))
    assert(pairsAgainst(s0, banded.limit(0)).isEmpty)
    val docs = Seq((1L, "x"), (2L, "y")).toDF("doc_id", "text")
    val d0 = digestState(docs)
    val d1 = foldDigestState(d0, docs.limit(0))
    assert(d1.as[(String, Long)].collect().toSet == d0.as[(String, Long)].collect().toSet)
    assert(exactAgainst(d0, docs.limit(0)).isEmpty)
  }

  test("mergeClusters: a batch bridging stored components merges them to the global min") {
    import operators.IncrementalDedup.mergeClusters
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L))
      .toDF("id", "component")
    val newIds = Seq(100L, 101L).toDF("id")
    // doc 100 pairs with members of BOTH stored components — they must
    // merge (min 1); doc 101 pairs with nothing — singleton
    val newPairs = Seq((2L, 100L), (100L, 10L)).toDF("doc_id_1", "doc_id_2")
    val got = mergeClusters(labels, newIds, newPairs)
      .as[(Long, Long, Boolean)].collect().toSet
    val expect = Set((1L, 1L, true), (2L, 1L, false), (3L, 1L, false),
      (10L, 1L, false), (11L, 1L, false), (100L, 1L, false), (101L, 101L, true))
    assert(got == expect, s"got-only: ${got -- expect}; missing: ${expect -- got}")
    // and equals a full re-cluster over the union graph
    val allVerts = (Seq(1L, 2L, 3L, 10L, 11L, 100L, 101L)).toDF("id")
    val allEdges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (2L, 100L), (100L, 10L))
      .toDF("src", "dst")
    val full = operators.ConnectedComponents.labelPropagate(allVerts, allEdges, 5)
      .select($"id".as("doc_id"), $"component", ($"id" === $"component").as("keep"))
      .as[(Long, Long, Boolean)].collect().toSet
    assert(got == full)
  }

  test("runStar: converges on a 200-hop chain where fixed-round propagation provably cannot") {
    val n = 200
    val verts = (1 to n).map(_.toLong).toDF("id")
    val edges = (1 until n).map(i => (i.toLong, (i + 1).toLong)).toDF("src", "dst")
    spark.catalog.clearCache()
    val before = spark.sparkContext.getPersistentRDDs.size
    val star = operators.ConnectedComponents.runStar(verts, edges)
      .as[(Long, Long)].collect().toSet
    assert(star == (1 to n).map(i => (i.toLong, 1L)).toSet,
      s"star did not reach the chain minimum: ${star.filter(_._2 != 1L).take(5)}")
    assert(spark.sparkContext.getPersistentRDDs.size == before,
      "runStar stranded persistent RDDs")
    // 7 propagation rounds only reach 7 hops — most of the chain is wrong
    val prop = operators.ConnectedComponents
      .labelPropagate(verts, edges, iterations = 7)
      .as[(Long, Long)].collect().toSet
    assert(prop != star, "a 7-round propagation cannot converge on diameter 199")
  }

  test("runStar: equals convergence-checked propagation on a mixed forest with isolated vertices") {
    val verts = (Seq(1L, 2L, 3L, 4L, 5L, 10L, 11L, 12L, 20L, 21L, 30L, 31L)).toDF("id")
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L), (5L, 4L),
      (10L, 11L), (11L, 12L), (12L, 10L), (21L, 20L)).toDF("src", "dst")
    val star = operators.ConnectedComponents.runStar(verts, edges)
      .as[(Long, Long)].collect().toSet
    val ref = operators.ConnectedComponents.run(verts, edges)
    val refSet = ref.as[(Long, Long)].collect().toSet
    ref.unpersist()
    assert(star == refSet, s"star-only: ${star -- refSet}; ref-only: ${refSet -- star}")
    assert(star.filter(_._1 >= 30L) == Set((30L, 30L), (31L, 31L)),
      "isolated vertices must label themselves")
  }

  test("dedupNgramVerified: exact-Jaccard on LSH candidates is a high-recall subset of the posting detector") {
    val ver = ExtQueries.dedupNgramVerified(spark, sfSmoke)
      .as[(Long, Long, Double)].collect()
    val verSet = ver.toSet
    val exact = ExtQueries.dedupNgramJaccard(spark, sfSmoke)
      .as[(Long, Long, Double)].collect()
    val exactByPair = exact.map(t => (t._1, t._2) -> t._3).toMap
    assert(ver.nonEmpty, "no verified pairs on the fixture")
    // every verified pair exists in the exact detector with the SAME
    // exact jaccard (no posting on this fixture exceeds the cap, so
    // the posting detector's intersection counts are true)
    ver.foreach { case (a, b, j) =>
      assert(exactByPair.get((a, b)).contains(j),
        s"pair ($a,$b,$j) not in exact detector: ${exactByPair.get((a, b))}")
    }
    // banding recall on the PLANTED near-dup pairs (doc, doc+1000000):
    // the explicit trade for escaping the quadratic pair regime
    val planted = exact.filter { case (a, b, _) => b == a + 1000000L }
    val found = planted.count { case (a, b, j) => verSet.contains((a, b, j)) }
    assert(planted.nonEmpty && found >= planted.length * 85 / 100,
      s"recall $found/${planted.length} below the 85% banding floor")
  }

  test("SaltedJoin.adaptive: salted plan engages iff the sampled histogram is hot") {
    val dim = (1 to 50).map(i => (i.toLong, s"d$i")).toDF("k", "name")
    // 50% of all rows on key 1 — far past the 25% trigger
    val hot = (1 to 2000).map(i => (if (i % 2 == 0) 1L else i.toLong, i.toDouble))
      .toDF("k", "v")
    val hotJoin = operators.SaltedJoin.adaptive(hot, dim, Seq("k"), "left",
      sampleFraction = 0.5)
    assert(hotJoin.queryExecution.analyzed.toString.contains("__graft_jsalt"),
      "50%-hot-key fixture must route through the salted form")
    // uniform keys — salting would be pure replication cost
    val flat = (1 to 2000).map(i => (i.toLong, i.toDouble)).toDF("k", "v")
    val flatJoin = operators.SaltedJoin.adaptive(flat, dim, Seq("k"), "left",
      sampleFraction = 0.5)
    assert(!flatJoin.queryExecution.analyzed.toString.contains("__graft_jsalt"),
      "uniform-key fixture must plan the stock join")
    // identical rows to the plain join on the hot fixture (multiset)
    val got = hotJoin.as[(Long, Double, Option[String])].collect().sorted
    val expect = hot.join(dim, Seq("k"), "left")
      .as[(Long, Double, Option[String])].collect().sorted
    assert(got.toSeq == expect.toSeq)
  }

  test("streaming checkpoint-restart: dedup state survives a stop/restart and equals one-shot") {
    // The recovery property StreamingStage.StatePartitions calls
    // restart-critical and nothing tested (VERDICT r4 #6): run a
    // watermarked stateful query to a checkpoint, stop, append input,
    // restart FROM THE CHECKPOINT — recovered state must keep deduping
    // across the restart, and the final sink must equal a one-shot run.
    import org.apache.spark.sql.streaming.Trigger
    val root = tempDir("ckpt-restart").toString
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 10:00:00")
    def ts(min: Int) = new java.sql.Timestamp(t0.getTime + min * 60000L)
    val part1 = Seq((1L, ts(0), 1.0), (2L, ts(10), 2.0), (2L, ts(11), 2.0),
      (3L, ts(20), 3.0))
    val part2 = Seq((2L, ts(30), 2.0), (3L, ts(25), 3.0), (4L, ts(40), 4.0))
    def write(rows: Seq[(Long, java.sql.Timestamp, Double)], dir: String): Unit =
      rows.toDF("event_id", "ts", "value").repartition(1)
        .write.mode("append").parquet(dir)
    def runOnce(in: String, out: String, ck: String, parts: Int): Unit = {
      val schema = spark.read.parquet(in).schema
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
      try {
        val q = spark.readStream.schema(schema).parquet(in)
          .withWatermark("ts", "2 hours")
          .dropDuplicatesWithinWatermark("event_id")
          .writeStream.format("parquet").option("path", out)
          .option("checkpointLocation", ck)
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    }
    val (in, out, ck) = (s"$root/in", s"$root/out", s"$root/ck")
    write(part1, in)
    runOnce(in, out, ck, parts = 8)
    assert(spark.read.parquet(out).select("event_id").as[Long].collect().toSet
      == Set(1L, 2L, 3L))
    write(part2, in)
    // restart under a DIFFERENT session shuffle width: the checkpoint
    // pins the original state partition count, so this must still work
    runOnce(in, out, ck, parts = 32)
    val restarted = spark.read.parquet(out).select("event_id").as[Long]
      .collect().sorted.toSeq
    // ids 2 and 3 recur in part2 within the watermark horizon — only
    // RECOVERED state can drop them; lost state would emit 6 rows
    assert(restarted == Seq(1L, 2L, 3L, 4L),
      s"restart lost or corrupted dedup state: $restarted")
    // one-shot over the combined input lands on the same id set
    val (in2, out2, ck2) = (s"$root/in2", s"$root/out2", s"$root/ck2")
    write(part1, in2); write(part2, in2)
    runOnce(in2, out2, ck2, parts = 8)
    val oneShot = spark.read.parquet(out2).select("event_id").as[Long]
      .collect().toSet
    assert(restarted.toSet == oneShot)
  }

  test("stateful band-dedup oracle precondition: fixture band sizes stay far below the cap") {
    // the streaming_dedup_bands_stateful oracle assumes no band ever
    // saturates (first-arrivals-win would diverge past the cap) —
    // pin the fixture property the oracle's validity rests on
    val base = spark.read.parquet(s"$sfSmoke/documents.parquet")
      .select($"doc_id", split($"text", " ").as("words"))
    val nd = base.unionByName(base.filter($"doc_id" % 10 === 0).select(
      ($"doc_id" + 1000000L).as("doc_id"),
      expr("slice(words, 6, greatest(size(words) - 5, 0))").as("words")))
    val batchBanded = ExtQueries.minhashBanded(nd.filter($"doc_id" % 5 === 0))
    val maxBand = batchBanded.groupBy("band").count()
      .agg(max("count")).as[Long].head()
    assert(maxBand < operators.Buckets.DefaultCap / 2,
      s"fixture band size $maxBand approaches the cap; oracle assumption at risk")
    // and the split keeps the planted pairs in-batch: the gate is not vacuous
    val pairs = ExtQueries.streamingDedupBandsStateful(spark, sfSmoke)
    assert(pairs.count() > 0, "stateful streaming dedup gate must emit pairs")
  }

  test("zorderKey: negative or out-of-range input fails loudly, not silently") {
    val neg = Seq((-1L, 2L)).toDF("a", "b")
    val e1 = intercept[Exception] {
      neg.select(operators.Layout.zorderKey($"a", $"b")).collect()
    }
    assert(e1.getMessage != null)
    val wide = Seq((1L << 22, 2L)).toDF("a", "b")
    val e2 = intercept[Exception] {
      wide.select(operators.Layout.zorderKey($"a", $"b", bits = 21)).collect()
    }
    assert(e2.getMessage != null)
    // valid inputs unchanged by the guard
    val ok = Seq((3L, 5L)).toDF("a", "b")
      .select(operators.Layout.zorderKey($"a", $"b")).as[Long].head()
    // a=11b -> bits at pos 1,3; b=101b -> bits at pos 0,4: 11011b = 27
    assert(ok == 27L, s"unexpected: $ok")
  }
}
