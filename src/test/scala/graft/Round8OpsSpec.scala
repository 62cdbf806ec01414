package graft

import org.apache.spark.sql.functions._

/** Specs for the round-8 hardening items: replay-idempotent state
  * folds, checkpoint-file hygiene, and the incremental-clusters oracle
  * precondition (VERDICT/ADVICE r5).
  */
class Round8OpsSpec extends SparkSpec {
  import spark.implicits._

  private val sig = Seq.fill(16)("s")

  private def canonState(df: org.apache.spark.sql.DataFrame) = df
    .select($"band", $"cnt",
      expr("array_sort(transform(members, m -> struct(m.doc_id, m.sigs)))"))
    .as[(String, Long, Seq[(Long, Seq[String])])].collect().toSet

  test("foldState: re-applying a batch is a no-op (replay idempotence, byte-for-byte)") {
    // The retried-daily-job failure mode (VERDICT r5 "what's wrong" #1):
    // fold(fold(s, b), b) must equal fold(s, b) exactly — below the
    // cap, at the cap boundary, and on an already-saturated band.
    import operators.IncrementalDedup._
    def banded(rows: (Long, String)*) =
      rows.map { case (id, b) => (id, sig, b) }.toDF("doc_id", "sigs", "band")
    // b1: stays below cap after the fold; b2: the batch pushes it past
    // the cap; b3: already saturated in the state (members dropped)
    val state = bandState(
      banded((1L, "b1"), (2L, "b2"), (3L, "b2"),
        (10L, "b3"), (11L, "b3"), (12L, "b3"), (13L, "b3")), cap = 3)
    val batch = banded((100L, "b1"), (101L, "b2"), (102L, "b2"), (103L, "b3"))
    val once = canonState(foldState(state, batch, cap = 3))
    val twice = canonState(
      foldState(foldState(state, batch, cap = 3), batch, cap = 3))
    assert(once == twice,
      s"refold diverged — once-only: ${once -- twice}; twice-only: ${twice -- once}")
    // the saturating-counter invariant: cnt = distinct membership below
    // the cap, cap+1 once crossed (the only downstream question is
    // `cnt > cap`, and saturation keeps it stable under replay)
    val byBand = once.map(t => t._1 -> ((t._2, t._3.map(_._1)))).toMap
    assert(byBand("b1") == ((2L, Seq(1L, 100L))), s"b1: ${byBand("b1")}")
    assert(byBand("b2") == ((4L, Seq())), s"b2: ${byBand("b2")}")
    assert(byBand("b3") == ((4L, Seq())), s"b3: ${byBand("b3")}")
  }

  test("foldState: fold then replay equals one fold even through a stored round trip") {
    // same property on the real fixture shapes (minhash signatures,
    // parquet round trip) — the production fold chain re-running its
    // last batch after a crash must publish identical state
    import operators.IncrementalDedup._
    val corpus = (1L to 40L).map(i =>
      (i, (0 until 20).map(w => s"t${(i * 7 + w) % 13}w$w").mkString(" ")))
      .toDF("doc_id", "text")
      .select($"doc_id", split($"text", " ").as("words"))
    val s0 = bandState(ExtQueries.minhashBanded(corpus.filter($"doc_id" % 3 =!= 0)))
    val b = ExtQueries.minhashBanded(corpus.filter($"doc_id" % 3 === 0))
    val tmp = tempDir("refold").toString
    foldState(s0, b).write.parquet(s"$tmp/s1")
    val stored = spark.read.parquet(s"$tmp/s1")
    assert(canonState(foldState(stored, b)) == canonState(stored),
      "replaying the folded batch against the stored state changed it")
  }

  test("checkpoint hygiene: sweep bounds the root to one invocation's files") {
    // runStar/PageRank write one reliable checkpoint per invocation and
    // Spark never cleans them (VERDICT r5 "what's wrong" #2) — the
    // quiesce-point sweep Verify/Bench call between queries must leave
    // at most one invocation's files live.
    import operators.{Checkpoints, ConnectedComponents}
    val verts = (1L to 20L).toDF("id")
    val edges = (1L until 20L).map(i => (i, i + 1)).toDF("src", "dst")
    val r1 = ConnectedComponents.runStar(verts, edges)
    assert(r1.count() == 20)
    val sc = spark.sparkContext
    val after1 = Checkpoints.liveCount(sc)
    assert(after1 >= 1, "runStar did not checkpoint under the managed root")
    Checkpoints.sweep(sc)
    assert(Checkpoints.liveCount(sc) == 0, "sweep left checkpoint files behind")
    val r2 = ConnectedComponents.runStar(verts, edges)
    assert(r2.count() == 20)
    assert(Checkpoints.liveCount(sc) <= after1,
      "second invocation accumulated more checkpoint files than the first")
    Checkpoints.sweep(sc)
  }

  test("incremental clusters oracle precondition: no corpus band crosses the cap when the batch lands") {
    // pipeline_dedup_incremental_clusters is gated VERBATIM against the
    // full-recompute oracle; that equivalence assumes no band's TOTAL
    // (corpus + batch) membership crosses the bucket cap — a batch
    // saturating a band revokes corpus-corpus pairs in the oracle that
    // yesterday's stored labels already contracted (ADVICE r5). Pin the
    // fixture property the gate's validity rests on, mirroring the
    // stateful-streaming precondition spec.
    val nd = spark.read.parquet(s"$sfSmoke/documents.parquet")
      .select($"doc_id", split($"text", " ").as("words"))
    val withDups = nd.unionByName(nd.filter($"doc_id" % 10 === 0).select(
      ($"doc_id" + 1000000L).as("doc_id"),
      expr("slice(words, 6, greatest(size(words) - 5, 0))").as("words")))
    val maxTotalBand = ExtQueries.minhashBanded(withDups)
      .groupBy("band").count().agg(max("count")).as[Long].head()
    assert(maxTotalBand < operators.Buckets.DefaultCap / 2,
      s"a corpus∪batch band holds $maxTotalBand members — approaching the " +
        "cap where the stored-labels equivalence breaks")
  }
}
