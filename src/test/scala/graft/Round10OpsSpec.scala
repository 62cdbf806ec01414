package graft

import org.apache.spark.sql.functions._

/** Specs for the round-10 additions: the stored-index LIFECYCLE closes
  * — compaction absorbs the appends' small files without changing a
  * row, and drift-triggered maintenance takes the right branch on both
  * healthy and drifted batches.
  */
class Round10OpsSpec extends SparkSpec {
  import spark.implicits._

  private def freshNames(tag: String): (String, String) = (
    s"graft_test_${tag}_" + java.util.UUID.randomUUID().toString.replace("-", ""),
    tempDir(s"graft_test_$tag").toString)

  private def vecs = spark.read.parquet(s"$sfSmoke/embeddings.parquet")

  private def dataFiles(path: String): Seq[java.nio.file.Path] = {
    val root = java.nio.file.Paths.get(path)
    val s = java.nio.file.Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(_.toString.endsWith(".parquet")).toList
    } finally s.close()
  }

  test("IvfIndex.compact: purely physical — identical rows, fewer files, drift unchanged") {
    import operators.IvfIndex
    val corpus = vecs.filter($"vec_id" % 7 =!= 0)
    val (tbl, base) = freshNames("ivf_cpt")
    val stored = IvfIndex.build(spark, corpus, k = 8, iterations = 3, tbl, base)
    IvfIndex.append(spark, stored, vecs.filter($"vec_id" % 7 === 0 && $"vec_id" % 2 === 0), gen = 1)
    IvfIndex.append(spark, stored, vecs.filter($"vec_id" % 7 === 0 && $"vec_id" % 2 =!= 0), gen = 2)

    val fragmented = dataFiles(stored.listsPath).size
    val rowsBefore = spark.table(tbl)
      .select($"vec_id", $"cid", $"gen", round($"d2", 9)).collect().toSeq
      .map(_.toSeq).sortBy(_.toString)
    val driftBefore = IvfIndex.drift(spark.table(tbl)).collect().toSeq
      .map(_.toSeq).sortBy(_.toString)

    val (ctbl, cbase) = freshNames("ivf_cptc")
    val compacted = IvfIndex.compact(spark, stored, ctbl, cbase)

    // physical: every bucket collapses to one file; three write
    // rounds' worth of files (build + 2 appends) become at most 8
    val compactFiles = dataFiles(compacted.listsPath).size
    assert(compactFiles < fragmented,
      s"compaction did not reduce files: $fragmented -> $compactFiles")
    assert(compactFiles <= 8, s"more than one file per bucket after compact: $compactFiles")

    // logical: row set (including gen stamps) and drift identical
    val rowsAfter = spark.table(ctbl)
      .select($"vec_id", $"cid", $"gen", round($"d2", 9)).collect().toSeq
      .map(_.toSeq).sortBy(_.toString)
    assert(rowsBefore == rowsAfter, "compaction changed the row set")
    val driftAfter = IvfIndex.drift(spark.table(ctbl)).collect().toSeq
      .map(_.toSeq).sortBy(_.toString)
    assert(driftBefore == driftAfter, "compaction changed the drift metric")

    // the centroid artifact copied across — the compacted index is
    // a complete replacement
    assert(IvfIndex.readCentroids(spark, compacted).map { case (c, v) => (c, v.toSeq) } ==
      IvfIndex.readCentroids(spark, stored).map { case (c, v) => (c, v.toSeq) },
      "centroids did not copy")

    Seq(tbl, ctbl).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("IvfIndex.maintain: healthy batch folds in place, drifted batch retrains") {
    import operators.IvfIndex
    val corpus = vecs.filter($"vec_id" % 7 =!= 0)
    val batch = vecs.filter($"vec_id" % 7 === 0)

    // healthy: append branch — same handle, batch rows landed gen-1
    val (tbl1, base1) = freshNames("ivf_mnt")
    val s1 = IvfIndex.build(spark, corpus, k = 8, iterations = 3, tbl1, base1)
    val (rt1, rb1) = freshNames("ivf_mnt_rt")
    val (live1, retrained1) = IvfIndex.maintain(spark, s1, batch, gen = 1,
      k = 8, iterations = 3, rt1, rb1)
    assert(!retrained1, "healthy batch tripped the retrain trigger")
    assert(live1 == s1, "append branch must keep the stored handle")
    assert(spark.table(tbl1).filter($"gen" === 1).count() == batch.count(),
      "append branch did not fold the batch")
    assert(!spark.catalog.tableExists(rt1), "append branch must not build the retrain table")

    // drifted: retrain branch — new handle, fresh centroids over the
    // union (== a direct build over corpus ∪ drifted batch)
    val drifted = batch.select($"vec_id",
      transform($"embedding", x => x.cast("double") + lit(3.0)).as("embedding"))
    val (tbl2, base2) = freshNames("ivf_mrt")
    val s2 = IvfIndex.build(spark, corpus, k = 8, iterations = 3, tbl2, base2)
    val (rt2, rb2) = freshNames("ivf_mrt_rt")
    val (live2, retrained2) = IvfIndex.maintain(spark, s2, drifted, gen = 1,
      k = 8, iterations = 3, rt2, rb2)
    assert(retrained2, "drifted batch did not trip the retrain trigger")
    assert(live2.listsTable == rt2, "retrain branch must return the new artifact")

    val (dtbl, dbase) = freshNames("ivf_direct")
    val union = corpus
      .select($"vec_id", transform($"embedding", _.cast("double")).as("embedding"))
      .unionByName(drifted)
    IvfIndex.build(spark, union, k = 8, iterations = 3, dtbl, dbase)
    val retrainedRows = spark.table(rt2).select($"vec_id", $"cid")
      .as[(Long, Int)].collect().toSet
    val directRows = spark.table(dtbl).select($"vec_id", $"cid")
      .as[(Long, Int)].collect().toSet
    assert(retrainedRows == directRows,
      "retrain-branch index diverges from a direct build over corpus ∪ batch")

    Seq(tbl1, tbl2, rt2, dtbl).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("cosinePairsAgainst: equals the one-shot detector restricted to batch pairs, all arms live") {
    import operators.{IncrementalDedup, Similarity}
    val base = vecs.select($"vec_id", transform($"embedding", _.cast("double")).as("embedding"))
    val pert = base.filter($"vec_id" % 10 === 0).select(
      ($"vec_id" + lit(1000000L)).as("vec_id"),
      transform(sequence(lit(1), size($"embedding")),
        i => element_at($"embedding", i) + (i % 5 - 2).cast("double") * 0.01).as("embedding"))
    val all = base.unionByName(pert)
    val isBatch = $"vec_id" % 7 < 2

    def banded(df: org.apache.spark.sql.DataFrame) = df.select(
      $"vec_id".as("doc_id"), $"embedding".as("sigs"),
      explode(Similarity.hyperplaneBands($"embedding", 4, 4)).as("band"))
    val state = IncrementalDedup.bandState(banded(all.filter(!isBatch)))
    val inc = IncrementalDedup.cosinePairsAgainst(state, banded(all.filter(isBatch)))
      .as[(Long, Long, Double)].collect().toSet

    val full = Similarity.nearDupPairs(all, threshold = 0.95, nBits = 16, bands = 4)
      .as[(Long, Long, Double)].collect().toSet
    val restricted = full.filter(p => p._1 % 7 < 2 || p._2 % 7 < 2)
    assert(inc == restricted,
      s"incremental diverges from restricted one-shot: ${inc.diff(restricted)} / ${restricted.diff(inc)}")

    // the split really exercises all three arms (1000000 ≡ 1 mod 7):
    // both-in-batch (base ≡ 0), base-in-batch (≡ 1), copy-in-batch (≡ 6)
    assert(inc.exists(p => p._1 % 7 < 2 && p._2 % 7 < 2), "no new-vs-new pair")
    assert(inc.exists(p => p._1 % 7 < 2 && p._2 % 7 >= 2), "no batch-low straddle pair")
    assert(inc.exists(p => p._1 % 7 >= 2 && p._2 % 7 < 2), "no batch-high straddle pair")

    // and corpus-vs-corpus pairs are genuinely absent from the increment
    assert(full.diff(restricted).nonEmpty, "fixture has no corpus-only pairs; split is degenerate")
  }
}
