package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators._

/** The materialization lifetimes `Checkpoints` owns: every operator that
  * pins or persists an intermediate releases it before returning, a
  * loan releases on the failure path too, and a sweep leaves no
  * checkpoint directory behind.
  */
class CheckpointsSpec extends SparkSpec {
  import spark.implicits._

  private def persistent(): Int = spark.sparkContext.getPersistentRDDs.size

  private def tmp(tag: String): (String, String) = (
    s"graft_ckpt_${tag}_" + java.util.UUID.randomUUID().toString.replace("-", ""),
    tempDir(s"graft-ckpt-$tag").toString)

  private val graph = Seq(("a", "b"), ("b", "a"), ("a", "c"), ("c", "a"),
    ("b", "c"), ("c", "b"), ("c", "d"), ("d", "c"))

  private def vtRoot(): String = {
    val root = tempDir("graft-ckpt-vt").toString
    VersionedTable.create(spark, (0L until 40L).map(i => (i, i % 4, s"v$i"))
      .toDF("k", "g", "v"), root, VersionedTable.Spec(Seq("k"), "k", 1 << 10))
    root
  }
  private val vtSpec = VersionedTable.Spec(Seq("k"), "k", 1 << 10)

  test("leak gate: no operator that pins or persists an intermediate strands a cached RDD") {
    def vecs = spark.read.parquet(s"$sfSmoke/embeddings.parquet")
    val docs = Seq((1L, "apple banana cherry"), (2L, "banana cherry date"),
      (3L, "cherry date elder"), (4L, "date elder fig")).toDF("doc_id", "text")
    val verts = (1L to 12L).toDF("id")
    val edges = Seq((1L, 2L), (2L, 3L), (5L, 6L), (6L, 7L), (10L, 11L))
      .toDF("src", "dst")
    val cases: Seq[(String, () => Unit)] = Seq(
      "ExtQueries.graphPageRank" -> (() => {
        val df = ExtQueries.graphPageRank(spark, sfSmoke)
        assert(df.count() > 0)
        // a second consumption of the SAME returned frame reads the
        // materialized result, not cold caches
        assert(df.agg(sum("rank_fp")).as[Long].head() > 0)
      }),
      "PageRank.run" -> (() =>
        assert(PageRank.run(graph.toDF("src", "dst"), 3).count() == 4)),
      "GraphIndex.append/purge/ranks/warmStartRanks" -> (() => {
        val (tbl, base) = tmp("gidx")
        val (ptbl, pbase) = tmp("gidxp")
        val s0 = GraphIndex.build(spark, graph.take(6).toDF("src", "dst"), tbl, base)
        val (s1, n) = GraphIndex.append(spark, s0, graph.toDF("src", "dst"), gen = 1)
        assert(n == 2)
        val cold = GraphIndex.ranks(spark, s1, 2)
        assert(cold.count() == 4)
        assert(GraphIndex.warmStartRanks(spark, s1, cold, 1).count() == 4)
        val (_, retracted) = GraphIndex.purge(spark, s1, Seq("d").toDF("node"), ptbl, pbase)
        assert(retracted == 2)
        spark.sql(s"DROP TABLE IF EXISTS $tbl")
        spark.sql(s"DROP TABLE IF EXISTS $ptbl")
      }),
      "ConnectedComponents.solveAuto (driver path)" -> (() =>
        assert(ConnectedComponents.solveAuto(verts, edges).count() == 12)),
      "ConnectedComponents.solveAuto (runStar fallback)" -> (() =>
        assert(ConnectedComponents.solveAuto(verts, edges, maxCollected = 1)
          .filter($"component" === 1L).count() == 3)),
      "ConnectedComponents.labelPropagateJump" -> (() =>
        assert(ConnectedComponents.labelPropagateJump(verts, edges, 3)
          .filter($"component" === 5L).count() == 3)),
      "IncrementalDedup.mergeClusters" -> (() =>
        assert(IncrementalDedup.mergeClusters(
          Seq((1L, 1L), (2L, 1L), (10L, 10L)).toDF("id", "component"),
          Seq(100L).toDF("id"),
          Seq((2L, 100L), (100L, 10L)).toDF("doc_id_1", "doc_id_2")).count() == 4)),
      "Bm25Index.append/purge" -> (() => {
        val (tbl, base) = tmp("bm25")
        val (ptbl, pbase) = tmp("bm25p")
        val s0 = Bm25Index.build(spark, docs.filter($"doc_id" <= 2), tbl, base)
        val (s1, n) = Bm25Index.append(spark, s0, docs, gen = 1)
        assert(n == 2)
        val (_, purged) = Bm25Index.purge(spark, s1, Seq(3L).toDF("doc_id"), ptbl, pbase)
        assert(purged == 1)
        spark.sql(s"DROP TABLE IF EXISTS $tbl")
        spark.sql(s"DROP TABLE IF EXISTS $ptbl")
      }),
      "IvfIndex.build/append (KMeans.fit)" -> (() => {
        val (tbl, base) = tmp("ivf")
        val stored = IvfIndex.build(spark, vecs.filter($"vec_id" % 5 =!= 0),
          k = 4, iterations = 2, tbl, base)
        IvfIndex.append(spark, stored, vecs.filter($"vec_id" % 5 === 0), gen = 1)
        assert(spark.table(tbl).count() == vecs.count())
        spark.sql(s"DROP TABLE IF EXISTS $tbl")
      }),
      "VersionedTable.deleteRoster/updateWhere/merge" -> (() => {
        val root = vtRoot()
        VersionedTable.deleteRoster(spark, root, vtSpec, Seq(3L).toDF("k"))
        VersionedTable.updateWhere(spark, root, vtSpec, $"g" === 1,
          Map("v" -> lit("u")))
        VersionedTable.merge(spark, root, vtSpec,
          Seq((5L, 9L, "m"), (99L, 9L, "n")).toDF("k", "g", "v"),
          matchedUpdate = Map("v" -> col("src_v")))
        val rows = VersionedTable.read(spark, root)
        assert(rows.count() == 40)
        assert(rows.filter($"k" === 5L).select("v").as[String].head() == "m")
      }))
    val leaks = cases.flatMap { case (name, run) =>
      spark.catalog.clearCache()
      val before = persistent()
      run()
      val after = persistent()
      if (after != before) Some(s"$name: ${after - before}") else None
    }
    assert(leaks.isEmpty, s"stranded persistent RDDs: ${leaks.mkString("; ")}")
    Checkpoints.sweep(spark.sparkContext)
    assert(Checkpoints.liveCount(spark.sparkContext) == 0,
      "sweep left checkpoint directories behind")
  }

  test("withPersisted: a throwing body rethrows the original exception and releases the cache") {
    spark.catalog.clearCache()
    val before = persistent()
    val boom = new IllegalStateException("boom")
    val thrown = intercept[IllegalStateException] {
      Checkpoints.withPersisted(spark.range(100).toDF("id")) { df =>
        assert(df.count() == 100)
        assert(persistent() == before + 1, "the loaned frame was not persisted")
        throw boom
      }
    }
    assert(thrown eq boom)
    assert(persistent() == before)
  }

  test("withPinned: a throwing body rethrows the original exception and releases the pin") {
    spark.catalog.clearCache()
    val before = persistent()
    val boom = new IllegalArgumentException("boom")
    val thrown = intercept[IllegalArgumentException] {
      Checkpoints.withPinned(spark.range(100).toDF("id")) { p =>
        assert(persistent() == before + 1, "the pin did not materialize eagerly")
        assert(p.df.count() == 100)
        throw boom
      }
    }
    assert(thrown eq boom)
    assert(persistent() == before)
  }

  test("pin: a failing eager job releases its blocks before rethrowing") {
    spark.catalog.clearCache()
    val before = persistent()
    intercept[Exception] {
      Checkpoints.pin(spark.range(10).toDF("id")
        .select(when($"id" === 7L, raise_error(lit("bad row"))).otherwise($"id").as("id")))
    }
    assert(persistent() == before)
  }

  test("pin: lineage cut, row count, and an order-insensitive digest from one job") {
    val src = (1L to 50L).map(i => (i, i % 3)).toDF("u", "v")
    val a = Checkpoints.pin(src)
    val b = Checkpoints.pin(src.repartition(7).orderBy($"u".desc))
    val c = Checkpoints.pin(src.filter($"u" =!= 50L).unionByName(Seq((51L, 2L)).toDF("u", "v")))
    try {
      assert(a.rows == 50 && b.rows == 50 && c.rows == 50)
      assert(a.digest == b.digest, "digest depends on row order")
      assert(a.digest != c.digest, "digest did not tell two row sets apart")
      assert(a.df.queryExecution.logical.children.isEmpty, "pinned plan keeps its lineage")
    } finally Seq(a, b, c).foreach(_.df.unpersist())
  }
}
