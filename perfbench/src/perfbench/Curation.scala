package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit, split}

import graft.ExtQueries
import graft.operators.{Bm25Index, Checkpoints, ConnectedComponents, IncrementalDedup,
  IvfIndex, KMeans, LatestPerKey, Publish, Quality, Similarity, TableStore}

/** Corpus curation into stored indexes, one round per pass:
  *  1. fuzzy dedup: minhash bands → candidate pairs
  *     (`IncrementalDedup.pairsAgainst` an empty state) → connected
  *     components (`ConnectedComponents.solveAuto`, which picks the
  *     driver-side or the distributed solver by edge count);
  *  2. funnel: near-dup survivors, then exact dedup of the increment
  *     against their digest state, both materialized (`Checkpoints`);
  *     the curated corpus (both) is published write-audit-publish
  *     (`Publish`, audited for unique ids);
  *  3. stored IVF and BM25 index builds;
  *  4. the increment folded into both indexes;
  *  5. a fixed batch of top-k queries against the stored indexes.
  * The previous round's indexes and published versions are retired
  * between rounds.
  */
final class Curation(spark: SparkSession, ledger: Ledger, in: String, work: String)
    extends Workload {

  private val k = 10
  private var ivfQueries: Seq[(Long, Seq[Double])] = Nil
  private var bm25Queries: Seq[(Long, Seq[String])] = Nil
  private var last, previous: Option[(IvfIndex.Stored, Bm25Index.Stored)] = None
  private var results: Seq[Map[String, Any]] = Nil
  private val curated = s"$work/curated"

  override def setup(k: Int): Unit = {
    val lines = scala.io.Source.fromFile(s"$in/queries.tsv").getLines().map(_.split("\t")).toSeq
    bm25Queries = lines.collect { case Array("bm25", q, terms) => q.toLong -> terms.split(" ").toSeq }
    ivfQueries = lines.collect { case Array("ivf", q, v) => q.toLong -> v.split(",").map(_.toDouble).toSeq }
  }

  private def ivfTopK(ivf: IvfIndex.Stored, q: (Long, Seq[Double])): Array[Row] = {
    val cents = IvfIndex.readCentroids(spark, ivf)
    val query = spark.createDataFrame(Seq(q)).toDF("vec_id", "embedding")
    val probes = KMeans.probe(query, cents, nprobe = 2)
      .select(col("vec_id").as("query_id"), col("v").as("q_vec"), col("cid"))
    val lists = spark.table(ivf.listsTable)
      .select(col("vec_id").as("neighbor_id"), col("v").as("c_vec"), col("cid"))
    val scored = lists.join(probes, Seq("cid"))
      .withColumn("score", Similarity.cosine(col("q_vec"), col("c_vec")))
      .dropDuplicates("query_id", "neighbor_id")
    LatestPerKey.topKRanked(scored, k, Seq(col("query_id")),
        Seq(col("score").desc_nulls_last, col("neighbor_id").asc_nulls_first))
      .select(col("query_id"), col("rank").cast("long"), col("neighbor_id"), col("score"))
      .collect()
  }

  def pass(i: Int): Unit = {
    val corpus = spark.read.parquet(s"$in/corpus.parquet")
    val increment = spark.read.parquet(s"$in/increment.parquet")
    val labels = ledger.span("dedup") {
      val banded = ExtQueries.minhashBanded(
        corpus.select(col("doc_id"), split(col("text"), " ").as("words")))
      val empty = IncrementalDedup.bandState(banded.filter(lit(false)))
      val pairs = IncrementalDedup.pairsAgainst(empty, banded)
      ConnectedComponents.solveAuto(corpus.select(col("doc_id").as("id")),
        pairs.select(col("doc_id_1").as("src"), col("doc_id_2").as("dst")))
    }
    val (survivors, fresh) = ledger.span("funnel") {
      val kept = corpus.join(labels.filter(col("id") === col("component"))
        .select(col("id").as("doc_id")), Seq("doc_id"), "left_semi")
      val survivors = Checkpoints.materialize(kept)
      val verdict = IncrementalDedup.exactAgainst(IncrementalDedup.digestState(survivors), increment)
      val fresh = Checkpoints.materialize(increment.join(
        verdict.filter(col("keep")).select("doc_id"), Seq("doc_id"), "left_semi"))
      (survivors, fresh)
    }
    ledger.op("publish", "commit")(Publish.publish(
      survivors.select("doc_id", "text").unionByName(fresh.select("doc_id", "text")), curated,
      audit = d => Quality.assertUniqueKey(d, col("doc_id"), "curated corpus")))
    val base = s"$work/index/p$i"
    def vecs(df: DataFrame) = df.select(col("doc_id").as("vec_id"), col("embedding"))
    def docs(df: DataFrame) = df.select(col("doc_id"), col("text"))
    val ivf = ledger.op("ivf.build", "commit")(
      IvfIndex.build(spark, vecs(survivors), k = 8, iterations = 3, s"ivf_p$i", s"$base/ivf"))
    val bm0 = ledger.op("bm25.build", "commit")(
      Bm25Index.build(spark, docs(survivors), s"bm25_p$i", s"$base/bm25"))
    ledger.op("ivf.fold", "commit")(IvfIndex.append(spark, ivf, vecs(fresh), gen = 1))
    val bm = ledger.op("bm25.fold", "commit")(Bm25Index.append(spark, bm0, docs(fresh), gen = 1))._1
    val ivfOut = ivfQueries.map(q => ledger.op("ivf.query", "query")(ivfTopK(ivf, q)))
    val bmOut = bm25Queries.map { case (q, words) =>
      ledger.op("bm25.query", "query") {
        val terms = spark.createDataFrame(words.map(w => (q, w))).toDF("query_id", "word")
        Bm25Index.scoredTopK(spark, bm, terms, k).collect()
      }
    }
    if (ledger.traced) {
      ledger.note("materialize.live_rdds", spark.sparkContext.getPersistentRDDs.size)
      ledger.note("materialize.live_checkpoints", Checkpoints.liveCount(spark.sparkContext))
    }
    results = (ivfOut.flatten.map(r => Map("index" -> "ivf", "query_id" -> r.getLong(0),
        "rank" -> r.getLong(1), "doc_id" -> r.getLong(2), "score" -> r.getDouble(3))) ++
      bmOut.flatten.map(r => Map("index" -> "bm25", "query_id" -> r.getLong(0),
        "rank" -> r.getLong(1), "doc_id" -> r.getLong(2), "score" -> r.getLong(3))))
    previous = last
    last = Some((ivf, bm))
  }

  /** Drops a superseded round's stored indexes. */
  private def retire(ix: (IvfIndex.Stored, Bm25Index.Stored)): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS ${ix._1.listsTable}")
    spark.sql(s"DROP TABLE IF EXISTS ${ix._2.postingsTable}")
    TableStore.get.deleteTree(ix._1.basePath.stripSuffix("/ivf"))
  }

  override def afterPass(i: Int): Unit = {
    previous.foreach(retire)
    previous = None
    Publish.vacuumRetain(curated, keepLast = 1)
    Checkpoints.sweep(spark.sparkContext)
  }

  def finish(): Map[String, Any] = {
    val out = s"$work/out"
    val (ivf, bm) = last.get
    spark.table(ivf.listsTable).write.parquet(s"$out/plain/lists")
    spark.table(bm.postingsTable).write.parquet(s"$out/plain/postings")
    Publish.read(spark, curated).select("doc_id").write.parquet(s"$out/curated")
    Map("outputs" -> Map("out" -> out, "results" -> results),
      "space" -> Map("root" -> ivf.basePath.stripSuffix("/ivf"), "plain" -> s"$out/plain"))
  }
}
