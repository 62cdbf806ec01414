package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Deterministic distributed k-means (Lloyd's algorithm) over an
  * `array<float|double>` embedding column — the "train" step for the IVF
  * index (Similarity.ivfTopK takes the centroids).
  *
  * Bit-determinism under ANY partitioning: the per-cluster mean is
  * computed with the fixed-point trick — each component is scaled by 10^6
  * and rounded to a long, summed with `vec_sum` (associative integer
  * adds, so partial-aggregation order cannot change the result), divided
  * once at the end. Initial centroids are the k lowest-id vectors; same
  * inputs → same centroids on 1 core or 1000 executors.
  *
  * Per iteration: one broadcast of k centroids + one corpus scan + one
  * k-group aggregate — no driver-side data beyond the k×dim centroid
  * matrix.
  */
object KMeans {

  /** (cid, centroid) DataFrame from trained centroids — one definition so
    * fit/probe/assign cannot drift schemas.
    */
  private def centroidsDF(spark: org.apache.spark.sql.SparkSession,
                          centroids: Seq[(Int, Array[Double])]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(centroids.map { case (cid, c) => Row(cid, c.toSeq) }, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("cid",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("centroid",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType, containsNull = false), nullable = false))))


  private val Scale = 1e6

  /** Nearest centroid as ONE native expression over a baked-in centroid
    * matrix (functions.NearestCentroid) — zero shuffle, zero join. The
    * crossJoin+window alternative shuffles N×k rows per call — at 1B
    * vectors × k=1024 that is 10¹² rows across the wire; this is the
    * 100 TB shape. d2 is the same left fold (`init 0.0, (x-y)²` in
    * array order) the DuckDB oracle replays and ties keep the lowest
    * cid (strict-< first-min), so bit-parity is preserved — asserted
    * against [[nearestHof]] in KMeansSpec. The native form replaced the
    * composed-HOF fold because interpreted per-element boxing made the
    * k×dim scoring dominate fit (measured 4.7 s → 1.7 s for 3 Lloyd
    * iterations at sf0.1).
    */
  private def nearest(centroids: Seq[(Int, Array[Double])]): Column = {
    val sorted = centroids.sortBy(_._1)
    require(sorted.zipWithIndex.forall { case ((cid, _), i) => cid == i },
      "nearest: centroid ids must be dense 0..k-1")
    call_function("nearest_centroid", col("v"),
      array(sorted.map { case (_, c) => array(c.toIndexedSeq.map(lit(_)): _*) }: _*))
  }

  /** The composed-HOF reference form of [[nearest]] (oracle-shaped),
    * kept for the bitwise-equivalence spec like cosineHof.
    */
  private[graft] def nearestHof(centroids: Seq[(Int, Array[Double])]): Column = {
    val arr = array(centroids.sortBy(_._1).map { case (cid, c) =>
      struct(lit(cid).as("cid"), array(c.toIndexedSeq.map(lit(_)): _*).as("c"))
    }: _*)
    val scored = transform(arr, ctr => struct(
      aggregate(zip_with(col("v"), ctr.getField("c"), (x, y) => (x - y) * (x - y)),
        lit(0.0), _ + _).as("d2"),
      ctr.getField("cid").as("cid")))
    aggregate(
      slice(scored, 2, centroids.size - 1),
      element_at(scored, 1),
      (best, x) => when(x.getField("d2") < best.getField("d2"), x).otherwise(best))
  }

  /** @return (cluster_id, centroid) rows, cluster_id = 0..k-1 */
  def fit(vectors: DataFrame, k: Int, iterations: Int,
          idCol: String = "vec_id", vecCol: String = "embedding"): Seq[(Int, Array[Double])] = {
    Checkpoints.withPersisted(vectors
      .select(col(idCol).as("id"), transform(col(vecCol), _.cast("double")).as("v"))) { corpus =>
      var centroids: Seq[(Int, Array[Double])] =
        corpus.orderBy(col("id").asc_nulls_first).limit(k).collect()
          .zipWithIndex.map { case (r, i) => i -> r.getSeq[Double](1).toArray }.toSeq

      (1 to iterations).foreach { _ =>
        // assign: shuffle-free nearest-centroid expression; then
        // recompute: fixed-point component sums via vec_sum → exact mean.
        // Per iteration: one cached-corpus scan + one k-group aggregate.
        val sums = corpus
          .withColumn("cid", nearest(centroids).getField("cid"))
          .withColumn("vfp", expr(s"transform(v, x -> CAST(round(x * $Scale) AS BIGINT))"))
          .groupBy("cid")
          .agg(expr("vec_sum(vfp)").as("s"), count(lit(1)).as("n"))
          .collect()
        val updated = sums.map { r =>
          val cid = r.getInt(0)
          val s = r.getSeq[Long](1)
          val n = r.getLong(2)
          cid -> s.map(x => (x.toDouble / n) / Scale).toArray
        }.toMap
        // empty clusters keep their previous centroid
        centroids = centroids.map { case (cid, c) => cid -> updated.getOrElse(cid, c) }
      }
      centroids
    }
  }

  /** Top-`nprobe` nearest centroids per vector (the IVF probe set),
    * ranked; keeps the vector column as `v`. nprobe=1 (the whole-corpus
    * list-build side) takes the shuffle-free [[nearest]] expression;
    * nprobe>1 (typically only the small query side) keeps the
    * crossJoin+window form, whose N×k cost is paid on queries, not the
    * corpus.
    */
  def probe(vectors: DataFrame, centroids: Seq[(Int, Array[Double])], nprobe: Int,
            idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val corpus = vectors.select(col(idCol), transform(col(vecCol), _.cast("double")).as("v"))
    if (nprobe == 1)
      corpus.withColumn("cid", nearest(centroids).getField("cid"))
        .select(col(idCol), col("v"), col("cid"))
    else {
      val cdf = centroidsDF(vectors.sparkSession, centroids)
      LatestPerKey.topKRanked(
        corpus.crossJoin(broadcast(cdf))
          .withColumn("d2", aggregate(
            zip_with(col("v"), col("centroid"), (x, y) => (x - y) * (x - y)),
            lit(0.0), _ + _)),
        nprobe, Seq(col(idCol)),
        Seq(col("d2").asc_nulls_last, col("cid").asc_nulls_first))
        .select(col(idCol), col("v"), col("cid"))
    }
  }

  /** Assign each vector to its nearest trained centroid — shuffle-free. */
  def assign(vectors: DataFrame, centroids: Seq[(Int, Array[Double])],
             idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val n = nearest(centroids)
    vectors.select(col(idCol), transform(col(vecCol), _.cast("double")).as("v"))
      .withColumn("nearest", n)
      .select(col(idCol), col("nearest.cid").as("cid"), col("nearest.d2").as("d2"))
  }

  /** [[assign]] keeping the vector AND the squared-L2 residual — the
    * stored-list row shape the IVF index persists (`v` for exact
    * in-list scoring, `d2` for the drift metric). Same shuffle-free
    * nearest-centroid expression; same strict-< first-min tie rule.
    */
  def assignFull(vectors: DataFrame, centroids: Seq[(Int, Array[Double])],
                 idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    vectors.select(col(idCol), transform(col(vecCol), _.cast("double")).as("v"))
      .withColumn("nearest", nearest(centroids))
      .select(col(idCol), col("v"), col("nearest.cid").as("cid"), col("nearest.d2").as("d2"))
}
