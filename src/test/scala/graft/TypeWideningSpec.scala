package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}
import graft.operators.{BucketTransform, PartitionTransform, VersionedTable}

/** Type widening: the claims the `layout_type_widening` hash gate
  * can't state — write-path upcasts for narrow AND wide batches, the
  * refusal edges (non-widening change, bloom key, transform source),
  * per-version width under time travel, rewrite materialization, and
  * the wide batch that is refused BEFORE the widen commit.
  */
class TypeWideningSpec extends SparkSpec {

  private val spec = VersionedTable.Spec(Seq("n"), "k", 1 << 13)

  private def narrowRows(lo: Int, hi: Int): DataFrame = {
    import spark.implicits._
    (lo until hi).map(i => (i.toLong, i)).toDF("k", "n")
  }

  private def wideRows(lo: Long, hi: Long): DataFrame = {
    import spark.implicits._
    (lo until hi).map(i => (i, i + 3000000000L)).toDF("k", "n")
  }

  private def tmp(p: String): String =
    tempDir(p).toString

  test("wide batches are refused before the widen commit, accepted after; narrow still accepted") {
    val root = tmp("graft-tw")
    VersionedTable.create(spark, narrowRows(0, 100), root, spec)
    val e = intercept[IllegalArgumentException] {
      VersionedTable.append(spark, wideRows(100, 110), root, spec)
    }
    assert(e.getMessage.contains("schema drift"),
      "a BIGINT batch against an INT column is drift until the widen commit")
    VersionedTable.widenColumn(spark, root, spec, "n", "bigint")
    assert(VersionedTable.read(spark, root).schema("n").dataType == LongType)
    VersionedTable.append(spark, wideRows(100, 110), root, spec)
    // narrow batches stay accepted: the write path upcasts them
    VersionedTable.append(spark, narrowRows(200, 210), root, spec)
    val got = VersionedTable.read(spark, root)
    assert(got.schema("n").dataType == LongType)
    assert(got.count() == 120L)
    assert(got.filter(col("n") >= 3000000000L).count() == 10L)
  }

  test("refusals: narrowing, cross-chain, bloom key, transform source") {
    val root = tmp("graft-tw-rf")
    import spark.implicits._
    val df = (0 until 50).map(i => (i.toLong, i, i.toFloat)).toDF("k", "n", "f")
    VersionedTable.create(spark, df, root, spec,
      layout = PartitionTransform.clusterLayout(4, Seq(BucketTransform(4, "n"))),
      transforms = Seq(BucketTransform(4, "n")))
    assert(intercept[IllegalArgumentException] {
      VersionedTable.widenColumn(spark, root, spec, "f", "int")
    }.getMessage.contains("not a safe widening"))
    assert(intercept[IllegalArgumentException] {
      VersionedTable.widenColumn(spark, root, spec, "k", "string")
    }.getMessage.contains("not a safe widening"))
    assert(intercept[IllegalArgumentException] {
      VersionedTable.widenColumn(spark, root, spec, "k", "bigint")
    }.getMessage.contains("not a safe widening"), "bigint->bigint is not a promotion")
    assert(intercept[IllegalArgumentException] {
      VersionedTable.widenColumn(spark, root, spec, "n", "bigint")
    }.getMessage.contains("transform source"))
    val root2 = tmp("graft-tw-rf2")
    VersionedTable.create(spark,
      (0 until 20).map(i => (i, s"v$i")).toDF("k", "v"), root2,
      VersionedTable.Spec(Seq("k"), "k", 1 << 13))
    assert(intercept[IllegalArgumentException] {
      VersionedTable.widenColumn(spark, root2,
        VersionedTable.Spec(Seq("k"), "k", 1 << 13), "k", "bigint")
    }.getMessage.contains("bloom key"))
  }

  test("time travel shows each version's own width; float chain widens too") {
    import spark.implicits._
    val root = tmp("graft-tw-tt")
    VersionedTable.create(spark,
      (0 until 30).map(i => (i.toLong, i.toFloat / 4)).toDF("k", "x"), root, spec.copy(statCols = Seq("k")))
    val v1 = VersionedTable.headVersion(root).get
    VersionedTable.widenColumn(spark, root, spec.copy(statCols = Seq("k")), "x", "double")
    assert(VersionedTable.read(spark, root).schema("x").dataType == DoubleType)
    assert(VersionedTable.readVersion(spark, root, v1).schema("x").dataType ==
      org.apache.spark.sql.types.FloatType,
      "the pre-widen version keeps its own width under time travel")
    // float pages upcast losslessly: float 0.25 reads back as double 0.25
    assert(VersionedTable.read(spark, root)
      .filter(col("k") === 1L).select("x").head().getDouble(0) == 0.25d)
  }

  test("a rewrite across mixed widths materializes the wide type") {
    val root = tmp("graft-tw-rw")
    VersionedTable.create(spark, narrowRows(0, 60), root, spec)
    VersionedTable.widenColumn(spark, root, spec, "n", "bigint")
    VersionedTable.append(spark, wideRows(60, 80), root, spec)
    VersionedTable.recluster(spark, root, spec,
      _.repartitionByRange(4, col("n")))
    val m = VersionedTable.manifest(spark, root)
    // post-recluster every file is one (wide) generation: the narrow
    // pages were read under the wide schema and rewritten as BIGINT
    val gens = m.select("file").collect().map(_.getString(0))
      .map(f => f.substring(0, f.lastIndexOf('/'))).distinct
    assert(gens.length == 1, s"recluster must leave one generation: ${gens.length}")
    val got = VersionedTable.read(spark, root)
    assert(got.schema("n").dataType == LongType && got.count() == 80L)
    assert(got.agg(sum("n")).head().getLong(0) ==
      (0L until 60L).sum + (60L until 80L).map(_ + 3000000000L).sum)
  }
}
