package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators.VersionedTable

/** Randomized equivalence check for [[VersionedTable.merge]]: for
  * seeded random targets (WITH duplicate keys), sources, and clause
  * combinations, the merged table must equal an INDEPENDENT
  * restatement of SQL MERGE semantics computed as one left join +
  * filters + unions over plain DataFrames — no manifest, no DV, no
  * bloom probe. A routing bug, a key- vs row-granularity slip, a
  * binding-order dependence, or a DV/batch commit losing rows all
  * surface as a multiset difference on some seed.
  */
class MergePropertySpec extends SparkSpec {

  private val spec = VersionedTable.Spec(Seq("k"), "k", 1 << 13)

  /** SQL MERGE semantics, stated independently: every target row
    * pairs with its source match (left join); a matched row claimed
    * by the delete clause vanishes, claimed by the update clause
    * projects its SETs against the pre-update pair, otherwise copies
    * through; unmatched source rows insert under the insert condition.
    */
  private def expected(target: DataFrame, source: DataFrame,
                       delC: Column, updC: Column,
                       sets: Map[String, Column],
                       insert: Boolean, insC: Column): DataFrame = {
    val cols = target.columns.toSeq
    val src = source.columns.foldLeft(source)((d, c) =>
      d.withColumnRenamed(c, s"src_$c"))
      .withColumn("__mk", col("src_k").cast("string"))
      .withColumn("__has", lit(true))
    val pair = target.withColumn("__mk", col("k").cast("string"))
      .join(src, Seq("__mk"), "left")
    val matchedC = col("__has").isNotNull
    val d = coalesce(delC, lit(false))
    val u = coalesce(updC, lit(false))
    val kept = pair.filter(!matchedC || (!d && !u))
      .select(cols.map(col): _*)
    val updated = pair.filter(matchedC && !d && u)
      .select(cols.map(c => sets.get(c).map(_.as(c)).getOrElse(col(c))): _*)
    val inserts =
      if (!insert) None
      else Some(src.join(
          pair.filter(matchedC).select(col("__mk")).distinct(),
          Seq("__mk"), "left_anti")
        .filter(coalesce(insC, lit(false)))
        .select(cols.map(c => col(s"src_$c").as(c)): _*))
    (Seq(kept, updated) ++ inserts).reduce(_.unionByName(_))
  }

  private def multiset(df: DataFrame): Map[String, Long] =
    df.groupBy(df.columns.map(col): _*).agg(count(lit(1)).as("__n"))
      .collect()
      .map(r => r.toSeq.init.mkString("|") -> r.getLong(r.length - 1))
      .toMap

  test("merge equals the join-algebra restatement on seeded random inputs") {
    import spark.implicits._
    (1 to 5).foreach { seed =>
      val rnd = new scala.util.Random(seed * 7919)
      // target with DUPLICATE keys (SCD-like), source with distinct
      // keys straddling the target's range plus the odd NULL key
      val target = Seq.fill(60 + rnd.nextInt(80))(
        (rnd.nextInt(50).toLong, rnd.nextInt(40), rnd.nextInt(6)))
        .toDF("k", "v", "g")
      val srcKeys = rnd.shuffle((-15 until 65).toList)
        .take(25 + rnd.nextInt(25))
      val source = (srcKeys.map(k => (Option(k.toLong), rnd.nextInt(40))) ++
        Seq.fill(rnd.nextInt(3))((Option.empty[Long], rnd.nextInt(40))))
        .toDF("k", "v")
        .withColumn("g", lit(9))
      val mDel = 2 + rnd.nextInt(4)
      val mUpd = 2 + rnd.nextInt(3)
      val mIns = 2 + rnd.nextInt(4)
      val hasDel = rnd.nextBoolean()
      val hasUpd = rnd.nextBoolean() || !hasDel
      val hasIns = rnd.nextBoolean()
      val delC = col("src_v") % mDel === 0
      val updC = col("v") % mUpd =!= 0
      val insC = col("src_v") % mIns =!= 0
      val sets = Map("v" -> (col("v") + col("src_v")),
        "g" -> (col("src_g") + lit(1)))
      val root = tempDir(s"graft-mprop-$seed").toString
      VersionedTable.create(spark, target, root, spec)
      VersionedTable.merge(spark, root, spec, source,
        matchedUpdate = if (hasUpd) sets else Map.empty,
        matchedUpdateCond = if (hasUpd) Some(updC) else None,
        matchedDeleteCond = if (hasDel) Some(delC) else None,
        insertNotMatched = hasIns,
        notMatchedCond = if (hasIns) Some(insC) else None)
      val got = multiset(VersionedTable.read(spark, root))
      val want = multiset(expected(target, source,
        if (hasDel) delC else lit(false),
        if (hasUpd) updC else lit(false),
        sets, hasIns, insC))
      assert(got == want,
        s"seed=$seed del=$hasDel/$mDel upd=$hasUpd/$mUpd ins=$hasIns/$mIns: " +
          s"only-merge=${(got.toSet -- want.toSet).take(5)} " +
          s"only-expected=${(want.toSet -- got.toSet).take(5)}")
      operators.Checkpoints.deleteTree(java.nio.file.Paths.get(root))
    }
  }

  test("schema evolution on merge: defaults, NULL pre-images, refusal edges") {
    import spark.implicits._
    val root = tempDir("graft-mev").toString
    VersionedTable.create(spark,
      (0L until 40L).map(i => (i, i * 2)).toDF("k", "v"), root, spec)
    val src = Seq((1L, 100L, "a"), (50L, 500L, "b")).toDF("k", "v", "tag")
    // naming the new column in SET without the opt-in refuses
    val e = intercept[IllegalArgumentException] {
      VersionedTable.merge(spark, root, spec, src,
        matchedUpdate = Map("v" -> col("src_v"), "tag" -> col("src_tag")))
    }
    assert(e.getMessage.contains("unknown table column"))
    // without the opt-in and without naming it, the extra column is
    // IGNORED (SQL MERGE: only named columns participate)
    VersionedTable.merge(spark, root, spec, src,
      matchedUpdate = Map("v" -> col("src_v")))
    assert(!VersionedTable.read(spark, root).columns.contains("tag"))
    // with the opt-in: updated row takes the SET, inserted row takes
    // the source default, untouched rows read NULL
    val src2 = Seq((2L, 200L, "x"), (60L, 600L, "y")).toDF("k", "v", "tag")
    VersionedTable.merge(spark, root, spec, src2,
      matchedUpdate = Map("v" -> col("src_v"), "tag" -> col("src_tag")),
      allowEvolution = true)
    val got = VersionedTable.read(spark, root)
    assert(got.columns.contains("tag"))
    assert(got.filter(col("k") === 2L).select("tag").head().getString(0) == "x")
    assert(got.filter(col("k") === 60L).select("tag").head().getString(0) == "y")
    assert(got.filter(col("tag").isNull).count() == got.count() - 2,
      "every untouched row must read the evolved column as NULL")
    // an evolution column WITHOUT a SET: updated rows have no
    // pre-image and land NULL; inserts still take the source value
    val src3 = Seq((3L, 300L, "q", 7L), (70L, 700L, "r", 9L))
      .toDF("k", "v", "tag", "w")
    VersionedTable.merge(spark, root, spec, src3,
      matchedUpdate = Map("v" -> col("src_v")),
      allowEvolution = true)
    val g2 = VersionedTable.read(spark, root)
    assert(g2.filter(col("k") === 3L).select("w").head().isNullAt(0),
      "an updated row without a SET for the new column must read NULL")
    assert(g2.filter(col("k") === 70L).select("w").head().getLong(0) == 9L)
  }
}
