package graft

import java.nio.file.{Files, Paths}

import graft.operators.Footers
import graft.sources.Tables
import org.apache.spark.sql.Row

/** Driver-side parquet reads (`Footers`) against what Spark's own
  * reader makes of the same files: the schema of files other writers
  * produced (the pyarrow-written test tables) and of a directory of several
  * part files, and the rows of the engine's small artifacts.
  */
class FootersSpec extends SparkSpec {

  test("schemaOf equals Spark's inferred schema on every sf0.001 table " +
    "and on a directory of several part files") {
    Tables.names.foreach { n =>
      val p = s"$sfSmoke/$n.parquet"
      assert(Footers.schemaOf(spark, p) == spark.read.parquet(p).schema, n)
    }
    val dir = tempDir("graft-footers")
    Seq("part-00000.parquet", "part-00001.parquet", "part-00002.parquet").foreach(f =>
      Files.copy(Paths.get(s"$sfSmoke/events.parquet"), dir.resolve(f)))
    assert(Footers.schemaOf(spark, dir.toString) == spark.read.parquet(dir.toString).schema)
    assert(Footers.read(spark, dir.toString).count() ==
      3 * spark.read.parquet(s"$sfSmoke/events.parquet").count())
  }

  test("rowsOf returns the rows Spark's reader collects: NULLs, arrays, several files") {
    import spark.implicits._
    val p = tempDir("graft-footers").toString + "/t"
    Seq[(Int, Option[Long], Double, Option[String], Boolean, Seq[Double],
        Option[Seq[Option[Double]]])](
        (0, Some(7L), 0.5, Some("a"), true, Seq(1.0, -2.5), Some(Seq(Some(1.0), None))),
        (1, None, -1.0, None, false, Nil, None),
        (2, Some(Long.MaxValue), 3.25, Some("ü"), true, Seq(0.0), Some(Nil)),
        (3, Some(1L), 0.0, Some("z"), false, Seq(4.0, 5.0, 6.0), Some(Seq(Some(-0.5)))))
      .toDF("cid", "n", "x", "s", "b", "dense", "sparse")
      .repartition(3)
      .write.parquet(p)
    def key(rs: Array[Row]) = rs.map(r => r.toSeq.map {
      case s: scala.collection.Seq[_] => s.toList
      case v => v
    }).sortBy(_.head.asInstanceOf[Int]).toSeq
    val got = Footers.rowsOf(spark, p)
    assert(key(got) == key(spark.read.parquet(p).collect()))
    assert(got.head.schema == spark.read.parquet(p).schema)
  }
}
