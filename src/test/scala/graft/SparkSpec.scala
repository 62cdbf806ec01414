package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session via
  * getOrCreate; build.sbt forks tests).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = Sessions.tuned(
      SparkSession.builder().master("local[4]").appName("graft-test"),
      shufflePartitions = 4
    ).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sfSmoke = "/root/testdata/sf0.001"

  /** A fresh `<prefix><n>` directory under the per-JVM root, which one
    * shutdown hook deletes — a spec's fixtures never outlive its fork.
    */
  def tempDir(prefix: String): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory(operators.Checkpoints.root, prefix)
}
