package graft

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

import graft.operators.{ForwardingTableStore, LocalTableStore, Publish, TableStore, VersionedTable}
import org.apache.spark.sql.SparkSession

/** Two JVMs on one table root. Every other concurrency spec runs its
  * writers as threads of one JVM, where anything the process keeps
  * about a root is also invalidated in-process. Here the second writer
  * is a separate JVM started from the test classpath, so nothing this
  * JVM holds can hear about its commits.
  */
class SecondJvmSpec extends SparkSpec {

  private val spec = VersionedTable.Spec(Seq("n"), "id", 1 << 10)

  /** Run [[SecondJvmWriter]] in `mode` on `root` in a child JVM; its
    * output goes to a log that a failure message quotes.
    */
  private def runChild(root: String, mode: String = "recreate"): Unit = {
    val dir = tempDir("graft-2jvm-child")
    val log = dir.resolve("child.log").toFile
    // the module flags Spark needs on JDK 17, as this JVM was given them
    val args = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq
    val opens = args.zip(args.drop(1) :+ "").flatMap {
      case ("--add-opens", v) => Seq("--add-opens", v)
      case (a, _) if a.startsWith("--add-opens=") => Seq(a)
      case _ => Nil
    }
    val cmd = Seq(Paths.get(System.getProperty("java.home"), "bin", "java").toString) ++
      opens ++ Seq("-Xmx768m", "-Dspark.ui.enabled=false",
        s"-Dspark.sql.warehouse.dir=${dir.resolve("warehouse")}",
        "-cp", System.getProperty("java.class.path"),
        SecondJvmWriter.getClass.getName.stripSuffix("$"), root, mode)
    val p = new ProcessBuilder(cmd: _*).directory(dir.toFile)
      .redirectErrorStream(true).redirectOutput(log).start()
    val done = p.waitFor(240, TimeUnit.SECONDS)
    if (!done) p.destroyForcibly()
    def tail = Files.readAllLines(log.toPath).asScala.takeRight(40).mkString("\n")
    assert(done && p.exitValue() == 0,
      s"child JVM ${if (done) s"exited ${p.exitValue()}" else "timed out"}:\n$tail")
  }

  test("a table dropped and re-created by a second JVM reads as the new table") {
    import spark.implicits._
    val root = tempDir("graft-2jvm").toString + "/t"
    VersionedTable.create(spark,
      (0L until 50L).map(i => (i, i % 5)).toDF("id", "n"), root, spec)
    assert(VersionedTable.read(spark, root).count() == 50L)
    runChild(root)
    val got = VersionedTable.read(spark, root)
    assert(got.columns.toSeq == Seq("id", "label", "n"))
    assert(got.orderBy("id").as[(Long, String, Long)].collect().toSeq ==
      SecondJvmWriter.rows)
  }

  test("a child JVM that commits inside the parent's conditional commit wins; " +
    "the parent loses at the pointer swap") {
    import spark.implicits._
    val root = tempDir("graft-2jvm").toString + "/t"
    VersionedTable.create(spark,
      (0L until 50L).map(i => (i, i % 5)).toDF("id", "n"), root, spec)
    // the child appends while the parent's attempt sits between its
    // version's write and its pointer swap: the head the parent fences on
    // is still v00001 there, so only the conditional swap can refuse it
    val mroot = s"$root/manifest"
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    val hook = new ForwardingTableStore(LocalTableStore) {
      override def exists(p: String): Boolean = {
        if (p.startsWith(s"$mroot/v") && p.endsWith("/_SUCCESS") &&
            fired.compareAndSet(false, true))
          runChild(root, "append")
        super.exists(p)
      }
    }
    TableStore.set(hook)
    val lost =
      try intercept[Publish.PublishConflict] {
        VersionedTable.appendOcc(spark,
          (500L until 510L).map(i => (i, 9L)).toDF("id", "n"), root, spec,
          maxAttempts = 1)
      } finally TableStore.set(LocalTableStore)
    assert(fired.get, "the parent's commit never probed its _SUCCESS")
    assert(lost.expectedHead.contains("v00001") && lost.foundHead.contains("v00003"),
      lost.getMessage)
    assert(LocalTableStore.exists(s"$mroot/v00002.failed"),
      "the parent's attempt must be tombstoned")
    assert(VersionedTable.headVersion(root).contains("v00003"))
    assert(!LocalTableStore.listNames(mroot).exists(_.endsWith(".claim")),
      s"claims left: ${LocalTableStore.listNames(mroot)}")
    val ids = VersionedTable.read(spark, root).select("id").as[Long].collect().toSet
    assert(ids == ((0L until 50L) ++ SecondJvmWriter.appended.map(_._1)).toSet,
      s"read ${ids.size} ids")
  }
}

/** The second JVM of [[SecondJvmSpec]]. Mode `recreate` (`args(1)`)
  * drops the table at `args(0)` and re-creates it with other rows and
  * columns; mode `append` appends [[appended]] to it.
  */
object SecondJvmWriter {
  val rows: Seq[(Long, String, Long)] = (1000L until 1007L).map(i => (i, s"r$i", i * 2))
  val appended: Seq[(Long, Long)] = (2000L until 2005L).map(i => (i, i % 5))

  def main(args: Array[String]): Unit = {
    val spark = Sessions.tuned(
      SparkSession.builder().master("local[1]").appName("graft-second-jvm"),
      shufflePartitions = 1).getOrCreate()
    import spark.implicits._
    val root = args(0)
    val spec = VersionedTable.Spec(Seq("n"), "id", 1 << 10)
    args(1) match {
      case "recreate" =>
        TableStore.get.deleteTree(root)
        VersionedTable.create(spark, rows.toDF("id", "label", "n"), root, spec)
      case "append" =>
        VersionedTable.append(spark, appended.toDF("id", "n"), root, spec)
    }
    spark.stop()
  }
}
