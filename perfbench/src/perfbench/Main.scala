package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.Sessions

/** One part of a workload: a closed loop of whole rounds against the program. */
trait Workload {
  /** Set-up attempt `k` (0, 1, 2): work that must precede the first round.
    * Every attempt does the whole set-up; the last one's state is used.
    */
  def setup(k: Int): Unit = ()
  /** One whole round; every call into the program goes through the ledger. */
  def pass(i: Int): Unit
  /** Bookkeeping between rounds (and, as round -1, before the first),
    * outside every timed and counted metric.
    */
  def afterPass(i: Int): Unit = ()
  /** The most rounds the generated inputs support. */
  def maxPasses: Int = Int.MaxValue
  /** After the last round, before its [[afterPass]]: writes the outputs
    * the checker reads and returns figures for the result. */
  def finish(): Map[String, Any]
}

/** JVM side of the benchmark: `perfbench.Main <workload> <inputs> <work>
  * <seconds> <trace 0|1>`. Starts one local session, sets the workload up
  * [[SetupAttempts]] times, runs the cold round and then steady rounds
  * until `seconds` have passed (at least one), and writes
  * `<work>/result.json`. A workload is one or more parts, each with its
  * own inputs and work directory, run one after another in every round.
  */
object Main {
  val SetupAttempts = 3

  def main(args: Array[String]): Unit = {
    val Array(workload, in, work, seconds, trace) = args
    val ledger = new Ledger(traced = trace == "1")
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = Sessions.tuned(
      SparkSession.builder().master(s"local[$cpus]").appName(s"perfbench-$workload")
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.driver.host", "127.0.0.1")
        .config("spark.driver.bindAddress", "127.0.0.1")
        // cached-block counts per task, for the staged views' attribution
        .config("spark.taskMetrics.trackUpdatedBlockStatuses", ledger.traced.toString),
      shufflePartitions = cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionMs = System.currentTimeMillis()
    ledger.attach(spark)
    def part(name: String): (String, Workload) = name -> {
      Files.createDirectories(Paths.get(s"$work/$name"))
      name match {
        case "etl_reports" => new EtlReports(spark, ledger, s"$in/$name", s"$work/$name")
        case "curation" => new Curation(spark, ledger, s"$in/$name", s"$work/$name")
        case "table_commits" => new TableCommits(spark, ledger, s"$in/$name", s"$work/$name")
      }
    }
    val parts = (workload match {
      case "etl_curation" => Seq("etl_reports", "curation")
      case other => Seq(other)
    }).map(part)
    val setupMs = (0 until SetupAttempts).map { k =>
      val t0 = ledger.nowMs
      parts.foreach(_._2.setup(k))
      ledger.nowMs - t0
    }
    parts.foreach(_._2.afterPass(-1))

    ledger.pass(0, "cold", spark)(parts.foreach(_._2.pass(0)))
    parts.foreach(_._2.afterPass(0))
    val maxPasses = parts.map(_._2.maxPasses).min
    val t0 = System.nanoTime()
    var i = 1
    var extra = Map.empty[String, Any]
    while (extra.isEmpty) {
      ledger.pass(i, "steady", spark)(parts.foreach(_._2.pass(i)))
      // the last round's outputs are checked before its bookkeeping runs
      if (System.nanoTime() - t0 >= seconds.toLong * 1000000000L || i + 1 >= maxPasses)
        extra = Map("parts" -> parts.map { case (n, w) => n -> w.finish() }.toMap)
      parts.foreach(_._2.afterPass(i))
      i += 1
    }
    val rssKb = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)
    org.apache.spark.PerfbenchBridge.drainListenerBus(spark.sparkContext)
    val json = ledger.json(extra ++ Map(
      "cpus" -> cpus,
      "jvm_start_ms" -> ManagementFactory.getRuntimeMXBean.getStartTime,
      "session_ms" -> sessionMs,
      "setup_ms" -> setupMs,
      "peak_rss_mb" -> rssKb / 1024.0))
    spark.stop()
    Files.write(Paths.get(s"$work/result.json"), json.getBytes("UTF-8"))
  }
}
