package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

import graft.operators.{ForwardingTableStore, TableStore}

/** Counts every control-plane call the engine makes, by class. */
final class CountingStore(d: TableStore) extends ForwardingTableStore(d) {
  val read, write, list, swap = new java.util.concurrent.atomic.AtomicLong
  private def r[T](f: => T): T = { read.incrementAndGet(); f }
  private def w[T](f: => T): T = { write.incrementAndGet(); f }
  override def exists(p: String): Boolean = r(super.exists(p))
  override def isDirectory(p: String): Boolean = r(super.isDirectory(p))
  override def readString(p: String): String = r(super.readString(p))
  override def size(p: String): Long = r(super.size(p))
  override def lastModifiedMs(p: String): Long = r(super.lastModifiedMs(p))
  override def listNames(p: String): Seq[String] = { list.incrementAndGet(); super.listNames(p) }
  override def writeString(p: String, c: String): Unit = w(super.writeString(p, c))
  override def createDirectories(p: String): Unit = w(super.createDirectories(p))
  override def createMarker(p: String): Unit = w(super.createMarker(p))
  override def deleteIfExists(p: String): Boolean = w(super.deleteIfExists(p))
  override def deleteTree(p: String): Unit = w(super.deleteTree(p))
  override def rename(s: String, t: String): Unit = w(super.rename(s, t))
  override def createExclusive(p: String): Boolean = w(super.createExclusive(p))
  override def atomicSwap(t: String, d: String): Unit = { swap.incrementAndGet(); super.atomicSwap(t, d) }
  override def swapIfContentIs(t: String, d: String, e: Option[String]): Boolean = {
    swap.incrementAndGet(); super.swapIfContentIs(t, d, e)
  }
}

/** One job as the scheduler reported it, with its tasks' metrics summed,
  * its SQL execution (-1 outside SQL) and the layer its call site names
  * (see [[Ledger.layers]]).
  */
final class JobRec(val id: Int, val start: Long, val exec: Long, val layer: String) {
  var end = -1L
  var tasks, runMs, cpuNs, shuffleWrite, spill, bytesRead, bytesWritten, cachedBlocks = 0L
}

/** A timed call into one layer of the program. `kind` is `commit`, `read`
  * or `query` for the calls whose latency is an end-to-end sample, and
  * `span` for a layer boundary that only groups its children.
  */
final case class Span(id: Int, parent: Int, name: String, kind: String, pass: Int,
                      start: Double, end: Double, c0: Array[Long], c1: Array[Long])

/** In-memory ledger of everything the benchmark observes: a SparkListener
  * (jobs, tasks, SQL executions), a QueryExecutionListener (planning-phase
  * times, traced runs only), the counting TableStore, process counters
  * read from the JVM's management beans, and the spans the benchmark takes
  * around its calls into the program. Nothing is written until [[json]]
  * at the end.
  */
final class Ledger(val traced: Boolean) extends SparkListener {
  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageJob = mutable.HashMap[Int, JobRec]()
  private val plans = mutable.ArrayBuffer[(Long, Long)]()
  private val spans = mutable.ArrayBuffer[Span]()
  private val notes = mutable.ArrayBuffer[(Int, String, Double)]()
  private val execLayer = mutable.HashMap[Long, String]()
  private val stack = mutable.Stack[Int]()
  private var currentPass = -1
  private var nextId = 0
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer[String]()

  val store = new CountingStore(TableStore.get)
  TableStore.set(store)

  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val jit = ManagementFactory.getCompilationMXBean

  val counterNames: Seq[String] =
    Seq("cpu_ns", "gc_ms", "jit_ms", "store_read", "store_write", "store_list", "store_swap")
  def counters(): Array[Long] = Array(
    os.getProcessCpuTime, gcs.map(_.getCollectionTime).sum, jit.getTotalCompilationTime,
    store.read.get, store.write.get, store.list.get, store.swap.get)

  /** Layers inside one call of the program, told apart by call site:
    * (stack-frame prefix, layer). A job belongs to the layer of the
    * outermost matching frame of the call stack that started its SQL
    * execution (or, outside SQL, of its result stage), so layers that one
    * public function runs one after another are attributed without
    * calling them one by one.
    */
  @volatile var layers: Seq[(String, String)] = Nil

  private def layerOf(stack: String): String =
    stack.split("\n").reverseIterator.map(_.trim)
      .flatMap(f => layers.collectFirst { case (prefix, l) if f.startsWith(prefix) => l })
      .nextOption().getOrElse("")

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    if (traced) spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = plan(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = plan(qe)
    })
  }

  private def plan(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases.values
    if (ph.nonEmpty) synchronized {
      plans += ((ph.map(_.startTimeMs).min, ph.map(p => p.endTimeMs - p.startTimeMs).sum))
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized { execLayer(s.executionId) = layerOf(s.details) }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    val layer = execLayer.getOrElse(exec,
      if (e.stageInfos.isEmpty) "" else layerOf(e.stageInfos.maxBy(_.stageId).details))
    val j = new JobRec(e.jobId, e.time, exec, layer)
    jobs(e.jobId) = j
    e.stageIds.foreach(stageJob(_) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
      j.tasks += 1
      j.runMs += m.executorRunTime
      j.cpuNs += m.executorCpuTime
      j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      j.spill += m.diskBytesSpilled
      j.bytesRead += m.inputMetrics.bytesRead
      j.bytesWritten += m.outputMetrics.bytesWritten
      j.cachedBlocks += m.updatedBlockStatuses.count(_._1.isRDD)
    }
  }

  private def timed[T](name: String, kind: String)(f: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack.push(id)
    val c0 = counters()
    val t0 = nowMs
    try f
    finally {
      val t1 = nowMs
      stack.pop()
      spans += Span(id, parent, name, kind, currentPass, t0, t1, c0, counters())
    }
  }

  /** A layer boundary: groups the calls made inside it. */
  def span[T](name: String)(f: => T): T = timed(name, "span")(f)

  /** One operation: a call whose latency is an end-to-end sample. */
  def op[T](name: String, kind: String)(f: => T): T = {
    attempted += 1
    timed(name, kind)(f)
  }

  /** An operation kept outside every pass, timing and count: it is
    * attempted every round and its failure is recorded, not raised.
    */
  def untimedOp(name: String)(f: => Unit): Unit = {
    attempted += 1
    try f
    catch {
      case e: Exception =>
        failed += 1
        if (failures.size < 3)
          failures += s"$name: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
    }
  }

  /** One whole round of the workload. The listener bus drains before the
    * next round starts, so the round's job records are complete.
    */
  def pass(index: Int, phase: String, spark: SparkSession)(f: => Unit): Unit = {
    currentPass = index
    timed("pass", phase)(f)
    currentPass = -1
    PerfbenchBridge.drainListenerBus(spark.sparkContext)
  }

  /** A per-layer figure observed directly (traced runs). */
  def note(key: String, value: Double): Unit = notes += ((currentPass, key, value))

  def json(extra: Map[String, Any]): String = synchronized {
    Json.write(extra ++ Map(
      "counter_names" -> counterNames,
      "attempted" -> attempted, "failed" -> failed, "failures" -> failures.toSeq,
      "spans" -> spans.toSeq.map(s => Map(
        "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "kind" -> s.kind,
        "pass" -> s.pass, "start" -> s.start, "end" -> s.end,
        "c0" -> s.c0.toSeq, "c1" -> s.c1.toSeq)),
      "jobs" -> jobs.values.toSeq.map(j => Seq(j.id, j.start, j.end, j.tasks, j.runMs,
        j.cpuNs, j.shuffleWrite, j.spill, j.bytesRead, j.bytesWritten, j.cachedBlocks, j.layer, j.exec)),
      "plans" -> plans.toSeq.map { case (s, d) => Seq(s, d) },
      "notes" -> notes.toSeq.map { case (p, k, v) => Seq(p, k, v) }))
  }
}

/** Minimal JSON writer for the ledger's maps, sequences and numbers. */
object Json {
  def write(v: Any): String = {
    val b = new StringBuilder
    def str(s: String): Unit = {
      b += '"'
      s.foreach {
        case '"' => b ++= "\\\""
        case '\\' => b ++= "\\\\"
        case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
        case c => b += c
      }
      b += '"'
    }
    def go(x: Any): Unit = x match {
      case null | None => b ++= "null"
      case Some(y) => go(y)
      case s: String => str(s)
      case d: Double => b ++= (if (d.isNaN || d.isInfinite) "null" else d.toString)
      case f: Float => go(f.toDouble)
      case n: Int => b ++= n.toString
      case n: Long => b ++= n.toString
      case t: Boolean => b ++= t.toString
      case m: scala.collection.Map[_, _] =>
        b += '{'
        m.iterator.zipWithIndex.foreach { case ((k, y), i) =>
          if (i > 0) b += ','
          str(k.toString); b += ':'; go(y)
        }
        b += '}'
      case s: Iterable[_] =>
        b += '['
        s.iterator.zipWithIndex.foreach { case (y, i) => if (i > 0) b += ','; go(y) }
        b += ']'
      case a: Array[_] => go(a.toSeq)
      case other => str(other.toString)
    }
    go(v)
    b.toString
  }
}
