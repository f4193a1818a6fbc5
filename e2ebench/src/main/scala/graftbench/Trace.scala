package graftbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener
import graft.io.TableIO

/** One timed interval. Times are epoch nanoseconds (see [[Clock]]) so that
  * benchmark spans and Spark's epoch-millisecond job events share one axis.
  * `parent` is resolved when the spans are written (innermost enclosing
  * span), because some spans open on Spark's stream-execution thread. */
final case class Span(id: Long, name: String, startNs: Long, endNs: Long,
    attrs: Map[String, Any]) {
  def seconds: Double = (endNs - startNs) / 1e9
}

object Clock {
  private val offset = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def nowNs: Long = System.nanoTime() + offset
  def msToNs(ms: Long): Long = ms * 1000000L
}

/** In-memory span recorder; written out once, when the run ends. */
final class Tracer(val runId: String) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0L

  def add(name: String, startNs: Long, endNs: Long, attrs: Map[String, Any] = Map.empty): Span =
    synchronized {
      nextId += 1
      val s = Span(nextId, name, startNs, endNs, attrs)
      spans += s
      s
    }

  def span[T](name: String, attrs: Map[String, Any] = Map.empty)(body: => T): T = {
    val t0 = Clock.nowNs
    try body finally add(name, t0, Clock.nowNs, attrs)
  }

  def all: Vector[Span] = synchronized(spans.toVector)

  /** Spans inside [from, to]. */
  def within(from: Long, to: Long): Vector[Span] =
    all.filter(s => s.startNs >= from && s.endNs <= to)

  /** JSON lines: (run_id, id, parent, name, start_ns, end_ns, attrs). */
  def jsonLines: Seq[String] = {
    val ss = all
    ss.map { s =>
      val parent = ss.filter(p => p.id != s.id && p.startNs <= s.startNs && p.endNs >= s.endNs &&
          (p.endNs - p.startNs) > (s.endNs - s.startNs))
        .sortBy(p => p.endNs - p.startNs).headOption.map(_.id).getOrElse(0L)
      Json.obj(Seq("run_id" -> runId, "id" -> s.id, "parent" -> parent, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs, "attrs" -> s.attrs))
    }
  }
}

/** Wraps the storage seam the jobs are handed, recording a span around
  * every call. Only the traced calls get it; untraced calls use the plain
  * [[graft.io.ParquetTableIO]]. */
final class TracingTableIO(inner: TableIO, tracer: Tracer) extends TableIO {
  override def readTable(spark: SparkSession, name: String): DataFrame =
    tracer.span("io.readTable", Map("table" -> name))(inner.readTable(spark, name))
  override def appendTable(df: DataFrame, name: String): Unit =
    tracer.span("io.appendTable", Map("table" -> name))(inner.appendTable(df, name))
  override def overwritePartitions(df: DataFrame, name: String, partitionCol: String): Unit =
    tracer.span("io.overwritePartitions", Map("table" -> name))(
      inner.overwritePartitions(df, name, partitionCol))
  override def tableExists(spark: SparkSession, name: String): Boolean =
    tracer.span("io.tableExists", Map("table" -> name))(inner.tableExists(spark, name))
}

/** Task metrics summed per stage. */
final class StageAgg(val id: Int) {
  var tasks = 0
  var runMs, cpuNs, gcMs = 0L
  var outBytes = 0L
  var shWriteBytes, shWriteNs, shReadBytes, fetchWaitMs = 0L
}

final class JobRec(val id: Int, val startMs: Long, val stageIds: Seq[Int]) {
  var endMs = -1L
  def startNs: Long = Clock.msToNs(startMs)
  def endNs: Long = Clock.msToNs(endMs)
}

/** The benchmark's own SparkListener: job walls and task metrics, read
  * from outside the program. Registered only for traced calls. */
final class SparkCollector extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stages = mutable.HashMap.empty[Int, StageAgg]

  private def stage(id: Int) = stages.getOrElseUpdate(id, new StageAgg(id))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = new JobRec(e.jobId, e.time, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val s = stage(e.stageId)
      s.tasks += 1
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.outBytes += m.outputMetrics.bytesWritten
      s.shWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.shWriteNs += m.shuffleWriteMetrics.writeTime
      s.shReadBytes += m.shuffleReadMetrics.totalBytesRead
      s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
    }
  }

  /** Waits for the listener bus, then hands back and clears what was seen. */
  def drain(sc: SparkContext): (Vector[JobRec], Map[Int, StageAgg]) = {
    org.apache.spark.BusDrain(sc)
    synchronized {
      val out = (jobs.values.toVector, stages.toMap)
      jobs.clear(); stages.clear()
      out
    }
  }
}

/** One file scan of a finished query: its root paths, the bytes of the
  * files it read (Spark's `size of files read`) and the rows it produced. */
final case class Scan(roots: Seq[String], bytes: Long, rows: Long)

/** The file scans of every query that finished while registered. Scan
  * bytes come from the scan nodes' own metrics: the tasks' input metrics
  * report only a small share of the parquet bytes these scans read. A
  * streaming micro-batch scans inside its own incremental execution, which
  * this listener does not see; [[DropboxStream]] reads those plans itself. */
final class ScanCollector extends QueryExecutionListener {
  private val scans = mutable.ArrayBuffer.empty[Scan]

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized(scans ++= ScanCollector.scansOf(qe.executedPlan))
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  /** Waits for the listener bus, then hands back and clears what was seen. */
  def drain(sc: SparkContext): Vector[Scan] = {
    org.apache.spark.BusDrain(sc)
    synchronized { val out = scans.toVector; scans.clear(); out }
  }
}

object ScanCollector {
  def scansOf(p: SparkPlan): Seq[Scan] = p match {
    case a: AdaptiveSparkPlanExec => scansOf(a.executedPlan)
    case q: QueryStageExec => scansOf(q.plan)
    case f: FileSourceScanExec =>
      def m(n: String) = f.metrics.get(n).map(_.value).getOrElse(0L)
      Seq(Scan(f.relation.location.rootPaths.map(_.toUri.getPath), m("filesSize"), m("numOutputRows")))
    case other => (other.children ++ other.subqueries).flatMap(scansOf)
  }
}

/** Heap the program holds live: `liveMb` runs a full collection and reads
  * the heap that survived it. */
object HeapWatch {
  def liveMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
  def gcCount: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionCount).filter(_ > 0).sum
}
