package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.Comparator
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Row, SparkSession}
import graft.io.{ParquetTableIO, TableIO}

/** Metric names; BENCHMARK.json lists the same ones. */
object MetricNames {
  val endToEnd: Seq[(String, String)] = Seq(
    "docs_per_s" -> "1/s", "files_per_kdoc" -> "count", "out_bytes_per_doc" -> "bytes",
    "doc_error_share" -> "share", "heap_peak_mb" -> "MB")

  val perLayer: Seq[(String, String)] = Seq(
    "io.results_write_s" -> "s", "io.commit_s" -> "s", "io.files_written" -> "count",
    "io.bytes_written" -> "bytes", "io.readback_bytes" -> "bytes", "io.readback_s" -> "s",
    "io.append_s" -> "s", "streaming.batch_s" -> "s", "streaming.batches" -> "count",
    "sources.scan_bytes" -> "bytes", "sources.scan_records" -> "count",
    "sources.input_passes" -> "count",
    "shuffle.write_bytes" -> "bytes", "shuffle.read_bytes" -> "bytes",
    "shuffle.write_s" -> "s", "shuffle.fetch_wait_s" -> "s",
    "extract.df_noop_s" -> "s", "extract.ns_per_doc.html" -> "ns",
    "extract.ns_per_doc.pdf" -> "ns", "extract.ns_per_doc.media" -> "ns",
    "extract.ns_per_doc.malformed" -> "ns",
    "html.tokenize_ns_per_doc" -> "ns", "html.dom_ns_per_doc" -> "ns",
    "html.extract_ns_per_doc" -> "ns", "pdf.parse_ns_per_doc" -> "ns", "pdf.pages_per_s" -> "1/s",
    "metrics.normalize_ns_per_doc" -> "ns", "metrics.cer_ns_per_doc" -> "ns",
    "metrics.wer_ns_per_doc" -> "ns", "metrics.seqsim_ns_per_doc" -> "ns",
    "metrics.table_ns_per_doc" -> "ns", "metrics.evaluate_ns_per_doc" -> "ns",
    "jobs.eval_tasks" -> "count", "jobs.eval_busy_share" -> "share",
    "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.executor_run_s" -> "s",
    "spark.executor_cpu_s" -> "s", "spark.gc_s" -> "s", "spark.busy_share" -> "share",
    "spark.job_wall_s" -> "s", "spark.driver_gap_s" -> "s", "trace.overhead_share" -> "share")
}

final case class Opts(
    workload: String = "", seed: Long = 0L, seconds: Double = 10, trace: Boolean = false,
    root: String = "", cores: Int = 0, setupMarker: String = "",
    corrupt: Boolean = false, spansOut: String = "")

/** Benchmark JVM. `run.py` is its launcher: it builds the jar, makes the
  * run's temp root, times set-up and prints the result line. */
object Main {
  private def log(msg: String): Unit = System.err.println(s"[e2ebench] $msg")
  // warm-up: at least this many untimed calls and seconds; one call left
  // the next calls measurably faster still
  private val WarmUpCalls = 2
  private val WarmUpS = 4.0

  def parse(argv: List[String], o: Opts = Opts()): Opts = argv match {
    case "--workload" :: v :: t => parse(t, o.copy(workload = v))
    case "--seed" :: v :: t => parse(t, o.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, o.copy(seconds = v.toDouble))
    case "--trace" :: v :: t => parse(t, o.copy(trace = v == "1"))
    case "--root" :: v :: t => parse(t, o.copy(root = v))
    case "--cores" :: v :: t => parse(t, o.copy(cores = v.toInt))
    case "--setup-marker" :: v :: t => parse(t, o.copy(setupMarker = v))
    case "--corrupt" :: t => parse(t, o.copy(corrupt = true))
    case "--spans-out" :: v :: t => parse(t, o.copy(spansOut = v))
    case Nil => o
    case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
  }

  def session(o: Opts): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName("e2ebench")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", Paths.get(o.root, "spark-local").toString)
      .config("spark.sql.warehouse.dir", Paths.get(o.root, "spark-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1).count() // first trivial action: set-up ends here
    spark
  }

  def main(argv: Array[String]): Unit = {
    val o = parse(argv.toList)
    require(o.cores > 0 && o.root.nonEmpty && o.setupMarker.nonEmpty, "need --cores, --root, --setup-marker")
    val spark = session(o)
    Files.writeString(Paths.get(o.setupMarker), System.currentTimeMillis().toString)
    try run(o, spark) finally spark.stop()
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val st = Files.walk(p)
    try st.sorted(Comparator.reverseOrder[Path]()).iterator.asScala.foreach(Files.delete)
    finally st.close()
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }

  /** Alters one row of a written table in place (the `--corrupt` mode that
    * proves the output checks bite). */
  def corrupt(spark: SparkSession, table: Path, column: String): Unit = {
    val file = Workloads.dataFiles(table).sortBy(_.toString)
      .find(f => spark.read.parquet(f.toString).count() > 0)
      .getOrElse(throw new IllegalStateException(s"no rows to corrupt in $table"))
    val df = spark.read.parquet(file.toString)
    val rows = df.collect()
    val i = df.schema.fieldIndex(column)
    val first = rows.head.toSeq.toArray
    first(i) = first(i) match {
      case s: String => s + "~"
      case d: Double => d + 0.5
      case other => throw new IllegalStateException(s"cannot corrupt $column = $other")
    }
    val tmp = table.resolveSibling("corrupt-tmp")
    spark.createDataFrame((Row.fromSeq(first.toSeq) +: rows.tail.toSeq).asJava, df.schema)
      .coalesce(1).write.parquet(tmp.toString)
    Files.delete(file)
    Files.deleteIfExists(file.resolveSibling("." + file.getFileName + ".crc"))
    Files.move(Workloads.dataFiles(tmp).head, file)
    deleteTree(tmp)
    log(s"corrupted column $column of one row in $file")
  }

  final case class CallOut(traced: Boolean, wall: Double, docs: Long, ok: Boolean,
      files: Int, bytes: Long, docErrors: Long, liveMb: Double, props: Map[String, Any],
      layers: Map[String, Double])

  /** One closed-loop call with its check. A traced call runs with the
    * benchmark's listeners and the tracing storage wrapper, and returns its
    * per-layer numbers. */
  final class Caller(o: Opts, spark: SparkSession, w: Workload, tracer: Tracer) {
    private val collector = new SparkCollector
    private val scanCollector = new ScanCollector
    private var k = 0

    def outDir(): Path = { k += 1; Files.createDirectories(Paths.get(o.root, s"calls/$k")) }
    def plainIo(out: Path): TableIO = new ParquetTableIO(w.tablesDir(out).toString)

    def warmUp(): Double = {
      val out = outDir()
      try w.call(out, plainIo(out), None, warm = true) finally deleteTree(out)
    }

    def apply(traced: Boolean, corruptIt: Boolean): CallOut = {
      val out = outDir()
      val io = if (traced) new TracingTableIO(plainIo(out), tracer) else plainIo(out)
      if (traced) {
        spark.sparkContext.addSparkListener(collector)
        spark.listenerManager.register(scanCollector)
      }
      // flush the writes and deletes of set-up and earlier calls, and start
      // every call from a collected heap; the collection after the call
      // gives the heap the call left live
      new ProcessBuilder("sync").inheritIO().start().waitFor()
      HeapWatch.liveMb()
      val t0 = Clock.nowNs
      val wall = try Some(w.call(out, io, if (traced) Some(tracer) else None, warm = false))
        catch { case e: Throwable => log(s"call $k threw: $e"); None }
      val t1 = Clock.nowNs
      val live = HeapWatch.liveMb()
      val layers = if (!traced) Map.empty[String, Double] else {
        spark.sparkContext.removeSparkListener(collector)
        spark.listenerManager.unregister(scanCollector)
        val (jobs, stages) = collector.drain(spark.sparkContext)
        val scans = scanCollector.drain(spark.sparkContext)
        val callSpan = tracer.add("call." + w.name, t0, t1, Map("call" -> k))
        jobs.foreach(j => tracer.add("spark.job", j.startNs, j.endNs,
          Map("job" -> j.id, "stages" -> j.stageIds)))
        LayerLedger(w, out, callSpan, jobs, stages, scans, tracer, o.cores)
      }
      if (corruptIt && wall.isDefined) {
        val (table, column) = w.corruptTarget(out)
        corrupt(spark, table, column)
      }
      val files = Workloads.dataFiles(w.tablesDir(out))
      val bytes = Workloads.bytesOf(files)
      val checked = wall.map(_ => try w.check(out) catch {
        case e: Throwable => Checked(Seq(s"check threw: $e"), 0L)
      }).getOrElse(Checked(Seq("call failed"), 0L))
      checked.failures.foreach(f => log(s"call $k check failed: $f"))
      log(f"call $k${if (traced) " (traced)" else ""}: ${wall.getOrElse(Double.NaN)}%.2f s, " +
        f"checked after ${(Clock.nowNs - t1) / 1e9}%.2f s")
      deleteTree(out)
      CallOut(traced, wall.getOrElse((t1 - t0) / 1e9), w.docsPerCall, checked.failures.isEmpty,
        files.length, bytes, checked.docErrors, live, checked.props, layers)
    }
  }

  def run(o: Opts, spark: SparkSession): Unit = {
    val w = Workloads(o.workload, new Ctx(spark, Paths.get(o.root), o.seed, o.cores))
    val tracer = new Tracer(java.util.UUID.randomUUID().toString)
    val tPrep = System.nanoTime()
    w.prepare()
    log(f"${w.name}: inputs ready in ${(System.nanoTime() - tPrep) / 1e9}%.1f s, ${w.docsPerCall} docs per call")
    val caller = new Caller(o, spark, w, tracer)

    // untimed warm-up calls (JIT, class loading, first-use caches)
    val warmed = mutable.ArrayBuffer.empty[Double]
    while (warmed.length < WarmUpCalls || warmed.sum < WarmUpS) {
      warmed += caller.warmUp()
      log(f"warm-up call ${warmed.last}%.2f s")
    }

    // closed loop, one client: each call starts when the previous one ends.
    // The traced run alternates untraced and traced calls, to price tracing.
    val calls = mutable.ArrayBuffer.empty[CallOut]
    val tStart = System.nanoTime()
    def timed = calls.map(_.wall).sum
    while (calls.isEmpty || (o.trace && !calls.exists(_.traced)) ||
        (timed < o.seconds && (System.nanoTime() - tStart) / 1e9 < 4 * o.seconds + 60))
      calls += caller(traced = o.trace && calls.length % 2 == 1, corruptIt = o.corrupt && calls.isEmpty)

    val tDirect = System.nanoTime()
    val direct = if (o.trace) w.layerTimings(tracer) else Map.empty[String, Double]
    if (o.trace) log(f"direct layer timings ${(System.nanoTime() - tDirect) / 1e9}%.1f s")
    if (o.trace && o.spansOut.nonEmpty) {
      Files.createDirectories(Paths.get(o.spansOut).getParent)
      Files.write(Paths.get(o.spansOut), tracer.jsonLines.asJava)
      log(s"wrote ${tracer.all.length} spans to ${o.spansOut}")
    }
    println(Json.obj(Seq("report" -> report(o, spark, w, tracer, calls.toSeq))))
    println(result(o, calls.toSeq, direct))
  }

  /** The result line: end-to-end metrics, or per-layer ones when traced. */
  def result(o: Opts, calls: Seq[CallOut], direct: Map[String, Double]): String = {
    val ok = calls.filter(_.ok)
    def rate(cs: Seq[CallOut]) = median(cs.map(x => x.docs / x.wall))
    val metrics: Seq[(String, Double)] =
      if (!o.trace) Seq(
        "docs_per_s" -> rate(ok),
        "files_per_kdoc" -> median(ok.map(x => x.files / (x.docs / 1000.0))),
        "out_bytes_per_doc" -> median(ok.map(x => x.bytes.toDouble / x.docs)),
        "doc_error_share" -> median(ok.map(x => x.docErrors.toDouble / x.docs)),
        "heap_peak_mb" -> (if (ok.isEmpty) 0.0 else ok.map(_.liveMb).max))
      else {
        val traced = ok.filter(_.traced)
        val untraced = rate(ok.filterNot(_.traced))
        val overhead = if (untraced > 0) 1.0 - rate(traced) / untraced else 0.0
        MetricNames.perLayer.map(_._1).map { n =>
          n -> (if (n == "trace.overhead_share") overhead
                else direct.getOrElse(n, median(traced.flatMap(_.layers.get(n)))))
        }
      }
    val units = (MetricNames.endToEnd ++ MetricNames.perLayer).toMap
    val failed = calls.count(!_.ok)
    Json.obj(Seq(
      "correct" -> (failed == 0),
      "attempted" -> calls.length,
      "failed" -> failed,
      "metrics" -> metrics.map { case (n, v) => n -> Map("value" -> v, "unit" -> units(n)) }.toMap))
  }

  /** Host facts, input properties and call walls of the run. */
  def report(o: Opts, spark: SparkSession, w: Workload, tracer: Tracer, calls: Seq[CallOut]): Json.Obj = {
    val rt = ManagementFactory.getRuntimeMXBean
    Json.Obj(Seq(
      "workload" -> w.name, "seed" -> o.seed, "trace" -> o.trace, "run_id" -> tracer.runId,
      "host" -> Json.Obj(Seq(
        "nproc" -> Runtime.getRuntime.availableProcessors(),
        "master" -> spark.sparkContext.master,
        "heap_flags" -> rt.getInputArguments.asScala.filter(a => a.startsWith("-Xm") || a.startsWith("-XX:")).toSeq,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory() / 1048576,
        "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}",
        "spark" -> spark.version)),
      "calls" -> calls.length, "traced_calls" -> calls.count(_.traced),
      "op_fail_share" -> calls.count(!_.ok).toDouble / calls.length,
      "call_walls_s" -> calls.map(_.wall),
      "docs_per_call" -> w.docsPerCall,
      "gc_count" -> HeapWatch.gcCount,
      // Spark job walls plus the driver gaps outside them, over the call wall
      "wall_cover" -> calls.filter(_.traced).map(x =>
        (x.layers("spark.job_wall_s") + x.layers("spark.driver_gap_s")) / x.wall),
      "inputs" -> (w.inputProps ++ calls.find(_.ok).map(_.props).getOrElse(Map.empty))))
  }
}
