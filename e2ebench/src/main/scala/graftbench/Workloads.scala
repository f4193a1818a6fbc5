package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.sql.Timestamp
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.functions._
import graft.extract.{ExtractJob, Extractor}
import graft.io.TableIO
import graft.model.{Span => MdSpan}
import graft.streaming.StreamingExtract
import graft.synth.Synth

/** What every workload shares: the session, the run's private temp root and
  * the input seed. */
final class Ctx(val spark: SparkSession, val root: Path, val seed: Long, val cores: Int) {
  def path(rel: String): Path = root.resolve(rel)
}

/** Outcome of checking one call's output. */
final case class Checked(failures: Seq[String], docErrors: Long,
    props: Map[String, Any] = Map.empty)

/** One workload: seeded inputs, a closed-loop call, and a check of the
  * call's output. Only the library calls inside `call` are timed. */
trait Workload {
  def name: String
  def docsPerCall: Long
  /** Builds the seeded inputs (untimed). */
  def prepare(): Unit
  /** One call over fresh output dirs under `out`; returns its wall (s).
    * `warm` marks the untimed warm-up call before the timed ones. */
  def call(out: Path, io: TableIO, tracer: Option[Tracer], warm: Boolean): Double
  def check(out: Path): Checked
  /** Table (under `out`) and column that `--corrupt` alters in one row. */
  def corruptTarget(out: Path): (Path, String)
  /** Input properties the layers depend on (known after `prepare`). */
  def inputProps: Map[String, Any]
  /** Bytes of the parquet inputs one call reads. */
  def inputBytes: Long
  /** Direct timings of the layers this workload leans on (traced run). */
  def layerTimings(tracer: Tracer): Map[String, Double]
  /** Warehouse of the tables a call writes. */
  def tablesDir(out: Path): Path = out.resolve("warehouse")
}

object Workloads {
  val names: Seq[String] = Seq("crawl_batch", "dropbox_stream", "eval_score")

  /** Input sizes, set so that every run of every workload, with set-up,
    * fits the benchmark's time budget on a 4-core host. */
  val CrawlDocs = 400L
  val Drops = 4
  val DocsPerDrop = 2500L
  val EvalCorpus = 400L

  def apply(name: String, c: Ctx): Workload = name match {
    case "crawl_batch"    => new CrawlBatch(c, CrawlDocs)
    case "dropbox_stream" => new DropboxStream(c, Drops, DocsPerDrop)
    case "eval_score"     => new EvalScore(c, EvalCorpus)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (one of ${names.mkString(", ")})")
  }

  /** Document index ranges, disjoint per workload. */
  val DropboxBase = 1000000000L
  val EvalBase = 2000000000L
  val WarmBase = 3000000000L
  val RunTs = new Timestamp(1700000000000L)
  /** `ExtractJob.run`'s default P and S, which the crawl keeps. */
  val Partitions = 64
  val Salt = 4

  def category(url: String): String =
    if (url.contains("/broken/")) "malformed"
    else if (url.contains("/media/")) "media"
    else if (url.contains("/docs/")) "pdf"
    else "html"

  def pages(spark: SparkSession, seed: Long, from: Long, until: Long): DataFrame = {
    import spark.implicits._
    spark.range(from, until, 1, spark.sparkContext.defaultParallelism)
      .map(i => Synth.page(seed, i.longValue)).toDF()
  }

  def dataFiles(dir: Path): Vector[Path] =
    if (!Files.exists(dir)) Vector.empty
    else {
      val st = Files.walk(dir)
      try st.iterator.asScala.filter { p =>
        val f = p.getFileName.toString
        Files.isRegularFile(p) && f.endsWith(".parquet") && !f.startsWith(".")
      }.toVector
      finally st.close()
    }

  def bytesOf(files: Seq[Path]): Long = files.map(Files.size).sum

  /** Deterministic sample of `k` indices in [from, until). */
  def sampleIdx(seed: Long, from: Long, until: Long, k: Int): Vector[Long] = {
    val rng = new Synth.Rng(seed ^ 0x5a17e1L)
    val span = until - from
    (0 until k).map(_ => from + math.floorMod(rng.nextLong(), span)).distinct.toVector
  }

  /** First malformed and first media index at or after `from` (`Synth`
    * picks both slices by index), so every sample holds one of each. */
  def rareIdx(from: Long): Seq[Long] =
    Seq(from + math.floorMod(13 - from, 23L), from + math.floorMod(11 - from, 29L))

  /** One results-table row as the checks see it, with xxhash64(url, markdown). */
  final case class Out(url: String, status: String, contentType: String, markdown: String,
      pages: Int, error: String, spans: Vector[MdSpan], hash: Long)

  /** Reads a results table once, in one Spark job. */
  def readResults(results: DataFrame, withSpans: Boolean): Vector[Out] = {
    val cols = Seq(col("url"), col("status"), col("content_type"), col("markdown"),
      col("pages"), col("error"), xxhash64(col("url"), col("markdown"))) ++
      (if (withSpans) Seq(col("spans")) else Nil)
    results.select(cols: _*).collect().map { r =>
      val spans =
        if (!withSpans || r.isNullAt(7)) Vector.empty
        else r.getSeq[Row](7).map(s => MdSpan(s.getLong(0), s.getLong(1), s.getString(2))).toVector
      Out(r.getString(0), r.getString(1), r.getString(2), r.getString(3), r.getInt(4),
        r.getString(5), spans, r.getLong(6))
    }.toVector
  }

  /** Compares result rows with a direct `Extractor.extract` of the same
    * regenerated page, byte for byte. `withSpans` for tables that keep them. */
  def compareSample(c: Ctx, rows: Seq[Out], idx: Seq[Long], withSpans: Boolean): Seq[String] = {
    val byUrl = rows.groupBy(_.url)
    idx.map(i => Synth.page(c.seed, i)).flatMap { p =>
      val e = Extractor.extract(p.url, p.html)
      byUrl.getOrElse(p.url, Nil) match {
        case Seq(r) =>
          val same = java.util.Arrays.equals(Option(r.markdown).getOrElse("").getBytes(UTF_8),
              e.markdown.getBytes(UTF_8)) &&
            r.status == e.status && r.contentType == e.content_type && r.pages == e.pages &&
            r.error == e.error && (!withSpans || r.spans == e.spans.toVector)
          if (same) Nil else Seq(s"sample row differs from Extractor.extract: ${p.url}")
        case rs => Seq(s"sample url has ${rs.length} rows, want 1: ${p.url}")
      }
    }
  }

  /** `ExtractJob.extractedDf` over `pages` into the noop sink: the scan and
    * extract layers without shuffle or write. */
  def noopPass(c: Ctx, tracer: Tracer, pages: DataFrame): Double =
    tracer.span("extract.df_noop") {
      val t0 = System.nanoTime()
      ExtractJob.extractedDf(pages).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }

  /** xor of xxhash64(url, markdown) over a table — the lineage checksum. */
  def xorOf(df: DataFrame): Long = {
    val r = df.agg(expr("bit_xor(xxhash64(url, markdown))")).head()
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  /** Doc count, share of each content category and mean payload bytes of
    * a pages frame. */
  def pageProps(pages: DataFrame): Map[String, Any] = {
    val cat = udf((u: String) => category(u))
    val rows = pages.groupBy(cat(col("url")).as("cat"))
      .agg(count(lit(1)), sum(length(col("html")))).collect()
    val total = rows.map(_.getLong(1)).sum.toDouble
    Map(
      "docs" -> total.toLong,
      "category_share" -> rows.map(r => r.getString(0) -> r.getLong(1) / total).toMap,
      "payload_bytes_mean" -> rows.map(_.getLong(2)).sum / total)
  }

  /** Rows, distinct urls, the lineage checksum (xor of the row hashes),
    * error rows, and the markdown / PDF-page properties of a results table. */
  final case class ResultStats(rows: Long, urls: Long, xor: Long, errors: Long,
      props: Map[String, Any])

  def resultStats(rows: Seq[Out]): ResultStats = {
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.length
    val ok = rows.filter(_.status == "ok")
    ResultStats(rows.length, rows.map(_.url).distinct.length, rows.foldLeft(0L)(_ ^ _.hash),
      rows.count(_.status == "error"),
      Map("markdown_chars_mean" -> mean(ok.map(_.markdown.length.toDouble)),
        "pdf_pages_mean" -> mean(ok.filter(_.contentType == "pdf").map(_.pages.toDouble))))
  }

  /** Failures of the row-count and one-row-per-url checks. */
  def countFailures(s: ResultStats, want: Long): Seq[String] =
    if (s.rows == want && s.urls == want) Nil
    else Seq(s"results hold ${s.rows} rows over ${s.urls} urls, want $want each")
}

/** Batch crawl: `ExtractJob.run` at its default P = 64, S = 4 over a parquet
  * corpus of `Synth` pages, into a fresh warehouse per call. */
final class CrawlBatch(c: Ctx, n: Long) extends Workload {
  import Workloads._
  val name = "crawl_batch"
  val docsPerCall: Long = n
  private val corpus = c.path("inputs/pages")
  private val warmCorpus = c.path("inputs/pages-warm")
  private var summary: ExtractJob.RunSummary = _
  private lazy val sample = sampleIdx(c.seed, 0, n, 40) ++ rareIdx(0).filter(_ < n)
  var inputProps: Map[String, Any] = Map.empty

  def prepare(): Unit = {
    pages(c.spark, c.seed, 0, n).write.parquet(corpus.toString)
    pages(c.spark, c.seed, WarmBase, WarmBase + 32).write.parquet(warmCorpus.toString)
    inputProps = pageProps(c.spark.read.parquet(corpus.toString)) ++ Map(
      "corpus_parquet_bytes" -> inputBytes, "partitions" -> Partitions, "salt" -> Salt)
  }

  def inputBytes: Long = bytesOf(dataFiles(corpus))

  def layerTimings(tracer: Tracer): Map[String, Double] =
    Map("extract.df_noop_s" -> noopPass(c, tracer, c.spark.read.parquet(corpus.toString))) ++
      Layers.extraction(tracer, c.seed, 0, n)

  def call(out: Path, io: TableIO, tracer: Option[Tracer], warm: Boolean): Double = {
    val t0 = System.nanoTime()
    summary =
      if (!warm) ExtractJob.run(c.spark, c.spark.read.parquet(corpus.toString), io, RunTs)
      // the warm-up runs the same code paths over far fewer tasks and files
      else ExtractJob.run(c.spark, c.spark.read.parquet(warmCorpus.toString), io, RunTs,
        partitions = 8, salt = 1)
    (System.nanoTime() - t0) / 1e9
  }

  def check(out: Path): Checked = {
    val wh = tablesDir(out)
    val resultsDir = wh.resolve(ExtractJob.ResultsTable)
    val rows = readResults(c.spark.read.parquet(resultsDir.toString), withSpans = true)
    val s = resultStats(rows)
    val l = c.spark.read.parquet(wh.resolve(ExtractJob.LineageTable).toString)
      .agg(sum(col("row_count")), coalesce(expr("bit_xor(checksum)"), lit(0L))).head()
    val f = Seq.newBuilder[String]
    if (summary.total != n) f += s"RunSummary.total ${summary.total} != corpus $n"
    f ++= countFailures(s, n)
    if (l.isNullAt(0) || l.getLong(0) != summary.total)
      f += s"lineage row_count sums to ${l.get(0)}, RunSummary.total ${summary.total}"
    if (l.getLong(1) != s.xor)
      f += s"lineage checksum xor ${l.getLong(1)} != xor over results ${s.xor}"
    f ++= compareSample(c, rows, sample, withSpans = true)
    if (c.seed == Goldens.Seed) f ++= Goldens.check(rows, n)
    // file-explosion potential: every write task can open a file in every part dir
    val parts = Files.list(resultsDir).iterator.asScala.count(_.getFileName.toString.startsWith("part_id="))
    val tasks = Partitions * Salt
    Checked(f.result(), s.errors, s.props ++ Map(
      "distinct_part_ids" -> parts, "shuffle_tasks" -> tasks, "part_ids_x_tasks" -> parts * tasks))
  }

  def corruptTarget(out: Path): (Path, String) =
    (tablesDir(out).resolve(ExtractJob.ResultsTable), "markdown")
}

/** Incremental crawl: drops copied one after another into one drop-box,
  * each drained by `StreamingExtract.run(...).awaitTermination()` from one
  * checkpoint into one results table. */
final class DropboxStream(c: Ctx, drops: Int, perDrop: Long) extends Workload {
  import Workloads._
  val name = "dropbox_stream"
  val docsPerCall: Long = drops * perDrop
  private def dropDir(d: Int) = c.path(s"inputs/drop-$d")
  private def allDrops = c.spark.read.parquet((0 until drops).map(dropDir(_).toString): _*)
  private var expectedXor = 0L
  private lazy val sample =
    sampleIdx(c.seed, DropboxBase, DropboxBase + docsPerCall, 40) ++ rareIdx(DropboxBase)
  var inputProps: Map[String, Any] = Map.empty

  def prepare(): Unit = {
    (0 until drops).foreach { d =>
      val lo = DropboxBase + d * perDrop
      pages(c.spark, c.seed, lo, lo + perDrop).write.parquet(dropDir(d).toString)
    }
    // the batch extraction stage over the same drops gives the expected checksum
    expectedXor = xorOf(ExtractJob.extractedDf(allDrops)
      .select(col("url"), col("extracted.markdown").as("markdown")))
    inputProps = pageProps(allDrops) ++ Map(
      "drops" -> drops, "docs_per_drop" -> perDrop, "drop_parquet_bytes" -> inputBytes)
  }

  def inputBytes: Long = (0 until drops).map(d => bytesOf(dataFiles(dropDir(d)))).sum

  def layerTimings(tracer: Tracer): Map[String, Double] =
    Map("extract.df_noop_s" -> noopPass(c, tracer, allDrops)) ++
      Layers.extraction(tracer, c.seed, DropboxBase, DropboxBase + docsPerCall)

  def call(out: Path, io: TableIO, tracer: Option[Tracer], warm: Boolean): Double = {
    val box = Files.createDirectories(out.resolve("dropbox"))
    val ckpt = out.resolve("checkpoint").toString
    (0 until drops).map { d =>
      dataFiles(dropDir(d)).foreach(f => Files.copy(f, box.resolve(f"d$d%02d-${f.getFileName}")))
      val t0 = Clock.nowNs
      val q = StreamingExtract.run(c.spark, box.toString, io, "results", ckpt)
      q.awaitTermination()
      val t1 = Clock.nowNs
      tracer.foreach { t =>
        // AvailableNow drains a drop in one micro-batch: the last execution's scans
        val scans = q match {
          case w: StreamingQueryWrapper =>
            Option(w.streamingQuery.lastExecution).toSeq.flatMap(e => ScanCollector.scansOf(e.executedPlan))
          case _ => Nil
        }
        t.add("streaming.drain", t0, t1, Map("drop" -> d,
          "scan_bytes" -> scans.map(_.bytes).sum, "scan_rows" -> scans.map(_.rows).sum))
      }
      (t1 - t0) / 1e9
    }.sum
  }

  def check(out: Path): Checked = {
    val rows = readResults(c.spark.read.parquet(tablesDir(out).resolve("results").toString),
      withSpans = false)
    val s = resultStats(rows)
    val f = Seq.newBuilder[String]
    f ++= countFailures(s, docsPerCall)
    if (s.xor != expectedXor)
      f += s"xor of xxhash64(url, markdown) ${s.xor} != batch extraction $expectedXor"
    f ++= compareSample(c, rows, sample, withSpans = false)
    Checked(f.result(), s.errors, s.props)
  }

  def corruptTarget(out: Path): (Path, String) = (tablesDir(out).resolve("results"), "markdown")
}
