package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.util.Base64
import java.util.concurrent.{Callable, Executors}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.Row
import graft.extract.Extractor
import graft.io.TableIO
import graft.jobs.EvalJob
import graft.metrics.Metrics
import graft.synth.Synth

/** One prediction row of the evaluation input. */
final case class Pred(url: String, status: String, markdown: String, error: String)

/** Seeded prediction noise over golden markdown: character drops, word
  * swaps and table-cell edits. */
object Perturb {
  def dropChars(s: String, rng: Synth.Rng, per1000: Int): String = {
    val sb = new StringBuilder(s.length)
    s.foreach(ch => if (rng.nextInt(1000) >= per1000) sb.append(ch))
    sb.toString
  }

  def swapWords(s: String, rng: Synth.Rng, swaps: Int): String = {
    val ws = s.split(" ", -1)
    if (ws.length >= 2) (0 until swaps).foreach { _ =>
      val i = rng.nextInt(ws.length - 1)
      val t = ws(i); ws(i) = ws(i + 1); ws(i + 1) = t
    }
    ws.mkString(" ")
  }

  /** Rewrites the digits of a few cells in pipe-table rows. */
  def editCells(s: String, rng: Synth.Rng): String =
    s.split("\n", -1).map { line =>
      if (line.startsWith("|") && rng.nextInt(3) == 0)
        line.split("\\|", -1).map(cell =>
          if (cell.exists(_.isDigit) && rng.nextInt(2) == 0) " " + rng.nextInt(10000) + " " else cell
        ).mkString("|")
      else line
    }.mkString("\n")

  /** Predictions for the k-th golden. Slices are picked by position, so
    * their shares do not vary with the seed: k % 13 == 5 fails outright,
    * k % 11 == 7 fails once and then succeeds on a retry. */
  def predictions(k: Int, url: String, golden: String, rng: Synth.Rng): Seq[Pred] = {
    val failed = Pred(url, "error", "", "extract_failed:timeout")
    val md = rng.nextInt(5) match {
      case 0 => golden
      case 1 => dropChars(golden, rng, 20)
      case 2 => swapWords(golden, rng, 3)
      case 3 => editCells(golden, rng)
      case _ => editCells(swapWords(dropChars(golden, rng, 10), rng, 2), rng)
    }
    val ok = Pred(url, "ok", md, null)
    if (k % 13 == 5) Seq(failed)
    else if (k % 11 == 7) Seq(failed, ok)
    else Seq(ok)
  }
}

/** The evaluation process: `EvalJob.detail` over (predictions, goldens),
  * written through the storage seam, then `EvalJob.summary` over the
  * written detail table. Goldens are the ok markdown of a generated corpus;
  * both inputs are plain parquet at the session's default parallelism. */
final class EvalScore(c: Ctx, corpusDocs: Long) extends Workload {
  import Workloads._
  val name = "eval_score"
  private val goldensDir = c.path("inputs/goldens")
  private val predsDir = c.path("inputs/preds")
  private var goldens: Vector[(String, String)] = Vector.empty
  private var preds: Vector[Pred] = Vector.empty
  private var okPred: Map[String, String] = Map.empty // url -> successful prediction
  private var expected: Map[String, Seq[Any]] = Map.empty
  private var summary: Row = _

  def docsPerCall: Long = goldens.length.toLong
  def pairs: Vector[(String, String)] = goldens.flatMap { case (u, g) => okPred.get(u).map(g -> _) }

  def prepare(): Unit = {
    import c.spark.implicits._
    goldens = (0L until corpusDocs).flatMap { i =>
      val p = Synth.page(c.seed, EvalBase + i)
      val e = Extractor.extract(p.url, p.html)
      if (e.status == "ok") Some(p.url -> e.markdown) else None
    }.toVector
    val rng = new Synth.Rng(c.seed ^ 0xe7a1L)
    preds = goldens.zipWithIndex.flatMap { case ((u, g), k) => Perturb.predictions(k, u, g, rng) }
    okPred = preds.filter(_.status == "ok").map(p => p.url -> p.markdown).toMap
    expected = expectedDetail()
    goldens.toDF("url", "g_markdown").write.parquet(goldensDir.toString)
    preds.toDF().write.parquet(predsDir.toString)
  }

  /** Per-url detail expected from direct `Metrics.evaluateOcr` calls,
    * rounded to 6 digits as the job rounds, computed on `cores` threads. */
  private def expectedDetail(): Map[String, Seq[Any]] = {
    val pool = Executors.newFixedThreadPool(c.cores)
    try {
      val tasks = goldens.grouped(math.max(1, goldens.length / (4 * c.cores) + 1)).map { chunk =>
        pool.submit(new Callable[Seq[(String, Seq[Any])]] {
          def call(): Seq[(String, Seq[Any])] = chunk.map { case (u, g) =>
            val m = okPred.get(u).map(Metrics.evaluateOcr(g, _)).getOrElse(Metrics.failedRow)
            def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
            u -> Seq(okPred.contains(u), r6(m.cer), r6(m.wer), r6(m.wordAcc), r6(m.tableAcc),
              r6(m.sequenceSimilarity), r6(m.rowAccuracy), r6(m.columnAccuracy), r6(m.cellAccuracy))
          }
        })
      }.toVector
      tasks.flatMap(_.get()).toMap
    } finally pool.shutdown()
  }

  def call(out: Path, io: TableIO, tracer: Option[Tracer], warm: Boolean): Double = {
    val g = c.spark.read.parquet(goldensDir.toString)
    val p = c.spark.read.parquet(predsDir.toString)
    val t0 = System.nanoTime()
    io.appendTable(EvalJob.detail(p, g), EvalScore.DetailTable)
    summary = EvalJob.summary(io.readTable(c.spark, EvalScore.DetailTable)).collect().head
    (System.nanoTime() - t0) / 1e9
  }

  def check(out: Path): Checked = {
    val f = Seq.newBuilder[String]
    val total = summary.getAs[Long]("total")
    val successes = summary.getAs[Long]("successes")
    if (total != goldens.length) f += s"summary total $total != ${goldens.length} golden rows"
    val detail = c.spark.read.parquet(tablesDir(out).resolve(EvalScore.DetailTable).toString)
      .select("url", "success", "cer", "wer", "word_acc", "table_acc", "seq_sim",
        "row_acc", "col_acc", "cell_acc").collect()
    if (detail.length != goldens.length || detail.map(_.getString(0)).distinct.length != goldens.length)
      f += s"detail holds ${detail.length} rows, want one per golden url (${goldens.length})"
    val wrong = detail.filter(r => !expected.get(r.getString(0)).contains(r.toSeq.tail))
    if (wrong.nonEmpty)
      f += s"${wrong.length} detail rows differ from Metrics.evaluateOcr, e.g. ${wrong.head.getString(0)}"
    Checked(f.result(), total - successes)
  }

  def corruptTarget(out: Path): (Path, String) =
    (tablesDir(out).resolve(EvalScore.DetailTable), "cer")

  def inputBytes: Long = bytesOf(dataFiles(goldensDir) ++ dataFiles(predsDir))

  def layerTimings(tracer: Tracer): Map[String, Double] = {
    val ps = pairs
    Layers.scoring(tracer, Workloads.sampleIdx(c.seed, 0, ps.length, 40).map(i => ps(i.toInt)))
  }

  def inputProps: Map[String, Any] = Map(
    "corpus_docs" -> corpusDocs,
    "golden_rows" -> goldens.length,
    "prediction_rows" -> preds.length,
    "golden_chars_mean" -> goldens.map(_._2.length.toDouble).sum / goldens.length,
    "prediction_chars_mean" -> okPred.values.map(_.length.toDouble).sum / okPred.size,
    "golden_table_share" -> goldens.count(_._2.contains("\n|")).toDouble / goldens.length,
    "input_files" -> (dataFiles(goldensDir).length + dataFiles(predsDir).length))
}

object EvalScore {
  val DetailTable = "eval_detail"
}

/** The frozen byte-identity goldens: on seed 42 the crawl corpus holds the
  * same documents, so their markdown must match `md_b64`. */
object Goldens {
  val Seed = 42L
  val File: Path = Paths.get("fixtures", "goldens_v1.jsonl")
  private val UrlRe = "\"url\":\"([^\"]*)\"".r
  private val MdRe = "\"md_b64\":\"([^\"]*)\"".r
  private val IdxRe = "-(\\d{7})\\.".r

  def check(rows: Seq[Workloads.Out], n: Long): Seq[String] = {
    if (!Files.exists(File)) return Seq(s"$File is missing")
    val want = Files.readAllLines(File, UTF_8).asScala.flatMap { l =>
      for (u <- UrlRe.findFirstMatchIn(l); m <- MdRe.findFirstMatchIn(l);
           i <- IdxRe.findFirstMatchIn(u.group(1)) if i.group(1).toLong < n)
      yield u.group(1) -> new String(Base64.getDecoder.decode(m.group(1)), UTF_8)
    }.toMap
    val got = rows.map(r => r.url -> r.markdown).toMap
    val bad = want.count { case (u, md) => !got.get(u).contains(md) }
    if (bad == 0) Nil else Seq(s"$bad of ${want.size} golden urls differ from $File")
  }
}
