package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import graft.extract.{Extractor, HtmlExtractor}
import graft.html.{Tokenizer, TreeBuilder}
import graft.metrics.Metrics
import graft.model.Page
import graft.pdf.PdfParser
import graft.synth.Synth
import graft.textnorm.TextNorm

/** Single-thread timings of each layer's public functions on a sample of
  * a workload's inputs, taken after the workload's calls (so the code is
  * warm). Each timing repeats its sample until `MinNs` has passed. */
object Layers {
  private val MinNs = 200000000L
  @volatile private var sink = 0L

  /** ns per item of `f` over `items`, with a span per timing. */
  def nsPer[A](tracer: Tracer, name: String, items: Seq[A])(f: A => Any): Double =
    if (items.isEmpty) 0.0
    else tracer.span("layer." + name, Map("items" -> items.length)) {
      val t0 = System.nanoTime()
      var n = 0L
      var h = 0L
      while (System.nanoTime() - t0 < MinNs) {
        items.foreach(a => h += f(a).hashCode)
        n += items.length
      }
      sink += h
      (System.nanoTime() - t0).toDouble / n
    }

  /** Pages of the given index range, grouped by content category. */
  def sample(seed: Long, from: Long, until: Long, perKind: Map[String, Int]): Map[String, Vector[Page]] = {
    val out = perKind.keys.map(_ -> Vector.newBuilder[Page]).toMap
    val left = scala.collection.mutable.Map(perKind.toSeq: _*)
    var i = from
    while (i < until && left.values.exists(_ > 0)) {
      val p = Synth.page(seed, i)
      val k = Workloads.category(p.url)
      if (left(k) > 0) { out(k) += p; left(k) -= 1 }
      i += 1
    }
    out.map { case (k, b) => k -> b.result() }
  }

  /** extract / html / pdf layers on a sample of a page corpus. */
  def extraction(tracer: Tracer, seed: Long, from: Long, until: Long): Map[String, Double] = {
    val s = sample(seed, from, until, Map("html" -> 200, "pdf" -> 40, "media" -> 20, "malformed" -> 20))
    val perKind = s.map { case (k, ps) =>
      s"extract.ns_per_doc.$k" -> nsPer(tracer, s"extract.$k", ps)(p => Extractor.extract(p.url, p.html))
    }
    val html = s("html").map(p => new String(p.html, UTF_8))
    val tokens = html.map(Tokenizer.tokenize)
    val pdfs = s("pdf").map(_.html)
    val pdfNs = nsPer(tracer, "pdf.parse", pdfs)(PdfParser.parse)
    val pages = pdfs.map(PdfParser.parse(_).map(_.pages).getOrElse(0)).sum
    perKind ++ Map(
      "html.tokenize_ns_per_doc" -> nsPer(tracer, "html.tokenize", html)(Tokenizer.tokenize),
      "html.dom_ns_per_doc" -> nsPer(tracer, "html.dom", tokens)(TreeBuilder.build),
      "html.extract_ns_per_doc" -> nsPer(tracer, "html.extract", html)(HtmlExtractor.extract),
      "pdf.parse_ns_per_doc" -> pdfNs,
      "pdf.pages_per_s" -> (if (pdfNs > 0) pages.toDouble / pdfs.length / (pdfNs / 1e9) else 0.0))
  }

  /** metrics layer on sampled (golden, prediction) pairs. */
  def scoring(tracer: Tracer, pairs: Seq[(String, String)]): Map[String, Double] = {
    val norm = pairs.map { case (g, p) => (TextNorm.normalize(g), TextNorm.normalize(p)) }
    Map(
      "metrics.normalize_ns_per_doc" -> nsPer(tracer, "metrics.normalize", pairs) { case (g, p) =>
        TextNorm.normalize(g).length + TextNorm.normalize(p).length },
      "metrics.cer_ns_per_doc" -> nsPer(tracer, "metrics.cer", norm) { case (g, p) => Metrics.cer(g, p) },
      "metrics.wer_ns_per_doc" -> nsPer(tracer, "metrics.wer", norm) { case (g, p) => Metrics.wer(g, p) },
      "metrics.seqsim_ns_per_doc" -> nsPer(tracer, "metrics.seqsim", norm) { case (g, p) =>
        Metrics.sequenceSimilarity(g, p) },
      "metrics.table_ns_per_doc" -> nsPer(tracer, "metrics.table", norm) { case (g, p) =>
        Metrics.tableAccuracy(g, p) + Metrics.tableStructureAccuracy(g, p).cellAccuracy },
      "metrics.evaluate_ns_per_doc" -> nsPer(tracer, "metrics.evaluate", pairs) { case (g, p) =>
        Metrics.evaluateOcr(g, p) })
  }
}
