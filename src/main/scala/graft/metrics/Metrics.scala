package graft.metrics

import graft.textnorm.{PyStr, TextNorm}

/** Exact ports of the reference's 8 evaluation metrics
  * (/root/reference/mvp/evaluation/eval.py:145-267), including every
  * zero-guard branch and the multiset (NOT set) overlap semantics.
  */
object Metrics {

  /** Generic two-row DP edit distance. */
  def editDistanceSeq[T](ref: Array[T], hyp: Array[T]): Int = {
    val n = ref.length
    val m = hyp.length
    if (n == 0) return m
    if (m == 0) return n
    var prev = Array.tabulate(m + 1)(identity)
    var cur = new Array[Int](m + 1)
    var i = 1
    while (i <= n) {
      cur(0) = i
      var j = 1
      while (j <= m) {
        val cost = if (ref(i - 1) == hyp(j - 1)) 0 else 1
        cur(j) = math.min(math.min(cur(j - 1) + 1, prev(j) + 1), prev(j - 1) + cost)
        j += 1
      }
      val t = prev; prev = cur; cur = t
      i += 1
    }
    prev(m)
  }

  /** CER (eval.py:145-150): both sides Python-stripped; empty ref -> 0.0 if
    * hyp empty else 1.0; else distance / len(ref) (code points). */
  def cer(refIn: String, hypIn: String): Double = {
    val ref = PyStr.strip(refIn)
    val hyp = PyStr.strip(hypIn)
    if (ref.isEmpty) { if (hyp.isEmpty) 0.0 else 1.0 }
    else {
      val r = ref.codePoints().toArray
      val h = hyp.codePoints().toArray
      editDistanceSeq(r, h).toDouble / r.length
    }
  }

  /** WER (eval.py:152-157): whitespace tokenization via Python str.split(). */
  def wer(ref: String, hyp: String): Double = {
    val rw = PyStr.split(ref)
    val hw = PyStr.split(hyp)
    if (rw.isEmpty) { if (hw.isEmpty) 0.0 else 1.0 }
    else editDistanceSeq[String](rw, hw).toDouble / rw.length
  }

  /** Multiset intersection size: sum over keys of min(count_a, count_b). */
  private def multisetOverlap(as: Iterable[String], bs: Iterable[String]): Int = {
    val ca = as.groupMapReduce(identity)(_ => 1)(_ + _)
    val cb = bs.groupMapReduce(identity)(_ => 1)(_ + _)
    ca.iterator.map { case (k, n) => math.min(n, cb.getOrElse(k, 0)) }.sum
  }

  /** word_accuracy (eval.py:159-166): lowercased multiset word overlap / |ref|. */
  def wordAccuracy(ref: String, hyp: String): Double = {
    val rw = PyStr.split(PyStr.lower(ref))
    val hw = PyStr.split(PyStr.lower(hyp))
    if (rw.isEmpty) 0.0
    else multisetOverlap(rw, hw).toDouble / rw.length
  }

  /** table_accuracy (eval.py:184-195): multiset cell overlap / |ref cells|. */
  def tableAccuracy(ref: String, hyp: String): Double = {
    val rt = TextNorm.extractTable(ref)
    if (rt.isEmpty) return 0.0
    val refCells = rt.flatten.flatten
    if (refCells.isEmpty) return 0.0
    val hypCells = TextNorm.extractTable(hyp).flatten.flatten
    multisetOverlap(refCells, hypCells).toDouble / refCells.length
  }

  final case class StructureAcc(rowAccuracy: Double, columnAccuracy: Double, cellAccuracy: Double)

  /** table_structure_accuracy (eval.py:197-240) — including its quirky
    * first-match-with-break pairing and no-break cell loop, reproduced
    * exactly (it can exceed 1.0 when several hyp tables match; that is the
    * reference's behavior and is preserved).
    */
  def tableStructureAccuracy(ref: String, hyp: String): StructureAcc = {
    val refT = TextNorm.extractTable(ref)
    val hypT = TextNorm.extractTable(hyp)
    if (refT.isEmpty) return StructureAcc(0.0, 0.0, 0.0)

    val totalRows = refT.map(_.length).sum
    val totalCols = refT.map(t => if (t.nonEmpty) t.head.length else 0).sum
    val totalCells = refT.map(t => if (t.nonEmpty && t.head.nonEmpty) t.length * t.head.length else 0).sum
    if (totalRows == 0 || totalCols == 0) return StructureAcc(0.0, 0.0, 0.0)

    var matchedRows = 0
    refT.foreach { rt =>
      hypT.find(ht => ht.length == rt.length).foreach(_ => matchedRows += rt.length)
    }

    var matchedCols = 0
    refT.foreach { rt =>
      // eval.py:223 guards `ref_table and hyp_table` inside the scan
      hypT.find(ht => rt.nonEmpty && ht.nonEmpty && rt.head.length == ht.head.length)
        .foreach(_ => matchedCols += rt.head.length)
    }

    var matchedCells = 0
    refT.foreach { rt =>
      hypT.foreach { ht => // NOTE: no break here (eval.py:229-234)
        if (rt.length == ht.length && rt.nonEmpty && ht.nonEmpty) {
          rt.zip(ht).foreach { case (rr, hr) =>
            if (rr.length == hr.length) matchedCells += rr.length
          }
        }
      }
    }

    StructureAcc(
      if (totalRows > 0) matchedRows.toDouble / totalRows else 0.0,
      if (totalCols > 0) matchedCols.toDouble / totalCols else 0.0,
      if (totalCells > 0) matchedCells.toDouble / totalCells else 0.0)
  }

  /** sequence_similarity (eval.py:242-245). */
  def sequenceSimilarity(ref: String, hyp: String): Double =
    SequenceMatcher.ratio(ref, hyp)

  final case class OcrMetrics(
      cer: Double, wer: Double, wordAcc: Double, tableAcc: Double,
      sequenceSimilarity: Double, rowAccuracy: Double, columnAccuracy: Double,
      cellAccuracy: Double)

  /** evaluate_ocr (eval.py:248-267): normalize both sides, then all 8. */
  def evaluateOcr(refRaw: String, hypRaw: String): OcrMetrics = {
    val ref = TextNorm.normalize(refRaw)
    val hyp = TextNorm.normalize(hypRaw)
    val s = tableStructureAccuracy(ref, hyp)
    OcrMetrics(
      cer = cer(ref, hyp),
      wer = wer(ref, hyp),
      wordAcc = wordAccuracy(ref, hyp),
      tableAcc = tableAccuracy(ref, hyp),
      sequenceSimilarity = sequenceSimilarity(ref, hyp),
      rowAccuracy = s.rowAccuracy,
      columnAccuracy = s.columnAccuracy,
      cellAccuracy = s.cellAccuracy)
  }

  /** Failed-row worst-case imputation (eval.py:290-301). */
  val failedRow: OcrMetrics = OcrMetrics(1.0, 1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0)
}
