package graft.extract

import java.sql.Timestamp
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.TableIO
import graft.model.{ManifestRow, Page}

/** The extraction pipeline (north_rule): scan → resume-skip (left-anti on
  * the processed-partition manifest) → salted repartition for skewed hosts →
  * typed extraction map → results + per-partition lineage + manifest append.
  *
  * Scale design notes (100 TB / 10^12 rows):
  *  - `part_id = pmod(xxhash64(url), P)` is a STABLE unit of work derived
  *    from data, not from task placement, so resume is valid across cluster
  *    sizes and reruns.
  *  - One key serves shuffle and sink: `part_id·S + pmod(xxhash64(url,
  *    warc_ts), S)` (`shuffleKey`). Its high part IS the results partition,
  *    so each shuffle key feeds exactly one `part_id=` directory and each
  *    write task writes at most one file per key it holds: ≤ S files per
  *    part_id, ≤ P·S in total. The salt's low part spreads the captures of
  *    one hot url over S keys so that url cannot pin a straggler task.
  *  - The exchange has no fixed partition count, so AQE sizes it and
  *    coalesces small buckets into fewer write tasks. A fixed
  *    `repartition(n, …)` would make it REPARTITION_BY_NUM, which AQE never
  *    coalesces: one write task per bucket however small the input.
  *  - Extraction is a narrow map after one shuffle; no driver collect
  *    anywhere; lineage is a partial+final hash aggregate.
  *  - Results are written partitioned by part_id (dynamic partition
  *    overwrite), so a rerun of an unfinished partition is idempotent.
  */
object ExtractJob {

  val ResultsTable = "results"
  val LineageTable = "lineage"
  val ManifestTable = "manifest"

  /** Extraction as a DataFrame stage: url + html binary → extracted struct.
    * Prefers the native `graft_extract` Catalyst expression (no ScalaUDF
    * converter round-trip per row — registered by graft.GraftExtensions);
    * sessions built without the extension get the byte-identical Scala UDF. */
  def extractedDf(pages: DataFrame): DataFrame = {
    if (pages.sparkSession.catalog.functionExists("graft_extract"))
      pages.withColumn("extracted", call_function("graft_extract", col("url"), col("html")))
    else {
      val extractUdf = udf((url: String, payload: Array[Byte]) => Extractor.extract(url, payload))
      pages.withColumn("extracted", extractUdf(col("url"), col("html")))
    }
  }

  /** The unit of work and results partition of a page: a stable hash of
    * its url, so resume holds across cluster sizes and reruns. */
  private[graft] def partId(partitions: Int): Column =
    pmod(xxhash64(col("url")), lit(partitions)).cast("int")

  /** Shuffle key over a frame that carries `part_id`: part_id-major, so
    * `key / salt == part_id` and every key belongs to one results
    * directory; the low part spreads one url's captures over `salt` keys. */
  private[graft] def shuffleKey(salt: Int): Column =
    col("part_id") * lit(salt) + pmod(xxhash64(col("url"), col("warc_ts")), lit(salt))

  final case class RunSummary(total: Long, ok: Long, err: Long, skippedParts: Long)

  /** Full run. `partitions` = P (work units), `salt` = S (hot-url spread). */
  def run(
      spark: SparkSession,
      pages: DataFrame,
      io: TableIO,
      runTs: Timestamp,
      partitions: Int = 64,
      salt: Int = 4): RunSummary = {
    require(partitions >= 1 && salt >= 1,
      s"partitions and salt must be >= 1, got partitions=$partitions salt=$salt")
    import spark.implicits._

    val withPart = pages.withColumn("part_id", partId(partitions))

    // resume: skip partitions already recorded 'done' in the manifest.
    // done/todo part-id sets are tiny (≤ `partitions` ints) — collecting
    // them costs nothing and identifies exactly which hive partitions this
    // invocation owns, independent of run_ts (reruns reuse the same ts).
    val doneSet: Set[Int] =
      if (io.tableExists(spark, ManifestTable))
        io.readTable(spark, ManifestTable)
          .filter($"status" === "done").select("part_id").distinct()
          .as[Int].collect().toSet
      else Set.empty
    val skipped = doneSet.size.toLong
    val todo =
      if (doneSet.isEmpty) withPart
      else withPart.filter(!$"part_id".isin(doneSet.toSeq: _*))
    val todoParts: Set[Int] =
      todo.select($"part_id").distinct().as[Int].collect().toSet

    // no fixed count: AQE sizes the exchange (see the scale notes above)
    val salted = todo.repartition(shuffleKey(salt))

    val results = extractedDf(salted).select(
      $"url", $"warc_ts", $"lang",
      $"extracted.status".as("status"),
      $"extracted.content_type".as("content_type"),
      $"extracted.markdown".as("markdown"),
      $"extracted.spans".as("spans"),
      $"extracted.pages".as("pages"),
      $"extracted.error".as("error"),
      lit(runTs).as("run_ts"),
      $"part_id")

    io.overwritePartitions(results, ResultsTable, "part_id")

    // Everything below reads the WRITTEN table back instead of re-evaluating
    // `results`: the extraction UDF is the whole cost of the job, and a
    // DataFrame reference would silently re-run it per action. Restricting
    // to this invocation's part_ids prunes the read to the hive partitions
    // just written, so a resumed rerun never rescans finished partitions.
    val writtenThisRun =
      if (todoParts.isEmpty)
        io.readTable(spark, ResultsTable).filter(lit(false))
      else
        io.readTable(spark, ResultsTable)
          .filter($"part_id".isin(todoParts.toSeq: _*))

    // lineage: commutative per-partition checksum — order-independent, so
    // identical at any parallelism (the determinism property the golden
    // byte-identity contract needs)
    val lineage = writtenThisRun.groupBy($"part_id").agg(
      count(lit(1)).as("row_count"),
      count(when($"status" === "ok", 1)).as("ok_count"),
      count(when($"status" === "error", 1)).as("err_count"),
      // bit_xor: commutative + overflow-free under ANSI mode — the checksum
      // is identical at any parallelism / row order
      expr("bit_xor(xxhash64(url, markdown))").as("checksum"))
    io.overwritePartitions(
      lineage.withColumn("part_lbl", $"part_id"), LineageTable, "part_lbl")

    // manifest: mark this invocation's partitions done (append-only); built
    // from the already-collected part-id set — no extra pass over the input
    if (todoParts.nonEmpty) {
      val doneParts = todoParts.toSeq.sorted
        .map(p => ManifestRow(p, runTs, "done")).toDS()
      io.appendTable(doneParts.toDF(), ManifestTable)
    }

    // summary from the thin (status) column of the written files — no
    // second pass over html payloads
    val byStatus = writtenThisRun.groupBy($"status").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    RunSummary(
      total = byStatus.values.sum,
      ok = byStatus.getOrElse("ok", 0L),
      err = byStatus.getOrElse("error", 0L),
      skippedParts = skipped)
  }
}
