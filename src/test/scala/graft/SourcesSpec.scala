package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Source coverage (SURVEY §2.1 S1) and skew handling (§4.3): the
  * binaryFile ad-hoc ingestion path, and the job's salted shuffle key actually
  * spreading a Zipf-hot host over many keys. */
class SourcesSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("binaryFile source: raw .html/.pdf files ingest into the extraction stage") {
    val dir = SparkTestBase.tempDir("binsrc")
    (0 until 6).foreach { i =>
      val p = graft.synth.Synth.page(42L, i.toLong)
      val ext = if (p.url.endsWith(".pdf")) "pdf" else "html"
      Files.write(Paths.get(dir, f"doc_$i%03d.$ext"), p.html)
    }
    val files = spark.read.format("binaryFile").load(dir)
      .select(col("path").as("url"), col("content").as("html"))
    val out = graft.extract.ExtractJob.extractedDf(files)
      .select(col("url"), col("extracted.status").as("status"))
    assert(out.count() == 6)
    assert(out.filter(col("status") === "ok").count() >= 5) // synth slice has no malformed rows here
  }

  test("salted repartition spreads the hottest host across multiple partitions") {
    import graft.extract.ExtractJob
    val pages = graft.synth.Synth.pagesDs(spark, 2000L, seed = 42L).toDF()
      .withColumn("host", regexp_extract(col("url"), "https://([^/]+)/", 1))
    val hottest = pages.groupBy("host").count().orderBy(col("count").desc)
      .select("host").as[String].head()
    // the job's own key at P=8, S=4: 32 values, asserted on key values
    // because AQE may legitimately merge tiny buckets into one task
    val keys = pages.withColumn("part_id", ExtractJob.partId(8))
      .filter(col("host") === hottest).select(ExtractJob.shuffleKey(4)).distinct().count()
    assert(keys >= 8, s"hot host $hottest landed on only $keys shuffle keys")
    // while an unsalted host-keyed partitioning pins it to exactly one
    val unsalted = pages.repartition(32, col("host"))
      .filter(col("host") === hottest)
      .select(spark_partition_id()).distinct().count()
    assert(unsalted == 1)
  }

  test("shuffle key spreads one hot url over exactly `salt` keys of its part_id") {
    import graft.extract.ExtractJob
    val salt = 4
    val url = "https://hot.example/page"
    val captures = (0 until 64).map(i =>
      (url, new java.sql.Timestamp(1577836800000L + i * 1000L))).toDF("url", "warc_ts")
    val rows = captures.withColumn("part_id", ExtractJob.partId(64))
      .select(col("part_id"), ExtractJob.shuffleKey(salt).as("key"))
      .as[(Int, Long)].collect()
    assert(rows.map(_._2).distinct.length == salt)
    rows.foreach { case (p, k) => assert(k / salt == p, s"key $k outside part_id $p") }
  }
}
