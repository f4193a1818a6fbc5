package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.io.{ParquetTableIO, TableIO}

/** Contract tests for the storage seam (SURVEY §7.1.9): these encode
  * the semantics production Iceberg provides, asserted against the
  * parquet emulation, so binding the seam to Iceberg
  * (`spark-submit --packages ...iceberg-spark-runtime`) is a config
  * change with no behavioral drift. Each test names the Iceberg
  * feature it emulates; the mapping table lives in SURVEY §7.1.9. */
class TableIOSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def fresh(): (TableIO, String) = {
    val dir = SparkTestBase.tempDir("tio")
    (new ParquetTableIO(dir), dir)
  }

  test("append is snapshot-additive: earlier files are never rewritten") {
    val (tio, dir) = fresh()
    tio.appendTable(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), "t")
    val firstFiles = new java.io.File(s"$dir/t").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => (f.getName, f.length, f.lastModified)).toSet
    tio.appendTable(Seq((3L, "c")).toDF("id", "v"), "t")
    val afterFiles = new java.io.File(s"$dir/t").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => (f.getName, f.length, f.lastModified)).toSet
    // Iceberg: an append commit adds data files; it never mutates
    // committed ones. The first snapshot's files must survive untouched.
    assert(firstFiles.subsetOf(afterFiles), "append rewrote committed files")
    assert(afterFiles.size > firstFiles.size)
    val got = tio.readTable(spark, "t").as[(Long, String)].collect().sortBy(_._1)
    assert(got.toSeq == Seq((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("append with a mismatched schema fails loudly (Iceberg schema enforcement)") {
    val (tio, _) = fresh()
    tio.appendTable(Seq((1L, "a")).toDF("id", "v"), "t")
    // extra column
    val e1 = intercept[IllegalArgumentException] {
      tio.appendTable(Seq((2L, "b", 0.5)).toDF("id", "v", "score"), "t")
    }
    assert(e1.getMessage.contains("column-set mismatch"))
    // same names, different type
    val e2 = intercept[IllegalArgumentException] {
      tio.appendTable(Seq((3, "c")).toDF("id", "v"), "t") // id: Int, not Long
    }
    assert(e2.getMessage.contains("type mismatch"))
    // Iceberg resolves by NAME: a reordered same-columns append is FINE
    tio.appendTable(Seq(("r", 4L)).toDF("v", "id").select($"v", $"id"), "t")
    assert(tio.readTable(spark, "t").count() == 2)
    // table untouched by the failed appends (1 original + 1 reordered)
    assert(tio.readTable(spark, "t").select("id", "v").as[(Long, String)]
      .collect().sortBy(_._1).toSeq == Seq((1L, "a"), (4L, "r")))
  }

  test("append nullability: nullable-into-required rejected, required-into-nullable ok") {
    val (tio, _) = fresh()
    import org.apache.spark.sql.types._
    val reqSchema = StructType(Seq(StructField("id", LongType, nullable = false)))
    val req = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(org.apache.spark.sql.Row(1L))), reqSchema)
    val nul = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(org.apache.spark.sql.Row(2L))),
      StructType(Seq(StructField("id", LongType, nullable = true))))
    tio.appendTable(req, "treq")
    // parquet read-back may surface the column as nullable; only assert the
    // rejecting direction when the stored table really reads back required
    val storedRequired = !tio.readTable(spark, "treq").schema("id").nullable
    if (storedRequired) {
      val e = intercept[IllegalArgumentException] { tio.appendTable(nul, "treq") }
      assert(e.getMessage.contains("nullable append into required"))
    }
    tio.appendTable(nul, "tnul")
    tio.appendTable(req, "tnul") // required into nullable: accepted
    assert(tio.readTable(spark, "tnul").count() == 2)
  }

  test("overwritePartitions replaces only the partitions present in the frame") {
    val (tio, _) = fresh()
    tio.overwritePartitions(
      Seq(("p1", 1L), ("p1", 2L), ("p2", 10L), ("p3", 100L)).toDF("part", "v"),
      "t", "part")
    // Iceberg dynamic overwrite (REPLACE WHERE on partition values):
    // rewriting p1 must not touch p2/p3
    tio.overwritePartitions(Seq(("p1", 7L)).toDF("part", "v"), "t", "part")
    val rows = tio.readTable(spark, "t").select("part", "v").as[(String, Long)]
      .collect().sorted
    assert(rows.toSeq == Seq(("p1", 7L), ("p2", 10L), ("p3", 100L)))
  }

  test("partition predicates prune to the matching partition's files (manifest pruning)") {
    val (tio, _) = fresh()
    tio.overwritePartitions(
      (0L until 40L).map(i => (s"p${i % 4}", i)).toDF("part", "v"), "t", "part")
    val pruned = tio.readTable(spark, "t").filter(col("part") === "p1")
    // count() spawns a different QueryExecution whose metrics stay 0;
    // collect() the SAME frame and read the scan metric (CLAUDE.md)
    pruned.collect()
    val scan = pruned.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.head
    val numFiles = scan.metrics("numFiles").value
    assert(numFiles >= 1, "no files scanned?")
    // all 4 partitions exist; the pruned scan must not read them all
    val all = tio.readTable(spark, "t")
    all.collect()
    val allScan = all.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.head
    assert(numFiles < allScan.metrics("numFiles").value,
      s"pruned scan read $numFiles of ${allScan.metrics("numFiles").value} files")
  }

  test("tableExists flips on first append and readTable round-trips types") {
    val (tio, _) = fresh()
    assert(!tio.tableExists(spark, "t"))
    val df = Seq((1L, 0.5, "x", java.sql.Timestamp.valueOf("2026-01-01 00:00:00")))
      .toDF("id", "score", "name", "ts")
    tio.appendTable(df, "t")
    assert(tio.tableExists(spark, "t"))
    val back = tio.readTable(spark, "t")
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      df.schema.fields.map(f => (f.name, f.dataType)).toSeq)
  }
}
