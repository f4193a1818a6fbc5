package graft

import java.nio.file.{Files, Path}
import java.util.Comparator
import org.apache.spark.sql.SparkSession

/** One shared local session for all Spark-backed suites. */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** One temp root per test JVM, deleted with everything under it when the
    * JVM exits, so a suite run leaves no warehouses behind. */
  private lazy val tempRoot: Path = {
    val root = Files.createTempDirectory("graft-test-")
    sys.addShutdownHook(deleteTree(root))
    root
  }

  private def deleteTree(root: Path): Unit =
    if (Files.exists(root)) {
      val paths = Files.walk(root)
      try paths.sorted(Comparator.reverseOrder[Path]()).forEach(p => Files.deleteIfExists(p))
      finally paths.close()
    }

  def tempDir(prefix: String): String =
    Files.createTempDirectory(tempRoot, prefix).toString
}
