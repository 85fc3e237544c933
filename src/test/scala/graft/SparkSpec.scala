package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM per sbt test fork). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  /** A private copy of an index directory. Spark caches a Dataset by its
    * plan, so warming any reader of a shared directory would put every
    * other reader of it on the cached plans too; a copy keeps a test's
    * warm reader to itself. */
  def indexCopy(dir: String): String = {
    import java.nio.file.{Files, Paths}
    val src = Paths.get(dir)
    val dst = Files.createTempDirectory("graft-index-copy")
    Files.walk(src).forEach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    }
    dst.toString
  }
}
