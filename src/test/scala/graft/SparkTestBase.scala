package graft

import java.nio.file.{Files, Path}
import java.util.Comparator
import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Using

/** One shared local SparkSession for the whole test run. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** Temp directories owned by a suite: every [[tempDir]] is deleted, with
  * its contents, after the suite's last test.
  */
trait TempDirs extends BeforeAndAfterAll { this: Suite =>
  private val dirs = new java.util.concurrent.ConcurrentLinkedQueue[Path]()

  /** A fresh directory under the system temp dir, named `<prefix>…`. */
  def tempDir(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    dirs.add(d)
    d
  }

  override protected def afterAll(): Unit =
    try dirs.forEach(d => Using.resource(Files.walk(d))(
      _.sorted(Comparator.reverseOrder[Path]()).forEach(p => Files.deleteIfExists(p))))
    finally super.afterAll()
}

abstract class SparkTestBase extends AnyFunSuite with TempDirs {
  lazy val spark: SparkSession = TestSpark.spark
}
