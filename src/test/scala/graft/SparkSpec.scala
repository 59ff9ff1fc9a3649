package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs (one per suite, lazily started). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.ansi.enabled", "false")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def sfDir: String = "/root/testdata/sf0.001"

  /** The committed fixtures, resolved against the build's base directory
    * (the forked test JVM's working directory). */
  val fixtures: String =
    java.nio.file.Paths.get("src/test/resources/fixtures").toAbsolutePath.toString

  /** Every message down the cause chain: a task's failure reaches the
    * driver wrapped, with the cause's message inside. */
  def messages(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")
}
