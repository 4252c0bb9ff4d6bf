package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM per `sbt test` fork). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config(graft.sources.Tables.NanosAsLongKey, "true")
      .config("spark.sql.warehouse.dir", "/tmp/graft-test-warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sfDir = "/root/testdata/sf0.001"

  /** The counts of an IVM builder's first `phase` mark,
    * "<phase>:<k>=<n>:<k>=<n>…", by name; fails the test when `marks`
    * holds no such mark. */
  def phaseCounts(marks: Iterable[String], phase: String): Map[String, Long] =
    marks.find(_.startsWith(s"$phase:"))
      .getOrElse(fail(s"no $phase mark in $marks"))
      .split(":").drop(1)
      .map(_.split("=")).map(a => a(0) -> a(1).toLong).toMap
}
