package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions.col

/** The measurement spine the dev mains share (graft.Measure). */
class MeasureSpec extends SparkSuite with AdaptiveSparkPlanHelper {

  test("Tally.snap reads a one-exchange job's exact shuffle-write bytes, and 0 for a map-only job") {
    val tally = new Measure.Tally(spark)
    try {
      val b0 = tally.snap()
      val df = spark.range(0, 20000, 1, 4).repartition(3, col("id"))
      df.collect()
      val shuffled = (tally.snap() - b0).shuffleBytes
      // independent witness: the exchange operator's own SQL metric
      val exchanges = collect(df.queryExecution.executedPlan) {
        case e: ShuffleExchangeExec => e
      }
      assert(exchanges.size == 1)
      val written = exchanges.head.metrics("shuffleBytesWritten").value
      assert(written > 0L)
      assert(shuffled == written)

      val m0 = tally.snap()
      spark.range(0, 20000, 1, 4).selectExpr("id * 2 AS x").collect()
      assert((tally.snap() - m0).shuffleBytes == 0L)
    } finally spark.sparkContext.removeSparkListener(tally)
  }

  test("Tally.jobsSince splits a window's bytes by job, labelled with the action's call site") {
    val tally = new Measure.Tally(spark)
    try {
      val b0 = tally.snap()
      val j0 = tally.nextJob()
      spark.range(0, 20000, 1, 4).repartition(3, col("id")).collect()
      spark.range(0, 20000, 1, 4).selectExpr("id * 2 AS x").collect()
      val window = (tally.snap() - b0).shuffleBytes
      val jobs = tally.jobsSince(j0)
      assert(jobs.size >= 2 && jobs.map(_.jobId) == jobs.map(_.jobId).sorted)
      assert(jobs.map(_.shuffleBytes).sum == window && window > 0L)
      val writers = jobs.filter(_.shuffleBytes > 0L)
      assert(writers.nonEmpty && writers.forall(_.label.contains("MeasureSpec.scala")),
        writers.mkString("\n"))
      assert(tally.jobsSince(tally.nextJob()).isEmpty)
    } finally spark.sparkContext.removeSparkListener(tally)
  }

  test("SPARK_GRAFT_CONF parsing keeps a value that contains commas") {
    assert(Measure.devSessionConf("a.b=1,c.d=x,y,e=2") ==
      Seq("a.b" -> "1", "c.d" -> "x,y", "e" -> "2"))
  }

  test("the session factory sizes shuffle partitions and AQE's initial partition count from cpus") {
    for (cpus <- Seq(4, 32)) {
      val conf = Measure.conf(cpus).toMap
      assert(conf("spark.sql.shuffle.partitions") == cpus.toString)
      assert(conf("spark.sql.adaptive.coalescePartitions.initialPartitionNum") ==
        (16 * cpus).toString)
    }
  }
}
