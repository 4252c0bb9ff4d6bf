package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Dev tool: interleaved A/B of the graft-tsv COLUMNAR vs ROW read path
  * on one machine-local corpus (the honest-measurement protocol from
  * SCALE.md §9: back-to-back interleaved reps, compare MINs — this host
  * swings up to 4× between runs, so non-interleaved comparisons lie).
  *
  *   sbt "runMain graft.AbDsv2 [sfDir] [reps]"
  *
  * Exports lineitem once (pay-once _SUCCESS guard) through the
  * connector's own sink — 7 columns covering every supported type
  * (long/int/double/string/date) — then times a full-scan
  * hash-every-column aggregation (defeats projection pruning, so every
  * cell is parsed) through each path alternately. */
object AbDsv2 {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val reps = if (args.length > 1) args(1).toInt else 5
    val spark = Measure.session("graft-ab-dsv2")

    val out = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft_ab_dsv2_${Integer.toHexString(sfDir.hashCode)}").toString
    val done = new org.apache.hadoop.fs.Path(out, "_SUCCESS")
    val fs = done.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(done))
      graft.sources.Tables.load(spark, sfDir, "lineitem").select(
        col("l_orderkey"), col("l_partkey"), col("l_linenumber"),
        col("l_quantity"), col("l_extendedprice"),
        col("l_returnflag"), col("l_shipdate").cast("date").as("l_shipdate"))
        .write.format("graft-tsv").mode("overwrite").save(out)

    val schema = StructType(Seq(
      StructField("l_orderkey", LongType),
      StructField("l_partkey", LongType),
      StructField("l_linenumber", IntegerType),
      StructField("l_quantity", DoubleType),
      StructField("l_extendedprice", DoubleType),
      StructField("l_returnflag", StringType),
      StructField("l_shipdate", DateType)))

    def run(vectorized: Boolean): Double = {
      val t0 = System.nanoTime()
      spark.read.format("graft-tsv").schema(schema)
        .option("split.bytes", (4L * 1024 * 1024).toString)
        .option("vectorized.read", vectorized.toString)
        .load(out)
        .agg(expr("bit_xor(xxhash64(struct(*)))")).collect()
      (System.nanoTime() - t0) / 1e9
    }
    run(vectorized = true); run(vectorized = false) // codegen warmup
    val (vec, row) = (1 to reps).map { _ =>
      System.gc()
      (run(vectorized = true), run(vectorized = false))
    }.unzip
    def fmt(ts: Seq[Double]) = ts.map(t => f"$t%.3f").mkString(" ")
    println(f"[ab] columnar ${fmt(vec)} (min ${vec.min}%.3f)")
    println(f"[ab] row      ${fmt(row)} (min ${row.min}%.3f)")
    println(f"[ab] speedup min-row/min-columnar = ${row.min / vec.min}%.2fx")
    spark.stop()
  }
}
