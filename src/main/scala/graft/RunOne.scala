package graft

/** Dev tool: time ONE catalog query in isolation (the full Bench run is
  * ~4 min; iterating on a single query's plan needs a tighter loop).
  *
  *   sbt "runMain graft.RunOne q_jaccard_pairs [sfDir] [reps]"
  *
  * Same session config + consumer as Bench (hash-of-all-columns defeats
  * projection pruning); warmup at sf0.001 compiles the codegen, then
  * `reps` timed runs with GC isolation between them. Set
  * SPARK_GRAFT_EXPLAIN=1 to dump the formatted physical plan first. */
object RunOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 3
    val spark = Measure.session("graft-runone")
    val fn = SparkEntry.queries(name)
    if (sys.env.contains("SPARK_GRAFT_EXPLAIN"))
      fn(spark, sfDir).explain("formatted")
    // SPARK_GRAFT_DUMP=<dir>: write the result once for ad-hoc oracle
    // comparison (the single-query analog of Verify's full dump)
    sys.env.get("SPARK_GRAFT_DUMP").foreach { d =>
      fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$d/$name")
    }
    Measure.consume(fn(spark, "/root/testdata/sf0.001"))
    val times = (1 to reps).map { _ =>
      Measure.isolate(spark)
      val t0 = System.nanoTime()
      Measure.consume(fn(spark, sfDir))
      (System.nanoTime() - t0) / 1e9
    }
    println(f"[runone] $name ${times.map(t => f"$t%.3f").mkString(" ")} (min ${times.min}%.3f)")
    spark.stop()
  }
}

/** Dev tool: print ONE query's oracle SQL (for ad-hoc DuckDB comparison
  * against a RunOne dump without a full Verify pass):
  *   sbt "runMain graft.ShowOracle q_pq_topk"  */
object ShowOracle {
  def main(args: Array[String]): Unit = args.headOption match {
    case Some(name) =>
      println(SparkEntry.oracleSql.getOrElse(name, s"<no oracle for $name>"))
    case None =>
      println("usage: runMain graft.ShowOracle <query-name>")
  }
}
