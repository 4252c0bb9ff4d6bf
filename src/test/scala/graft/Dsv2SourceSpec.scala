package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The graft-tsv DataSource V2 connector in isolation (the catalog query
  * q_dsv2_source proves value parity vs DuckDB; these specs prove the
  * connector's CONTRACTS):
  *
  *  - split exactly-once: the same file read under byte-range splits far
  *    smaller than a line-aligned boundary yields identical rows — the
  *    discard-first / read-through-end protocol never loses or doubles a
  *    line, whatever the boundary cuts.
  *  - pushdown visibility: pushed predicates and the pruned read schema
  *    appear in the physical plan (the connector's description()), and
  *    an unsupported predicate is NOT claimed (it stays a residual Spark
  *    Filter above the scan).
  *  - in-reader filtering is semantics-preserving: filtered read ==
  *    unfiltered read + Spark-side filter.
  *  - type surface: long/int/double/string/date round-trip, empty
  *    non-string fields are NULL.
  */
class Dsv2SourceSpec extends SparkSuite {

  private val dir = Files.createTempDirectory("graft_dsv2_spec").toFile
  dir.deleteOnExit()

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("grp", StringType),
    StructField("score", DoubleType),
    StructField("rank", IntegerType),
    StructField("day", DateType)))

  // 200 rows, line lengths vary so byte boundaries cut lines unevenly;
  // id 13 carries an empty score field (NULL contract)
  private val path = {
    val f = new java.io.File(dir, "t.tsv")
    val w = new java.io.PrintWriter(f, "UTF-8")
    (0 until 200).foreach { i =>
      val score = if (i == 13) "" else s"${i * 1.5}"
      val day = f"2024-01-${i % 28 + 1}%02d"
      w.println(s"$i\tg${i % 7}\t$score\t${i % 40}\t$day")
    }
    w.close()
    f.getAbsolutePath
  }

  private def read(opts: Map[String, String] = Map.empty): DataFrame = {
    val r = spark.read.format("graft-tsv").schema(schema)
    opts.foreach { case (k, v) => r.option(k, v) }
    r.load(path)
  }

  test("tiny byte-range splits read every line exactly once") {
    val whole = read().collect().map(_.toString).sorted
    assert(whole.length == 200)
    // 64-byte splits cut mid-line everywhere; ~20-byte lines → many splits
    val split = read(Map("split.bytes" -> "64"))
    assert(split.rdd.getNumPartitions > 10,
      s"expected many splits, got ${split.rdd.getNumPartitions}")
    assert(split.collect().map(_.toString).sorted.toSeq === whole.toSeq)
  }

  test("pushed filters and pruned schema are visible in the physical plan") {
    val q = read().filter(col("grp") === "g3" && col("id") >= 100L)
      .select("id", "score")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("GraftTsvScan"), plan)
    assert(plan.contains("EqualTo(grp,g3)"), s"grp filter not pushed:\n$plan")
    assert(plan.contains("GreaterThanOrEqual(id,100)"), s"id filter not pushed:\n$plan")
    // projection pruned to the selected columns (+ nothing else): the
    // filter columns are parsed in-reader but NOT part of the read schema
    assert(plan.contains("ReadSchema: struct<id:bigint,score:double>"),
      s"schema not pruned:\n$plan")
  }

  test("unsupported predicates stay Spark-side residuals") {
    val q = read().filter(col("grp").endsWith("3")) // EndsWith: not pushed
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(grp)]"),
      s"only IsNotNull should push:\n$plan")
    assert(plan.contains("Filter"), s"residual Filter node missing:\n$plan")
    assert(q.count() == read().collect().count(_.getString(1).endsWith("3")))
  }

  test("in-reader filtering matches Spark-side filtering") {
    val inReader = read()
      .filter(col("day") >= lit("2024-01-20").cast("date") &&
        col("rank") < 10 && col("score") > 50.0)
      .collect().map(_.toString).sorted.toSeq
    val sparkSide = read().collect()
      .filter(r => !r.isNullAt(2) && !r.isNullAt(4) &&
        r.getDate(4).toLocalDate.getDayOfMonth >= 20 &&
        r.getInt(3) < 10 && r.getDouble(2) > 50.0)
      .map(_.toString).sorted.toSeq
    assert(inReader === sparkSide)
    assert(inReader.nonEmpty)
  }

  test("empty non-string field is NULL; IsNotNull prunes it in-reader") {
    val all = read().collect()
    assert(all.count(_.isNullAt(2)) == 1)
    assert(read().filter(col("score").isNotNull).count() == 199)
  }

  test("aggregation over the connector matches the same file via Spark csv") {
    val viaCsv = spark.read.schema(schema)
      .option("sep", "\t").csv(path)
      .groupBy("grp").agg(count(lit(1)).as("n"),
        sum("score").cast("string").as("s"))
      .collect().map(_.toString).sorted.toSeq
    val viaDsv2 = read().groupBy("grp").agg(count(lit(1)).as("n"),
        sum("score").cast("string").as("s"))
      .collect().map(_.toString).sorted.toSeq
    assert(viaDsv2 === viaCsv)
  }

  test("statistics report file bytes so CBO can size the relation") {
    val rel = read().queryExecution.optimizedPlan
    val bytes = new java.io.File(path).length()
    assert(rel.stats.sizeInBytes == BigInt(bytes),
      s"expected $bytes, got ${rel.stats.sizeInBytes}")
  }

  test("count(*) over an empty projection still scans correctly") {
    assert(read().count() == 200)
    assert(read(Map("split.bytes" -> "64")).count() == 200)
  }

  test("custom SQL metrics expose pushdown selectivity (linesRead vs rowsEmitted)") {
    val q = read().filter(col("grp") === "g3")
    q.collect()
    val scan = q.queryExecution.executedPlan.collectFirst {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
    }.getOrElse(q.queryExecution.executedPlan).collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.getOrElse(fail("no BatchScanExec in plan"))
    assert(scan.metrics("linesRead").value == 200,
      s"all lines consumed: ${scan.metrics("linesRead").value}")
    val expected = 200 / 7 + (if (3 < 200 % 7) 1 else 0)
    assert(scan.metrics("rowsEmitted").value == expected,
      s"only g3 rows should survive pushdown: ${scan.metrics("rowsEmitted").value}")
  }

  test("COUNT(*) pushes into the source as one partial count per split") {
    val q = read(Map("split.bytes" -> "512")).groupBy().count()
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregation: [COUNT(*)]"), plan)
    assert(q.collect().head.getLong(0) == 200)
    // pushed predicates are honored by the pushed count
    val qf = read().filter(col("grp") === "g3").groupBy().count()
    assert(qf.queryExecution.executedPlan.toString
      .contains("PushedAggregation: [COUNT(*)]"))
    assert(qf.collect().head.getLong(0) == 29)
    // grouped aggregates stay in Spark (partial agg already optimal there)
    val qg = read().groupBy("grp").count()
    assert(!qg.queryExecution.executedPlan.toString.contains("PushedAggregation"))
    assert(qg.collect().map(_.getLong(1)).sum == 200)
  }

  private def batchScanOf(df: DataFrame) = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    // AQE wraps executed subtrees in QueryStageExec, which collect() does
    // not descend into — recurse through the stage boundaries by hand
    def find(p: SparkPlan): Option[BatchScanExec] = p match {
      case b: BatchScanExec => Some(b)
      case a: AdaptiveSparkPlanExec => find(a.executedPlan)
      case q: QueryStageExec => find(q.plan)
      case other => other.children.iterator.flatMap(find(_).iterator)
        .nextOption()
    }
    find(df.queryExecution.executedPlan).getOrElse(fail("no BatchScanExec in plan"))
  }

  test("a join's runtime key set reaches INTO the reader (runtime V2 filtering)") {
    import spark.implicits._
    // dim with a selective filter → Spark plans a dynamic-pruning subquery
    // against the scan's filterAttributes and hands the realized key set
    // to GraftTsvScan.filter() after the broadcast executes
    val dimDir = new java.io.File(dir, "rtdim")
    Seq(("g1", "keep"), ("g4", "keep"), ("g2", "drop")).toDF("grp", "tag")
      .write.mode("overwrite").parquet(dimDir.getAbsolutePath)
    val dim = spark.read.parquet(dimDir.getAbsolutePath)
      .filter(col("tag") === "keep")
    val j = read().join(dim, "grp")
    val rows = j.collect()
    val expected = read().collect().count(r => Set("g1", "g4").contains(r.getString(1)))
    assert(rows.length == expected && expected > 0)
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.contains("RuntimeFilters: [dynamicpruningexpression"),
      s"runtime filter not planned against the scan:\n${plan.take(1500)}")
    // the metrics prove rows died INSIDE the reader, not at the join:
    // every line was consumed, only the runtime key set's rows emitted
    val scan = batchScanOf(j)
    assert(scan.metrics("linesRead").value == 200,
      s"linesRead=${scan.metrics("linesRead").value}")
    assert(scan.metrics("rowsEmitted").value == expected,
      s"the runtime IN-set must drop rows in-reader: " +
        s"rowsEmitted=${scan.metrics("rowsEmitted").value}, expected=$expected")
  }

  test("pushed comparisons use Spark's SQL semantics: ±0.0, NaN, non-BMP strings") {
    // a pushed filter is NOT re-evaluated post-scan, so the in-reader
    // comparators must match Spark exactly where Java disagrees with it:
    // Double.compare says -0.0 < 0.0 (Spark: equal), String.compareTo
    // orders by UTF-16 units so U+1F600 < U+E000 (Spark compares UTF-8
    // bytes: U+1F600 > U+E000). Oracle = the same file through Spark csv.
    val f = new java.io.File(dir, "sem.tsv")
    val w = new java.io.PrintWriter(f, "UTF-8")
    Seq("1\t😀\t-0.0", "2\t\t0.0", "3\tz\tNaN",
      "4\ta\t1.0", "5\tb\t-1.0").foreach(w.println)
    w.close()
    val s = StructType(Seq(StructField("id", LongType),
      StructField("s", StringType), StructField("x", DoubleType)))
    def both(mk: DataFrame => DataFrame): Unit = {
      val viaDsv2 = mk(spark.read.format("graft-tsv").schema(s)
        .load(f.getAbsolutePath)).collect().map(_.getLong(0)).sorted.toSeq
      val viaCsv = mk(spark.read.schema(s).option("sep", "\t")
        .csv(f.getAbsolutePath)).collect().map(_.getLong(0)).sorted.toSeq
      assert(viaDsv2 === viaCsv)
    }
    both(_.filter(col("x") === 0.0))            // must keep -0.0 AND 0.0
    both(_.filter(col("x") < 0.0))              // must NOT include -0.0
    both(_.filter(col("x") >= 0.0))             // -0.0 qualifies; NaN is largest
    both(_.filter(col("x") > 1.0))              // NaN > everything
    both(_.filter(col("x") === Double.NaN))     // Spark: NaN = NaN is true
    both(_.filter(col("s") > ""))         // UTF-8 order: emoji survives
    both(_.filter(col("s") < ""))
    both(_.filter(col("s") === "😀"))
  }

  test("non-positive split.bytes is rejected, not an empty scan") {
    Seq("-1", "0", "abc").foreach { v =>
      val e = intercept[Exception] {
        read(Map("split.bytes" -> v)).collect()
      }
      assert(e.getMessage.contains("split.bytes must be positive") ||
        Option(e.getCause).exists(_.getMessage.contains("split.bytes must be positive")),
        s"split.bytes=$v: ${e.getMessage}")
    }
  }

  test("malformed option values fail with an IllegalArgumentException naming the option") {
    def rejects(key: String)(run: => Any): Unit = {
      val e = intercept[Exception](run)
      val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
      assert(chain.exists(c => c.isInstanceOf[IllegalArgumentException] &&
        Option(c.getMessage).exists(_.contains(key))), s"$key: $e")
    }
    val out = Files.createTempDirectory("graft_dsv2_badopt").toString
    val s = spark
    import s.implicits._
    rejects("stats.block.bytes") {
      Seq((1L, "a")).toDF("id", "v").write.format("graft-tsv")
        .option("stats.block.bytes", "abc").mode("append").save(out)
    }
    rejects("generation")(read(Map("generation" -> "abc")).collect())
    rejects("delimiter")(read(Map("delimiter" -> "")).collect())
    rejects("delimiter")(read(Map("delimiter" -> "||")).collect())
  }

  test("vectorized read: ColumnarToRow above the scan, results equal the row path") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.ColumnarToRowExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def hasColumnarBridge(p: SparkPlan): Boolean = p match {
      case _: ColumnarToRowExec => true
      case a: AdaptiveSparkPlanExec => hasColumnarBridge(a.executedPlan)
      case q: QueryStageExec => hasColumnarBridge(q.plan)
      case other => other.children.exists(hasColumnarBridge)
    }
    // default is vectorized: the plan carries the batch→row bridge
    val vec = read(Map("split.bytes" -> "512"))
    assert(hasColumnarBridge(vec.queryExecution.executedPlan),
      vec.queryExecution.executedPlan.toString)
    // identical rows (nulls, doubles, dates, tiny splits) vs the row path
    val row = read(Map("split.bytes" -> "512", "vectorized.read" -> "false"))
    assert(!hasColumnarBridge(row.queryExecution.executedPlan),
      "vectorized.read=false must plan the row reader")
    assert(vec.collect().map(_.toString).sorted.toSeq ===
      row.collect().map(_.toString).sorted.toSeq)
    // predicates + projection through the columnar path, metrics intact
    val q = read(Map("split.bytes" -> "512"))
      .filter(col("grp") === "g3" && col("score") > 10.0).select("id", "day")
    val expected = read(Map("vectorized.read" -> "false"))
      .filter(col("grp") === "g3" && col("score") > 10.0).select("id", "day")
      .collect().map(_.toString).sorted.toSeq
    assert(q.collect().map(_.toString).sorted.toSeq === expected)
  }

  test("byte-level numeric parsers match the JDK exactly (fuzz + edges)") {
    import graft.sources.GraftTsvColumnarReader.{parseDateDays, parseLong}
    def bytes(s: String) = s.getBytes("UTF-8")
    val edges = Seq("0", "-0", "+7", "9223372036854775807", "-9223372036854775808",
      "000123", "-000123", "42")
    edges.foreach { s =>
      assert(parseLong(bytes(s), 0, s.length) == java.lang.Long.parseLong(s), s)
    }
    val bad = Seq("", "-", "+", "1x", "9223372036854775808",
      "-9223372036854775809", "12 ", "1.5")
    bad.foreach { s =>
      intercept[NumberFormatException] { parseLong(bytes(s), 0, s.length) }
    }
    // Long.parseLong accepts any Unicode Nd digit via Character.digit —
    // the byte fast path must FALL BACK, not diverge from the row reader
    val unicode = Seq("١٢٣" /* Arabic-Indic 123 */,
      "-৪৫" /* Bengali -45 */, "１０" /* fullwidth 10 */)
    unicode.foreach { s =>
      assert(parseLong(bytes(s), 0, bytes(s).length) ==
        java.lang.Long.parseLong(s), s)
    }
    val rnd = new scala.util.Random(7)
    (1 to 2000).foreach { _ =>
      val v = rnd.nextLong()
      val s = v.toString
      assert(parseLong(bytes(s), 0, s.length) == v)
    }
    // dates: fast path (padded ISO) and fallback agree with LocalDate.parse
    Seq("2024-03-05", "0001-01-01", "1969-12-31", "9999-12-31", "+10000-01-02")
      .foreach { s =>
        assert(parseDateDays(bytes(s), 0, s.length) ==
          java.time.LocalDate.parse(s).toEpochDay.toInt, s)
      }
    intercept[RuntimeException] { parseDateDays(bytes("2024-13-05"), 0, 10) }
    intercept[RuntimeException] { parseDateDays(bytes("2024-02-30"), 0, 10) }
  }

  test("header option skips the first line of the file") {
    val f = new java.io.File(dir, "h.tsv")
    val w = new java.io.PrintWriter(f, "UTF-8")
    w.println("id\tgrp\tscore\trank\tday")
    w.println("1\ta\t2.0\t3\t2024-02-01")
    w.close()
    val df = spark.read.format("graft-tsv").schema(schema)
      .option("header", "true").load(f.getAbsolutePath)
    assert(df.collect().map(_.getLong(0)).toSeq === Seq(1L))
  }
}
