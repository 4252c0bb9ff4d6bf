package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Column min/max statistics in the graft-tsv generation manifest: the
  * writer records per-file ranges for data columns; the reader skips
  * files whose range provably excludes a pushed (or runtime) predicate —
  * file skipping WITHOUT partitioning. Proves:
  *  - range predicates skip non-matching files (linesRead, not inference);
  *  - results are identical to the unpruned read (skipping only ever
  *    under-prunes);
  *  - appended generations keep the old files' stats;
  *  - a runtime join key set prunes files through the same ranges;
  *  - NaN-bearing doubles and string ranges stay conservative/correct.
  */
class Dsv2StatsSpec extends SparkSuite {

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("s", StringType),
    StructField("x", DoubleType)))

  private def freshDir(): String = {
    val d = Files.createTempDirectory("graft_dsv2_stats").toFile
    d.deleteOnExit()
    new java.io.File(d, "t").getAbsolutePath
  }

  private def write(df: DataFrame, dir: String, mode: String = "overwrite"): Unit =
    df.write.format("graft-tsv").mode(mode).save(dir)

  private def read(dir: String): DataFrame =
    spark.read.format("graft-tsv").schema(schema).load(dir)

  private def scanOf(df: DataFrame) = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    def find(p: SparkPlan): Option[BatchScanExec] = p match {
      case b: BatchScanExec => Some(b)
      case a: AdaptiveSparkPlanExec => find(a.executedPlan)
      case q: QueryStageExec => find(q.plan)
      case other => other.children.iterator.flatMap(find(_).iterator).nextOption()
    }
    find(df.queryExecution.executedPlan).getOrElse(fail("no BatchScanExec"))
  }

  private def src(n: Int): DataFrame =
    spark.range(n).select(col("id"),
      concat(lit("k"), format_string("%04d", col("id"))).as("s"),
      (col("id") * 1.5).as("x"))

  test("range predicates skip whole files via manifest stats") {
    val dir = freshDir()
    // range-partitioned write → disjoint id ranges per part file
    write(src(120).repartitionByRange(4, col("id")), dir)
    val full = read(dir)
    assert(full.count() == 120)

    val q = full.filter(col("id") < 15L)
    val rows = q.collect()
    assert(rows.map(_.getLong(0)).sorted.toSeq === (0L until 15L))
    val lines = scanOf(q).metrics("linesRead").value
    assert(lines < 120 && lines >= 15,
      s"id<15 must skip files whose min exceeds it: linesRead=$lines")

    // equality and IN hit exactly one file's range
    val q2 = full.filter(col("id") === 100L)
    assert(q2.collect().map(_.getLong(0)).toSeq === Seq(100L))
    assert(scanOf(q2).metrics("linesRead").value <= 40,
      "a point lookup must read only the covering file")

    // string ranges prune too (k0000..k0119 sorts like the ids)
    val q3 = full.filter(col("s") >= "k0110")
    assert(q3.collect().length == 10)
    val l3 = scanOf(q3).metrics("linesRead").value
    assert(l3 > 0 && l3 < 120, s"string range must skip files: $l3")

    // double ranges
    val q4 = full.filter(col("x") > 150.0)
    assert(q4.collect().length == 19)
    val l4 = scanOf(q4).metrics("linesRead").value
    assert(l4 > 0 && l4 < 120, s"double range must skip files: $l4")
  }

  test("skipping never changes results (conservative under-pruning)") {
    val dir = freshDir()
    write(src(200).repartitionByRange(5, col("id")), dir)
    val full = read(dir)
    val expected = full.collect().filter(r =>
      r.getLong(0) % 7 == 0 && r.getDouble(2) <= 100.0).map(_.toString).sorted.toSeq
    val got = full.filter(col("x") <= 100.0)
      .collect().filter(_.getLong(0) % 7 == 0).map(_.toString).sorted.toSeq
    assert(got === expected)
  }

  test("append keeps prior generations' stats prunable") {
    val dir = freshDir()
    write(src(50).coalesce(1), dir)
    write(spark.range(1000, 1050).select(col("id"),
      concat(lit("k"), format_string("%04d", col("id"))).as("s"),
      (col("id") * 1.5).as("x")).coalesce(1), dir, mode = "append")
    val full = read(dir)
    assert(full.count() == 100)
    // predicate excludes the appended file entirely; the OLD file's
    // stats must still be present in the new generation's manifest
    val q = full.filter(col("id") < 50L)
    assert(q.collect().length == 50)
    assert(scanOf(q).metrics("linesRead").value == 50,
      "the appended high-range file must be skipped by carried-over stats")
  }

  test("a runtime join key set prunes files through the same ranges") {
    import spark.implicits._
    val dir = freshDir()
    write(src(120).repartitionByRange(4, col("id")), dir)
    val dimDir = Files.createTempDirectory("graft_dsv2_stats_dim").toFile
    Seq((5L, "keep"), (7L, "keep"), (9999L, "drop")).toDF("id", "tag")
      .write.mode("overwrite").parquet(dimDir.getAbsolutePath)
    val dim = spark.read.parquet(dimDir.getAbsolutePath)
      .filter(col("tag") === "keep").select("id")
    val j = read(dir).join(broadcast(dim), "id")
    assert(j.collect().map(_.getLong(0)).sorted.toSeq === Seq(5L, 7L))
    val lines = scanOf(j).metrics("linesRead").value
    assert(lines < 120,
      s"the realized key set {5,7} must skip files whose range excludes it: $lines")
  }

  test("stats recorded under a different type are ignored, never over-prune") {
    // write longs (stats in NUMERIC order), re-read the column as STRING
    // (legal — the reader takes any explicit schema) and filter
    // LEXICALLY: "9" >= "50" but 9 < 50, so numeric ranges would wrongly
    // skip the file. The type tag makes the reader ignore them.
    val dir = freshDir()
    spark.range(200).select(col("id"),
      concat(lit("s"), col("id")).as("s"), (col("id") * 1.0).as("x"))
      .repartitionByRange(4, col("id"))
      .write.format("graft-tsv").mode("overwrite").save(dir)
    val asString = StructType(Seq(
      StructField("id", StringType),
      StructField("s", StringType),
      StructField("x", DoubleType)))
    val got = spark.read.format("graft-tsv").schema(asString).load(dir)
      .filter(col("id") >= "50")
      .collect().map(_.getString(0)).sorted.toSeq
    val expected = (0L until 200L).map(_.toString).filter(_ >= "50").sorted
    assert(got === expected,
      s"lexical filter over retyped column lost rows: got ${got.size}, " +
        s"expected ${expected.size}")
  }

  test("writer-recorded row counts feed CBO numRows, pruned listing included") {
    val dir = freshDir()
    write(src(120).repartitionByRange(4, col("id")), dir)
    // exact table cardinality, straight from manifest metadata
    val full = read(dir)
    assert(full.queryExecution.optimizedPlan.stats.rowCount.contains(BigInt(120)),
      s"stats: ${full.queryExecution.optimizedPlan.stats}")
    // after static pruning, numRows reflects only the surviving files
    val part = read(dir).filter(col("id") < 15L)
    val rc = part.queryExecution.optimizedPlan.stats.rowCount
    assert(rc.isDefined && rc.get < BigInt(120) && rc.get >= BigInt(15),
      s"pruned rowCount should cover only surviving files: $rc")
  }

  test("block stats skip SPLITS inside one large sorted file") {
    // file-level min/max cannot skip anything here: ONE sorted file whose
    // overall range covers every predicate. Per-block stats must prune
    // the SPLITS whose overlapping blocks exclude the range — the
    // parquet-row-group analog, where most of a big corpus lives.
    val dir = freshDir()
    src(4000).repartition(1).sortWithinPartitions("id")
      .write.format("graft-tsv")
      .option("stats.block.bytes", "4096")
      .mode("overwrite").save(dir)
    val nParts = new java.io.File(dir).listFiles()
      .count(f => f.getName.startsWith("part-") && f.length > 0)
    assert(nParts == 1, s"test needs exactly one data file, got $nParts")

    def readSplit(): DataFrame = spark.read.format("graft-tsv").schema(schema)
      .option("split.bytes", "16384").load(dir)
    assert(readSplit().count() == 4000)

    val q = readSplit().filter(col("id") < 100L)
    assert(q.collect().map(_.getLong(0)).sorted.toSeq === (0L until 100L))
    val lines = scanOf(q).metrics("linesRead").value
    assert(lines < 2000,
      s"id<100 over a sorted file must skip most splits: linesRead=$lines")
    assert(lines >= 100, s"the covering split must be read: linesRead=$lines")

    // a mid-range predicate: interior splits only
    val q2 = readSplit().filter(col("id") >= 2000L && col("id") < 2100L)
    assert(q2.collect().length == 100)
    assert(scanOf(q2).metrics("linesRead").value < 2000,
      "an interior range must not read the whole file")

    // conservative: split-pruned results equal the unpruned read
    val all = readSplit().filter(col("x") <= 1500.0).collect()
      .map(_.toString).sorted.toSeq
    val expected = src(4000).filter(col("x") <= 1500.0).collect()
      .map(_.toString).sorted.toSeq
    assert(all === expected)
  }

  test("pushed COUNT(*) reports split-count cardinality, not table rows") {
    // under aggregate pushdown the scan's real output is ONE partial-count
    // row per split — estimateStatistics must not keep reporting the
    // manifest's table numRows (orders of magnitude above the relation's
    // post-pushdown cardinality, poisoning CBO estimates above it)
    import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar}
    import org.apache.spark.sql.connector.expressions.Expression
    import org.apache.spark.sql.connector.read.SupportsReportStatistics
    val dir = freshDir()
    write(src(120).repartitionByRange(4, col("id")), dir)
    val nFiles = new java.io.File(dir).listFiles()
      .count(f => f.getName.startsWith("part-") && f.length > 0)
    def scanStats(pushCount: Boolean) = {
      val b = new graft.sources.GraftTsvScanBuilder(schema,
        graft.sources.GraftTsvOptions(Map("path" -> dir)))
      if (pushCount)
        assert(b.pushAggregation(new Aggregation(
          Array(new CountStar), Array.empty[Expression])))
      b.build().asInstanceOf[SupportsReportStatistics].estimateStatistics()
    }
    val plain = scanStats(pushCount = false)
    assert(plain.numRows().getAsLong == 120)
    val counted = scanStats(pushCount = true)
    // every part file is far below split.bytes → one split per file
    assert(counted.numRows().getAsLong == nFiles,
      s"countOnly numRows must be the planned split count ($nFiles), " +
        s"got ${counted.numRows()}")
  }

  test("manifest column bounds estimate pushed selectivity: join flips to broadcast") {
    // a pushed predicate never leaves a residual Filter node (the reader
    // evaluates it exactly), so NO FilterEstimation runs above the scan —
    // the scan's own estimate must apply the predicate's selectivity or
    // a 1%-selective join side is costed at full size forever. The
    // manifest column bounds give a range predicate's fraction by linear
    // interpolation; a predicate with no usable bounds (string column
    // here) keeps the full estimate and the join stays sort-merge.
    // Isolated on a cloned session (AQE + threshold are session confs).
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
    val dir = freshDir()
    val dimDir = freshDir()
    write(src(20000).repartitionByRange(4, col("id")), dir)
    write(src(20000).repartitionByRange(4, col("id")), dimDir)

    def planOf(selective: Boolean): SparkPlan = {
      val ss = spark.newSession()
      ss.conf.set("spark.sql.adaptive.enabled", "false")
      ss.conf.set("spark.sql.autoBroadcastJoinThreshold", (64 * 1024).toString)
      def rd(d: String) = ss.read.format("graft-tsv").schema(schema).load(d)
      // both sides ~500 KB unfiltered — neither broadcasts on its own.
      // x < 300 keeps 1% (x = id * 1.5, bounds recorded); the string
      // filter keeps ~99% but has no numeric bounds → estimate unchanged
      val fact = rd(dimDir).select(col("id"), col("x").as("dim_x"))
      val filtered =
        if (selective) rd(dir).filter(col("x") < 300.0).select("id", "s")
        else rd(dir).filter(col("s") >= "k0100").select("id", "s")
      fact.join(filtered, "id").queryExecution.sparkPlan
    }
    def joins(p: SparkPlan): Seq[String] = p.collect {
      case _: BroadcastHashJoinExec => "bhj"
      case _: SortMergeJoinExec => "smj"
    }
    assert(joins(planOf(selective = true)) === Seq("bhj"),
      s"a 1% pushed range must shrink the estimate below the broadcast " +
        s"threshold:\n${planOf(selective = true)}")
    assert(joins(planOf(selective = false)) === Seq("smj"),
      s"a predicate without numeric bounds must keep the full-size " +
        s"estimate:\n${planOf(selective = false)}")
    // the bounds also surface as V2 column statistics for CBO consumers
    val ss = spark.newSession()
    ss.conf.set("spark.sql.cbo.enabled", "true")
    val stats = ss.read.format("graft-tsv").schema(schema).load(dir)
      .queryExecution.optimizedPlan.stats
    assert(stats.attributeStats.nonEmpty,
      s"column bounds must reach catalyst attributeStats: $stats")
    val idStat = stats.attributeStats.find(_._1.name == "id").map(_._2)
    assert(idStat.exists(s => s.min.contains(0L) && s.max.contains(19999L)),
      s"id bounds must be [0, 19999]: $idStat")
  }

  // --- block-list corruption: sub-file skipping must fail SAFE --------
  // Both tests corrupt the committed manifest's block stats for a sorted
  // single-file table and assert the reader returns every matching row
  // with skipping fully disabled for that file (linesRead = whole file).
  // Partial block coverage is the one corruption shape that could LOSE
  // rows: a split whose only surviving intersecting blocks exclude the
  // predicate would be pruned even though its matching rows lived in a
  // dropped entry's byte range.

  private def blockTable(): String = {
    val dir = freshDir()
    src(4000).repartition(1).sortWithinPartitions("id")
      .write.format("graft-tsv").option("stats.block.bytes", "4096")
      .mode("overwrite").save(dir)
    dir
  }

  private def corruptManifest(dir: String)(f: String => String): Unit = {
    val gen = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("_gen-")).maxBy(_.getName)
    val txt = new String(Files.readAllBytes(gen.toPath), "UTF-8")
    val out = f(txt)
    assert(out != txt, "corruption must change the manifest")
    Files.write(gen.toPath, out.getBytes("UTF-8"))
    // drop the ChecksumFileSystem sidecar — the edit is out-of-band
    new java.io.File(gen.getParent, s".${gen.getName}.crc").delete()
  }

  private def assertNoSkipStillCorrect(dir: String): Unit = {
    val q = spark.read.format("graft-tsv").schema(schema)
      .option("split.bytes", "16384").load(dir).filter(col("id") < 100L)
    assert(q.collect().map(_.getLong(0)).sorted.toSeq === (0L until 100L),
      "corrupt block stats must never lose rows")
    assert(scanOf(q).metrics("linesRead").value == 4000,
      "skipping must be fully disabled for a file with corrupt blocks")
  }

  test("a structurally corrupt block entry disables ALL blocks for the file") {
    val dir = blockTable()
    // truncate the FIRST #b entry to `#b:<s>:<e>` (no inner cell): the
    // parse is all-or-nothing, so every block of the file is discarded
    corruptManifest(dir)(txt =>
      txt.replaceFirst("#b:(\\d+):(\\d+):[^,\\n]*", "#b:$1:$2"))
    assertNoSkipStillCorrect(dir)
  }

  test("a coverage gap in otherwise well-formed blocks disables skipping") {
    val dir = blockTable()
    // delete the SECOND block entry entirely — every survivor parses,
    // but the blocks no longer tile the file; the reader must detect the
    // gap and keep every split
    corruptManifest(dir) { txt =>
      val m = "(,#b:\\d+:\\d+:[^,\\n]*)".r.findAllMatchIn(txt).toSeq
      assert(m.size >= 3, s"need several block entries, got ${m.size}")
      txt.substring(0, m(1).start) + txt.substring(m(1).end)
    }
    assertNoSkipStillCorrect(dir)
  }

  test("NaN-bearing files are never skipped by > predicates") {
    import spark.implicits._
    val dir = freshDir()
    Seq((1L, "a", 1.0), (2L, "b", Double.NaN))
      .toDF("id", "s", "x").coalesce(1).write.format("graft-tsv")
      .mode("overwrite").save(dir)
    // NaN is Spark's largest double: the file's max is NaN, so x > 1e9
    // must keep the file and return the NaN row — skipping here would be
    // an over-prune
    val got = read(dir).filter(col("x") > 1e9).collect()
    assert(got.map(_.getLong(0)).toSeq === Seq(2L),
      s"NaN row must survive: ${got.mkString(",")}")
  }
}
