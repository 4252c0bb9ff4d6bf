package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Parity._

/** Physical-layout operators: Z-order (Morton) multi-dimensional
  * clustering and small-file compaction — the two table-maintenance
  * primitives a long-lived 100 TB table needs beyond partitioning and
  * bucketing (both of which are already under the gate as
  * q_partitioned_sink / q_bucketed_join).
  *
  * The reference has no layout surface at all (its only sink is a text
  * file, reference WordCount.java:61, TopkCommonWords.java:174); these are
  * extension operators in the SURVEY.md §2.4 spirit: the compute is
  * declarative Spark, the layout decision is explicit.
  *
  * Z-ORDER. A single-column sort clusters one predicate dimension; an
  * interleaved-bit (Morton) sort clusters ALL participating dimensions at
  * once, so per-file min/max statistics form tight bounding boxes and a
  * selective predicate on ANY of the dimensions skips most files. The
  * catalog query computes the full pipeline portably — range-normalize
  * each dimension to 16 bits, interleave to a 32-bit z-value, assign
  * contiguous z-range buckets (the "files"), and report each bucket's
  * bounding box — so the oracle verifies the assignment AND the output
  * makes the tightness visible (per-bucket pk/sk ranges ≪ global range).
  * ZOrderSpec asserts the corresponding physical layout on a real
  * repartitionByRange write: every file's box is a small fraction of the
  * key space on BOTH dimensions simultaneously.
  *
  * Scale shape: normalization needs the per-dimension max (one tiny agg,
  * broadcast); the z-value is a pure codegen projection; bucket assignment
  * by z-range is `repartitionByRange` at write time — a sample-based range
  * exchange, the same cost class as any sort-write. No all-to-one step
  * anywhere.
  */
object Layout {

  // ---- 16-bit Morton interleave, portable integer arithmetic ----
  // (Column side lives in graft.functions.ZOrder, shared with the
  // graft-tsv catalog's `CALL g.system.zorder` rewrite; the SQL mirror
  // below stays here for the DuckDB oracle.)

  private val Masks: Seq[(Int, Long)] = Seq(
    8 -> 0x00FF00FFL, 4 -> 0x0F0F0F0FL, 2 -> 0x33333333L, 1 -> 0x55555555L)

  /** zval = interleave(nx, ny): nx in even bits, ny in odd bits. */
  def morton(nx: Column, ny: Column): Column =
    graft.functions.ZOrder.morton(nx, ny)

  private def sqlSpread(e: String): String =
    Masks.foldLeft(e) { case (x, (s, m)) => s"((($x) | (($x) << $s)) & $m)" }

  private def sqlMorton(nx: String, ny: String): String =
    s"(${sqlSpread(nx)} | (${sqlSpread(ny)} << 1))"

  private val NumBuckets = 16

  /** Range-normalize a key to [0, 65535] — integer-exact in both engines
    * (`div` / `//`). Real z-order writers do the same with range
    * boundaries; max-normalization keeps the oracle to one scalar agg. */
  private def norm(c: String, maxC: String): Column =
    expr(s"($c * 65536L) div ($maxC + 1L)")

  private val qZorder = QueryDef(
    "q_zorder_layout",
    Some(s"""
      |WITH dims AS (
      |  SELECT max(l_partkey) AS pkm, max(l_suppkey) AS skm FROM lineitem),
      |zv AS (
      |  SELECT l_partkey AS pk, l_suppkey AS sk,
      |    ${sqlMorton("(l_partkey * 65536) // (pkm + 1)",
                       "(l_suppkey * 65536) // (skm + 1)")} AS zval
      |  FROM lineitem, dims),
      |zm AS (SELECT max(zval) AS zmax FROM zv),
      |bk AS (SELECT pk, sk, (zval * $NumBuckets) // (zmax + 1) AS bucket FROM zv, zm)
      |SELECT bucket, count(*) AS n,
      |  min(pk) AS pk_min, max(pk) AS pk_max,
      |  min(sk) AS sk_min, max(sk) AS sk_max
      |FROM bk GROUP BY bucket ORDER BY bucket
      |""".stripMargin.trim),
    (spark, dir) => {
      val li = tbl(spark, dir, "lineitem").select(
        col("l_partkey").as("pk"), col("l_suppkey").as("sk"))
      val dims = li.agg(max("pk").as("pkm"), max("sk").as("skm"))
      val zv = li.crossJoin(broadcast(dims))
        .select(col("pk"), col("sk"),
          morton(norm("pk", "pkm"), norm("sk", "skm")).as("zval"))
      val zm = zv.agg(max("zval").as("zmax"))
      zv.crossJoin(broadcast(zm))
        .select(col("pk"), col("sk"),
          expr(s"(zval * $NumBuckets) div (zmax + 1L)").as("bucket"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"),
          min("pk").as("pk_min"), max("pk").as("pk_max"),
          min("sk").as("sk_min"), max("sk").as("sk_max"))
        .orderBy("bucket")
    })

  // ---- small-file compaction ----

  /** Target bytes per compacted file. Production tables aim for
    * 128 MB-1 GB; the constant is small so the rule is exercised (not
    * degenerate) at test scale factors. */
  private val TargetFileBytes = 4L * 1024 * 1024
  private val SmallFiles = 48

  /** List the data files under a path (metadata-only driver op, same cost
    * class as planning-time file listing; Hadoop FS API so the identical
    * code runs against HDFS/object stores). */
  private[graft] def dataFiles(spark: SparkSession, path: String) = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p).filter(_.getPath.getName.startsWith("part-"))
  }

  /** Small-file compaction (OPTIMIZE): a streaming-ingested table accretes
    * one file per micro-batch per partition; at 100 TB the per-file open
    * cost and driver listing/scheduling pressure dominate scans long
    * before data volume does. The op: size the target file count from the
    * ACTUAL bytes on disk (metadata pass), then `coalesce` — a shuffle-free
    * narrow rewrite that concatenates input splits into the target files
    * (`repartition` would shuffle every byte; the right variant only when
    * the input is also skewed). The catalog query runs ingest → compact →
    * read-back → aggregate, with the oracle on the ORIGINAL table, so a
    * pass proves the rewrite is value-exact end-to-end; CompactionSpec
    * asserts the file counts and byte-rule on disk. */
  private val qCompact = QueryDef(
    "q_compact_small_files",
    Some(s"""
      |SELECT count(*) AS n, count(DISTINCT o_custkey) AS n_cust,
      |  ${sqlDsum(sqlDec("o_totalprice"))} AS sum_price,
      |  CAST(min(o_orderkey) AS BIGINT) AS min_key,
      |  CAST(max(o_orderkey) AS BIGINT) AS max_key
      |FROM orders
      |""".stripMargin.trim),
    (spark, dir) => {
      val out = compactedOrdersPath(spark, dir)
      spark.read.parquet(out)
        .agg(count(lit(1)).as("n"),
          countDistinct(col("o_custkey")).as("n_cust"),
          dsum(dec("o_totalprice")).as("sum_price"),
          min("o_orderkey").cast("long").as("min_key"),
          max("o_orderkey").cast("long").as("max_key"))
    })

  /** Ingest-many-small-files then compact; returns the compacted path.
    * Shared by the catalog query and CompactionSpec. */
  private[graft] def compactRoot(dir: String): String =
    ArtifactStore.workDir(dir, "compact")

  private[graft] def compactedOrdersPath(spark: SparkSession, dir: String): String = {
    val tmpRoot = compactRoot(dir)
    val small = s"$tmpRoot/small"
    val out = s"$tmpRoot/compacted"
    tbl(spark, dir, "orders")
      .repartition(SmallFiles)
      .write.mode("overwrite").parquet(small)
    val totalBytes = dataFiles(spark, small).map(_.getLen).sum
    val target = math.max(1L, (totalBytes + TargetFileBytes - 1) / TargetFileBytes).toInt
    spark.read.parquet(small)
      .coalesce(target)
      .write.mode("overwrite").parquet(out)
    out
  }

  val defs: Seq[QueryDef] = Seq(qZorder, qCompact)
}
