package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Parity._

/** Non-parquet FILE SOURCES under the driver's correctness gate.
  *
  * The reference's only source is line-split text (reference
  * WordCount.java:60, TopkCommonWords.java:172-173); SURVEY.md §2.3 lists
  * CSV/JSON as secondary engine formats. SourcesSpec proves the
  * round-trips in isolation; these catalog entries put them under the
  * oracle hash: each query writes a table out through the format, reads it
  * back through the corresponding file source, and aggregates — the oracle
  * runs on the ORIGINAL parquet, so a pass proves the source is
  * value-exact end-to-end (doubles survive because Spark writes
  * `Double.toString`, whose round-trip is exact by contract).
  *
  * Scale notes: both are splittable line-oriented formats (CSV without
  * embedded newlines, JSON-lines by construction), so a 100 TB ingest
  * parallelizes per-split exactly like the parquet path; the explicit
  * schema matters at scale — `inferSchema` is a full extra pass over the
  * data before the first real job.
  */
object SourceParity {

  /** Column definitions of the per-run customer tables of the stateful
    * exhibits that run in an [[IvmWindow]]. */
  private val CustCols =
    "c_custkey BIGINT, c_mktsegment STRING, c_acctbal_str STRING"
  private val DocCols = "doc_id BIGINT, text STRING"

  /** The change-feed consumer of the streaming IVM exhibits, over window
    * `w`'s table of `columns`: each [[drain]] runs the generation stream
    * in change-feed mode (`stream.changes`) to exhaustion (AvailableNow)
    * on the bare session [[ss]], into a parquet sink at [[out]] whose
    * rows carry the change column. Checkpoint and sink live in a fresh
    * work dir `prefix` that the window deletes: the table is fresh per
    * run, so a carried offset clock would point into a previous table (a
    * durable FILE sink, not memory — resuming from a checkpoint is
    * exactly what the second drain exercises, and the memory sink does
    * not support recovery). */
  private final class ChangeFeed(spark: SparkSession, w: IvmWindow,
      columns: String, prefix: String) {
    val schema: org.apache.spark.sql.types.StructType =
      org.apache.spark.sql.types.StructType.fromDDL(
        s"$columns, ${graft.sources.GraftTsvMeta.ChangeCol} STRING")
    val ss: SparkSession = spark.newSession()
    private val work = w.workDir(prefix)
    val out = s"$work/out"

    /** +1 for an inserted row, −1 for a deleted one. */
    val sign: org.apache.spark.sql.Column =
      when(col(graft.sources.GraftTsvMeta.ChangeCol) === "insert", lit(1))
        .otherwise(lit(-1))

    def drain(): Unit = {
      val q = ss.readStream.format("graft-tsv").schema(schema)
        .option("stream.by.generation", "true")
        .option("stream.changes", "true")
        .load(w.table.dir)
        .writeStream.format("parquet").option("path", out)
        .outputMode("append")
        .option("checkpointLocation", s"$work/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(); q.stop()
    }
  }

  /** Write `table` out as `format` into a STABLE [[ArtifactStore]] root
    * (keyed by source dir and signature, format, table and options — a
    * fresh `createTempDirectory` per build leaked one dir per
    * bench/verify run, and a stale export can never be joined against
    * regenerated testdata), read it back with the SAME explicit schema
    * (no inference pass). `cached` callers treat the exported file as a
    * PRE-EXISTING source (q_federated_join: the CSV/JSON "arrived" from an
    * external system; the operator under test is the cross-format join,
    * not the export), so a completed export is reused. The round-trip
    * queries keep cached=false — there the write path IS half the
    * exhibit, so it is rebuilt on every call. */
  private def roundTrip(
      spark: SparkSession, dir: String, table: String,
      format: String, options: Map[String, String],
      cached: Boolean = false): DataFrame = {
    val src = tbl(spark, dir, table)
    val store = if (cached) ArtifactStore.ensure _ else ArtifactStore.rebuild _
    val tmp = store(spark, dir, table, s"src_$format",
      options.toSeq.sorted.mkString(","))(
      src.write.format(format).options(options).mode("overwrite").save(_))
    spark.read.format(format).options(options).schema(src.schema).load(tmp)
  }

  /** CSV file source: customer → CSV (quoted, headered) → grouped agg.
    * c_name exercises quoting (commas inside values). */
  private val qCsvSource = QueryDef(
    "q_csv_source",
    Some(s"""
      |SELECT c_mktsegment, count(*) AS n,
      |  ${sqlDsum(sqlDec("c_acctbal"))} AS sum_bal,
      |  max(c_name) AS max_name
      |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment
      |""".stripMargin.trim),
    (spark, dir) =>
      roundTrip(spark, dir, "customer", "csv", Map("header" -> "true"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"), dsum(dec("c_acctbal")).as("sum_bal"),
          max("c_name").as("max_name"))
        .orderBy("c_mktsegment"))

  /** JSON-lines file source: part → JSON → grouped agg. */
  private val qJsonSource = QueryDef(
    "q_json_source",
    Some(s"""
      |SELECT p_brand, count(*) AS n,
      |  ${sqlDsum(sqlDec("p_retailprice"))} AS sum_price,
      |  max(p_size) AS max_size
      |FROM part GROUP BY p_brand ORDER BY p_brand
      |""".stripMargin.trim),
    (spark, dir) =>
      roundTrip(spark, dir, "part", "json", Map.empty)
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n"), dsum(dec("p_retailprice")).as("sum_price"),
          max("p_size").as("max_size"))
        .orderBy("p_brand"))

  /** ORC file source: supplier → ORC → grouped agg. ORC is the second
    * columnar format next to parquet (SURVEY §2.3's secondary formats);
    * unlike the line-oriented CSV/JSON round-trips above, this one proves
    * the engine's columnar write/read seam is not parquet-specific —
    * predicate pushdown, column pruning and vectorized reads all ride
    * Spark's native OrcFileFormat. At 100 TB the choice is organizational
    * (existing ORC lakes), not a performance fork: both formats split by
    * stripe/row-group and prune by column identically here. */
  private val qOrcSource = QueryDef(
    "q_orc_source",
    Some(s"""
      |SELECT s_nationkey, count(*) AS n,
      |  ${sqlDsum(sqlDec("s_acctbal"))} AS sum_bal,
      |  max(s_name) AS max_name
      |FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey
      |""".stripMargin.trim),
    (spark, dir) =>
      roundTrip(spark, dir, "supplier", "orc", Map.empty)
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("n"), dsum(dec("s_acctbal")).as("sum_bal"),
          max("s_name").as("max_name"))
        .orderBy("s_nationkey"))

  /** Hive-style partitioned parquet SINK + partition-pruned read-back,
    * under the oracle hash (SourcesSpec asserts the pruning mechanics —
    * `PartitionFilters` and file counts — in isolation; this entry proves
    * the layout is value-exact end-to-end). orders is written
    * `partitionBy(o_orderpriority)`; the read-back filter on the
    * partition column resolves at PLANNING time, so the two non-matching
    * priorities' files are never opened. This layout is the 100 TB
    * table-organization primitive: a date/tenant-partitioned fact means
    * every time-ranged query scans only its slice, and the partition
    * column costs zero bytes in the data files. */
  private val qPartitionedSink = QueryDef(
    "q_partitioned_sink",
    Some(s"""
      |SELECT o_orderpriority, count(*) AS n,
      |  ${sqlDsum(sqlDec("o_totalprice"))} AS sum_price
      |FROM orders WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
      |GROUP BY o_orderpriority ORDER BY o_orderpriority
      |""".stripMargin.trim),
    (spark, dir) => {
      val src = tbl(spark, dir, "orders")
      val tmp = ArtifactStore.workDir(dir, "sink_part_orders")
      src.write.partitionBy("o_orderpriority").mode("overwrite").parquet(tmp)
      spark.read.parquet(tmp)
        .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), dsum(dec("o_totalprice")).as("sum_price"))
        .orderBy("o_orderpriority")
    })

  /** Bucketed co-located LARGE×LARGE join under the oracle gate
    * (SourcesSpec asserts the no-Exchange plan in isolation; this entry
    * proves the layout end-to-end on values). Both fact tables are
    * written `bucketBy(16, join key)` + sorted within buckets, so the
    * sort-merge join reads both sides pre-partitioned and pre-sorted —
    * zero Exchange, zero Sort on the join itself; the only shuffle in
    * the plan is the final tiny group-by. This is THE layout decision
    * for a 100 TB fact-to-fact join: pay the bucketing once at write
    * time, then every subsequent join on that key is shuffle-free.
    * External-table paths (stable tmp) keep the repo clean; table names
    * carry the source dir's digest so warmup (sf0.001) and the measured
    * run (sf0.1) never collide in one session. */
  private val qBucketedJoin = QueryDef(
    "q_bucketed_join",
    Some(s"""
      |SELECT o_orderpriority, count(*) AS n,
      |  ${sqlDsum(sqlDec("l_extendedprice"))} AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority ORDER BY o_orderpriority
      |""".stripMargin.trim),
    (spark, dir) => {
      val tmp = ArtifactStore.workDir(dir, "bucketed")
      def bucketed(table: String, key: String, cols: Seq[String]): DataFrame = {
        val name = s"graft_${table}_bk_${ArtifactStore.dirDigest(dir)}"
        // Write the layout ONCE per session (the catalog check is the
        // guard): bucketing is a pay-once-at-write decision, and re-paying
        // it on every execution of the query mis-measured the join as 3×
        // its real cost. The source testdata is immutable within a session,
        // and the table name carries the source dir's digest, so a hit is
        // always the right layout.
        if (!spark.catalog.tableExists(name)) {
          tbl(spark, dir, table).select(cols.map(col): _*)
            .write.mode("overwrite")
            .bucketBy(16, key).sortBy(key)
            .option("path", s"$tmp/$table")
            .saveAsTable(name)
        }
        spark.table(name)
      }
      val li = bucketed("lineitem", "l_orderkey", Seq("l_orderkey", "l_extendedprice"))
      val ord = bucketed("orders", "o_orderkey", Seq("o_orderkey", "o_orderpriority"))
      // hint pins the SMJ strategy (at bench SF the dimension-sized side
      // would broadcast and never exercise the bucket layout); the
      // bucketed scan's output partitioning+ordering then elides both the
      // Exchange and the Sort — PlanAuditSpec asserts exactly that
      li.hint("merge").join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), dsum(dec("l_extendedprice")).as("revenue"))
        .orderBy("o_orderpriority")
    })

  /** Schema evolution across parquet batches: an early batch written
    * WITHOUT `p_size`, a later batch written with it, read back together
    * under `mergeSchema=true` — the widened schema surfaces the missing
    * column as NULL for old rows, and the aggregate handles it with
    * `coalesce`. This is the append-only table-evolution contract every
    * long-lived 100 TB dataset needs (columns arrive over time; old files
    * are never rewritten). Note the scale caveat the option implies:
    * merging reads every file's footer — production layouts record the
    * merged schema once in the catalog instead of re-deriving it per
    * query. The oracle reconstructs the same widened view from the
    * original table, so the pass proves the merged read is value-exact. */
  private val qSchemaEvolution = QueryDef(
    "q_schema_evolution",
    Some(s"""
      |SELECT p_brand, count(*) AS n,
      |  ${sqlDsum(sqlDec("p_retailprice"))} AS sum_price,
      |  CAST(sum(CASE WHEN p_partkey % 2 = 1 THEN p_size ELSE 0 END) AS BIGINT) AS sum_size
      |FROM part GROUP BY p_brand ORDER BY p_brand
      |""".stripMargin.trim),
    (spark, dir) => {
      val part = tbl(spark, dir, "part")
      val tmp = ArtifactStore.workDir(dir, "evolve_part")
      part.filter(col("p_partkey") % 2 === 0)
        .select("p_partkey", "p_brand", "p_retailprice")
        .write.mode("overwrite").parquet(s"$tmp/batch1")
      part.filter(col("p_partkey") % 2 === 1)
        .select("p_partkey", "p_brand", "p_retailprice", "p_size")
        .write.mode("overwrite").parquet(s"$tmp/batch2")
      spark.read.option("mergeSchema", "true")
        .parquet(s"$tmp/batch1", s"$tmp/batch2")
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n"),
          dsum(dec("p_retailprice")).as("sum_price"),
          sum(coalesce(col("p_size").cast("long"), lit(0L))).as("sum_size"))
        .orderBy("p_brand")
    })

  /** DYNAMIC PARTITION PRUNING under the oracle gate — the other half of
    * the partition-layout story next to q_partitioned_sink's STATIC
    * pruning: here the pruning values are not known until runtime (they
    * come from a dimension filtered on a NON-key attribute), so Catalyst
    * injects a `dynamicpruningexpression` into the fact scan's
    * PartitionFilters that reuses the dimension's broadcast — the fact
    * partitions for non-matching priorities are never listed or opened.
    * At 100 TB this is THE mechanism that makes `fact JOIN dim WHERE
    * dim.attr = x` scan only the matching date/tenant slices without the
    * query author inlining partition values. The partitioned layout is
    * written once per machine ([[ArtifactStore.ensure]]); PlanAuditSpec
    * asserts the dynamic-pruning
    * expression and that the static plan carries no literal priority
    * filter. Oracle: the same join over the original table with the
    * dimension inlined as VALUES. */
  private val qDppPrune = QueryDef(
    "q_dpp_prune",
    Some(s"""
      |WITH svc(prio, svc_class) AS (VALUES
      |  ('1-URGENT', 'expedite'), ('2-HIGH', 'expedite'), ('3-MEDIUM', 'standard'),
      |  ('4-NOT SPECIFIED', 'standard'), ('5-LOW', 'standard'))
      |SELECT o_orderpriority, count(*) AS n,
      |  ${sqlDsum(sqlDec("o_totalprice"))} AS sum_price
      |FROM orders JOIN svc ON o_orderpriority = prio
      |WHERE svc_class = 'expedite'
      |GROUP BY o_orderpriority ORDER BY o_orderpriority
      |""".stripMargin.trim),
    (spark, dir) => {
      import spark.implicits._
      val root = ArtifactStore.ensure(spark, dir, "orders", "dpp",
          "orders by o_orderpriority; svc 5 rows") { r =>
        tbl(spark, dir, "orders").write.partitionBy("o_orderpriority")
          .mode("overwrite").parquet(s"$r/orders")
        // the dimension must be a FILE source (not an in-memory relation):
        // ConvertToLocalRelation would constant-fold the filter away and
        // the pruning rule needs a surviving selective Filter on the dim
        // side — which is also the realistic shape (dims live in the lake)
        Seq(
          ("1-URGENT", "expedite"), ("2-HIGH", "expedite"),
          ("3-MEDIUM", "standard"), ("4-NOT SPECIFIED", "standard"),
          ("5-LOW", "standard")).toDF("prio", "svc_class")
          .coalesce(1).write.mode("overwrite").parquet(s"$r/svc")
      }
      val svc = spark.read.parquet(s"$root/svc")
      spark.read.parquet(s"$root/orders")
        .join(broadcast(svc.filter($"svc_class" === "expedite")),
          col("o_orderpriority") === col("prio"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), dsum(dec("o_totalprice")).as("sum_price"))
        .orderBy("o_orderpriority")
    })

  /** The custom DataSource V2 connector (`graft.sources.GraftTsvDataSource`)
    * under the oracle gate: orders is exported ONCE per machine as
    * schema'd TSV (decimal prices as exact decimal strings, timestamps as
    * epoch-ms longs — the connector's documented text conventions), then
    * read back through `format("graft-tsv")` with BOTH pushdown seams
    * active: the status equality and date-range predicates are evaluated
    * inside the connector's readers (pushFilters), and only 3 of the 6
    * exported columns are parsed (pruneColumns). The oracle states the
    * same filter+agg over the ORIGINAL parquet, so a pass proves the
    * connector — splits, projection, predicates, type conversion — is
    * value-exact end-to-end. Dsv2SourceSpec proves split-invariance and
    * the plan-visible pushdown separately. */
  private val qDsv2Source = QueryDef(
    "q_dsv2_source",
    Some(s"""
      |SELECT o_orderpriority, count(*) AS n,
      |  ${sqlDsum(sqlDec("o_totalprice"))} AS sum_price
      |FROM orders
      |WHERE o_orderstatus = 'F'
      |  AND CAST(epoch_ms(o_orderdate) AS BIGINT) >= 757382400000
      |GROUP BY o_orderpriority ORDER BY o_orderpriority
      |""".stripMargin.trim),
    (spark, dir) => {
      import org.apache.spark.sql.types._
      val tsvPath = dsv2OrdersExport(spark, dir)
      val schema = StructType(Seq(
        StructField("o_orderkey", LongType),
        StructField("o_custkey", LongType),
        StructField("o_orderstatus", StringType),
        StructField("o_totalprice_str", StringType),
        StructField("o_orderdate_ms", LongType),
        StructField("o_orderpriority", StringType)))
      spark.read.format("graft-tsv").schema(schema).load(tsvPath)
        .filter(col("o_orderstatus") === "F" &&
          col("o_orderdate_ms") >= 757382400000L)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          dsum(dec(col("o_totalprice_str"))).as("sum_price"))
        .orderBy("o_orderpriority")
    })

  /** RUNTIME filtering of the DSv2 connector under the oracle gate: the
    * TSV fact (orders via graft-tsv) joins a selectively-filtered parquet
    * dim (customer), so dynamic pruning realizes the dim's key set at
    * runtime and hands it to the scan (`SupportsRuntimeV2Filtering`) —
    * fact rows whose o_custkey cannot match die INSIDE the text readers,
    * before the row is built, instead of crossing into the broadcast
    * probe. The oracle states the same join over the ORIGINAL parquet, so
    * a pass proves the runtime key set only ever under-filters (never
    * drops a matching row) on real data; Dsv2SourceSpec proves the
    * in-reader drop happens (linesRead vs rowsEmitted) separately. */
  private val qDsv2RuntimeJoin = QueryDef(
    "q_dsv2_runtime_join",
    Some(s"""
      |SELECT o_orderpriority, count(*) AS n,
      |  ${sqlDsum(sqlDec("o_totalprice"))} AS sum_price
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |WHERE c_mktsegment = 'BUILDING'
      |GROUP BY o_orderpriority ORDER BY o_orderpriority
      |""".stripMargin.trim),
    (spark, dir) => {
      import org.apache.spark.sql.types._
      val tsvPath = dsv2OrdersExport(spark, dir)
      val schema = StructType(Seq(
        StructField("o_orderkey", LongType),
        StructField("o_custkey", LongType),
        StructField("o_orderstatus", StringType),
        StructField("o_totalprice_str", StringType),
        StructField("o_orderdate_ms", LongType),
        StructField("o_orderpriority", StringType)))
      val fact = spark.read.format("graft-tsv").schema(schema).load(tsvPath)
      val dim = tbl(spark, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"))
      fact.join(dim, col("o_custkey") === col("c_custkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          dsum(dec(col("o_totalprice_str"))).as("sum_price"))
        .orderBy("o_orderpriority")
    })

  /** Hive-PARTITIONED read of the DSv2 connector under the oracle gate:
    * orders exported as `o_orderpriority=<v>/part-*.csv` (tab-separated,
    * Spark's own partitioned writer), read back through graft-tsv with
    * `partition.columns` — partition values come from the PATH, data
    * columns remap past them, and the priority predicate prunes whole
    * directories at planning (Dsv2PartitionSpec proves the file-level
    * skip via linesRead; this query proves the values are right). The
    * oracle states the same filter+agg over the ORIGINAL parquet. */
  private val qDsv2Partitioned = QueryDef(
    "q_dsv2_partitioned",
    Some(s"""
      |SELECT o_orderstatus, count(*) AS n,
      |  ${sqlDsum(sqlDec("o_totalprice"))} AS sum_price
      |FROM orders
      |WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
      |GROUP BY o_orderstatus ORDER BY o_orderstatus
      |""".stripMargin.trim),
    (spark, dir) => {
      import org.apache.spark.sql.types._
      val tsvPath = dsv2PartitionedExport(spark, dir)
      val schema = StructType(Seq(
        StructField("o_orderkey", LongType),
        StructField("o_orderstatus", StringType),
        StructField("o_totalprice_str", StringType),
        StructField("o_orderpriority", StringType)))
      spark.read.format("graft-tsv").schema(schema)
        .option("partition.columns", "o_orderpriority")
        .load(tsvPath)
        .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          dsum(dec(col("o_totalprice_str"))).as("sum_price"))
        .orderBy("o_orderstatus")
    })

  /** METADATA-COMPLETE aggregate pushdown under the oracle gate: orders
    * exported THROUGH the graft-tsv writer (so the generation manifest
    * carries `#n:` row counts and per-column ranges), then a filterless
    * global COUNT(*)/MIN/MAX — the scan answers from the manifest as a
    * driver-local LocalTableScan and NO distributed job runs
    * (Dsv2MetaAggSpec asserts the plan structurally; this entry proves
    * the metadata VALUES against DuckDB aggregating the original
    * parquet). At 100 TB this is the strongest pushdown in the engine:
    * table-wide count/extremes as one manifest read instead of a
    * cluster-wide scan. */
  private val qDsv2AggMeta = QueryDef(
    "q_dsv2_agg_meta",
    Some("""
      |SELECT count(*) AS n,
      |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
      |  min(o_orderpriority) AS min_pri, max(o_orderpriority) AS max_pri,
      |  CAST(min(epoch_ms(o_orderdate)) AS BIGINT) AS min_ms,
      |  CAST(max(epoch_ms(o_orderdate)) AS BIGINT) AS max_ms
      |FROM orders
      |""".stripMargin.trim),
    (spark, dir) => {
      import org.apache.spark.sql.types._
      val p = metaAggExport(spark, dir)
      spark.read.format("graft-tsv").schema(StructType(Seq(
        StructField("o_orderkey", LongType),
        StructField("o_orderpriority", StringType),
        StructField("o_orderdate_ms", LongType)))).load(p)
        .agg(count(lit(1)).as("n"),
          min("o_orderkey").as("min_key"), max("o_orderkey").as("max_key"),
          min("o_orderpriority").as("min_pri"),
          max("o_orderpriority").as("max_pri"),
          min("o_orderdate_ms").as("min_ms"),
          max("o_orderdate_ms").as("max_ms"))
    })

  /** Partition-GROUPED metadata aggregates under the oracle gate: the
    * same manifest answers `GROUP BY <partition col>` — the hive listing
    * already partitions files by the key, so per-leaf row counts and
    * ranges re-aggregate exactly and the whole grouped aggregate is one
    * LocalTableScan row per partition value (Dsv2MetaAggSpec asserts the
    * plan; this entry proves the per-group values against DuckDB). The
    * 100 TB shape: "rows and extremes per day/tenant" over a partitioned
    * corpus without reading a byte of data. */
  private val qDsv2AggGroup = QueryDef(
    "q_dsv2_agg_group",
    Some("""
      |SELECT o_orderpriority, count(*) AS n,
      |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
      |""".stripMargin.trim),
    (spark, dir) => {
      import org.apache.spark.sql.types._
      val p = metaAggGroupExport(spark, dir)
      spark.read.format("graft-tsv").schema(StructType(Seq(
        StructField("o_orderkey", LongType),
        StructField("o_orderpriority", StringType))))
        .option("partition.columns", "o_orderpriority").load(p)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          min("o_orderkey").as("min_key"), max("o_orderkey").as("max_key"))
        .orderBy("o_orderpriority")
    })

  /** Pay-once hive-partitioned graft-tsv export for q_dsv2_agg_group. */
  private def metaAggGroupExport(spark: SparkSession, dir: String): String =
    ArtifactStore.ensure(spark, dir, "orders", "dsv2_metagrp",
        "o_orderkey; by o_orderpriority") {
      tbl(spark, dir, "orders").select(col("o_orderkey"), col("o_orderpriority"))
        .write.format("graft-tsv").mode("overwrite")
        .option("partition.columns", "o_orderpriority").save(_)
    }

  /** Pay-once graft-tsv-written export for q_dsv2_agg_meta (the write
    * must go through the connector so the manifest records the stats the
    * metadata path answers from). */
  private def metaAggExport(spark: SparkSession, dir: String): String =
    ArtifactStore.ensure(spark, dir, "orders", "dsv2_meta",
        "o_orderkey, o_orderpriority, o_orderdate_ms") {
      tbl(spark, dir, "orders").select(
        col("o_orderkey"), col("o_orderpriority"),
        unix_millis(col("o_orderdate").cast("timestamp")).as("o_orderdate_ms"))
        .write.format("graft-tsv").mode("overwrite").save(_)
    }

  /** Pay-once hive-layout TSV export for q_dsv2_partitioned. */
  private def dsv2PartitionedExport(spark: SparkSession, dir: String): String =
    ArtifactStore.ensure(spark, dir, "orders", "dsv2_part",
        "o_orderkey, o_orderstatus, o_totalprice_str; by o_orderpriority") {
      tbl(spark, dir, "orders").select(
        col("o_orderkey"), col("o_orderstatus"),
        dec("o_totalprice").cast("string").as("o_totalprice_str"),
        col("o_orderpriority"))
        .write.partitionBy("o_orderpriority")
        .option("sep", "\t").option("header", "false")
        .mode("overwrite").csv(_)
    }

  /** STORAGE-PARTITIONED JOIN through the DSv2 connector under the
    * oracle gate: customer and supplier both exported hive-partitioned
    * on nationkey, then joined on that key with
    * `spark.sql.sources.v2.bucketing.enabled` — the scan reports
    * `KeyGroupedPartitioning(identity(nationkey))` and every split
    * carries a typed `HasPartitionKey`, so Spark aligns the two tables'
    * partition groups and the join plans with NO Exchange on either side
    * (Dsv2SpjSpec asserts the zero-shuffle plan; this entry proves the
    * aligned values on real data against the parquet oracle). This is
    * the 100 TB co-location story completing the bucketed-parquet
    * exhibit (q_bucketed_join) on the connector side: two corpora laid
    * out on the same key join partition-by-partition and the shuffle
    * that would move both never exists. The conf rides a CLONED session
    * so the grouping stays scoped to this query. */
  private val qDsv2Spj = QueryDef(
    "q_dsv2_spj",
    Some(s"""
      |SELECT c_nationkey AS nationkey, count(*) AS n_pairs,
      |  CAST(sum(${sqlDec("c_acctbal")} + ${sqlDec("s_acctbal")}) AS DOUBLE)
      |    AS sum_bal
      |FROM customer JOIN supplier ON c_nationkey = s_nationkey
      |GROUP BY c_nationkey ORDER BY nationkey
      |""".stripMargin.trim),
    (spark, dir) => {
      import org.apache.spark.sql.types._
      val custPath = spjExport(spark, dir, "customer", "c_nationkey")(
        _.select(col("c_custkey"),
          dec("c_acctbal").cast("string").as("c_acctbal_str"),
          col("c_nationkey")))
      val suppPath = spjExport(spark, dir, "supplier", "s_nationkey")(
        _.select(col("s_suppkey"),
          dec("s_acctbal").cast("string").as("s_acctbal_str"),
          col("s_nationkey")))
      val s2 = spark.newSession()
      s2.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val cust = s2.read.format("graft-tsv").schema(StructType(Seq(
        StructField("c_custkey", LongType),
        StructField("c_acctbal_str", StringType),
        StructField("c_nationkey", IntegerType))))
        .option("partition.columns", "c_nationkey").load(custPath)
      val supp = s2.read.format("graft-tsv").schema(StructType(Seq(
        StructField("s_suppkey", LongType),
        StructField("s_acctbal_str", StringType),
        StructField("s_nationkey", IntegerType))))
        .option("partition.columns", "s_nationkey").load(suppPath)
      cust.join(supp, col("c_nationkey") === col("s_nationkey"))
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_pairs"),
          dsum(dec(col("c_acctbal_str")) + dec(col("s_acctbal_str")))
            .as("sum_bal"))
        .withColumnRenamed("c_nationkey", "nationkey")
        .orderBy("nationkey")
    })

  /** Pay-once nationkey-partitioned TSV export for q_dsv2_spj. */
  private def spjExport(spark: SparkSession, dir: String, table: String,
      partCol: String)(sel: DataFrame => DataFrame): String =
    ArtifactStore.ensure(spark, dir, table, "dsv2_spj",
        s"key, acctbal_str; by $partCol") {
      sel(tbl(spark, dir, table)).write.partitionBy(partCol)
        .option("sep", "\t").option("header", "false")
        .mode("overwrite").csv(_)
    }

  /** WRITE path of the DSv2 connector under the oracle gate — the sink
    * twin of q_dsv2_source, and the catalog's distributed restatement of
    * the reference's tab-text output contract (single-reducer
    * TextOutputFormat → parallel two-phase staged commit: dot-prefixed
    * task staging files, driver-side rename on job commit, overwrite
    * truncation only after the new generation staged). The write runs
    * EVERY call (the write is the exhibit, like q_partitioned_sink),
    * then the same connector reads it back and aggregates; the oracle
    * states the aggregate over the original parquet, so a pass proves
    * write serialization + commit protocol + read-back are value-exact
    * end-to-end. */
  private val qDsv2Sink = QueryDef(
    "q_dsv2_sink",
    Some(s"""
      |SELECT c_mktsegment, count(*) AS n,
      |  ${sqlDsum(sqlDec("c_acctbal"))} AS sum_bal
      |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment
      |""".stripMargin.trim),
    (spark, dir) => {
      import org.apache.spark.sql.types._
      val out = ArtifactStore.workDir(dir, "dsv2_sink")
      tbl(spark, dir, "customer").select(
        col("c_custkey"), col("c_mktsegment"),
        dec("c_acctbal").cast("string").as("c_acctbal_str"))
        .write.format("graft-tsv").mode("overwrite").save(out)
      val schema = StructType(Seq(
        StructField("c_custkey", LongType),
        StructField("c_mktsegment", StringType),
        StructField("c_acctbal_str", StringType)))
      spark.read.format("graft-tsv").schema(schema).load(out)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"),
          dsum(dec(col("c_acctbal_str"))).as("sum_bal"))
        .orderBy("c_mktsegment")
    })

  /** Column-stats FILE SKIPPING under the oracle gate: orders written
    * through the connector's own sink RANGE-partitioned on o_orderkey
    * (disjoint key ranges per part file → per-file min/max in the
    * manifest), read back with a key-range predicate that lets the
    * planner skip the non-covering files before any byte is read
    * (Dsv2StatsSpec proves the skip via linesRead; this query proves the
    * surviving values are right). The oracle states the same filter+agg
    * over the ORIGINAL parquet, so a pass proves stats recording,
    * manifest round-trip, and range pruning never drop a matching row. */
  private val qDsv2StatsSkip = QueryDef(
    "q_dsv2_stats_skip",
    Some(s"""
      |SELECT o_orderstatus, count(*) AS n,
      |  ${sqlDsum(sqlDec("o_totalprice"))} AS sum_price
      |FROM orders
      |WHERE o_orderkey BETWEEN 1000 AND 3000
      |GROUP BY o_orderstatus ORDER BY o_orderstatus
      |""".stripMargin.trim),
    (spark, dir) => {
      import org.apache.spark.sql.types._
      val out = ArtifactStore.workDir(dir, "dsv2_stats")
      tbl(spark, dir, "orders").select(
        col("o_orderkey"), col("o_orderstatus"),
        dec("o_totalprice").cast("string").as("o_totalprice_str"))
        .repartitionByRange(8, col("o_orderkey"))
        .write.format("graft-tsv").mode("overwrite").save(out)
      val schema = StructType(Seq(
        StructField("o_orderkey", LongType),
        StructField("o_orderstatus", StringType),
        StructField("o_totalprice_str", StringType)))
      spark.read.format("graft-tsv").schema(schema).load(out)
        .filter(col("o_orderkey") >= 1000L && col("o_orderkey") <= 3000L)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          dsum(dec(col("o_totalprice_str"))).as("sum_price"))
        .orderBy("o_orderstatus")
    })

  /** SPLIT-level (block-stats) skipping under the oracle gate — the
    * inside-the-file twin of q_dsv2_stats_skip: orders written through
    * the connector's sink as ONE file sorted by o_orderkey with 64 KiB
    * stats blocks, read back with 256 KiB splits and a key-range
    * predicate. File-level min/max cannot skip anything (the single
    * file's range covers the predicate); the per-block manifest stats
    * must prune the non-covering SPLITS — parquet-row-group-style
    * skipping for line text, which is where most of a 100 TB corpus
    * lives (Dsv2StatsSpec proves the skip via linesRead; this entry
    * proves the surviving values are right). */
  private val qDsv2SplitSkip = QueryDef(
    "q_dsv2_split_skip",
    Some(s"""
      |SELECT o_orderstatus, count(*) AS n,
      |  ${sqlDsum(sqlDec("o_totalprice"))} AS sum_price
      |FROM orders
      |WHERE o_orderkey BETWEEN 400 AND 1200
      |GROUP BY o_orderstatus ORDER BY o_orderstatus
      |""".stripMargin.trim),
    (spark, dir) => {
      import org.apache.spark.sql.types._
      val out = ArtifactStore.workDir(dir, "dsv2_split")
      tbl(spark, dir, "orders").select(
        col("o_orderkey"), col("o_orderstatus"),
        dec("o_totalprice").cast("string").as("o_totalprice_str"))
        .repartition(1).sortWithinPartitions("o_orderkey")
        .write.format("graft-tsv").option("stats.block.bytes", "65536")
        .mode("overwrite").save(out)
      val schema = StructType(Seq(
        StructField("o_orderkey", LongType),
        StructField("o_orderstatus", StringType),
        StructField("o_totalprice_str", StringType)))
      spark.read.format("graft-tsv").schema(schema)
        .option("split.bytes", "262144").load(out)
        .filter(col("o_orderkey") >= 400L && col("o_orderkey") <= 1200L)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          dsum(dec(col("o_totalprice_str"))).as("sum_price"))
        .orderBy("o_orderstatus")
    })

  /** Atomic CTAS through the staging catalog under the oracle gate
    * (VERDICT r10 item 2): `CREATE TABLE ... PARTITIONED BY ... AS
    * SELECT` runs [[graft.sources.GraftTsvCatalog.stageCreate]] — the
    * whole table (descriptor + hive-partitioned data + manifest) builds
    * in a hidden workspace and publishes with ONE directory rename, so a
    * crash mid-CTAS leaves nothing visible (the non-staged fallback
    * would leave an empty table). The full drop→CTAS→read loop runs
    * EVERY call (the staged commit is the exhibit); the oracle states
    * the same filtered aggregate over the original parquet, so a pass
    * proves the staged write + rename carried every row and the
    * partition layout intact. Abort/crash/replace mechanics are
    * spec-pinned in Dsv2CatalogSpec. */
  private val qDsv2Ctas = QueryDef(
    "q_dsv2_ctas",
    Some(s"""
      |SELECT o_orderpriority, count(*) AS n,
      |  ${sqlDsum(sqlDec("o_totalprice"))} AS sum_price
      |FROM orders WHERE o_orderkey % 4 <> 0
      |GROUP BY o_orderpriority ORDER BY o_orderpriority
      |""".stripMargin.trim),
    (spark, dir) => {
      val pt = ArtifactStore.parityTable(spark, dir, "orders_ctas")
      val t = pt.sql
      tbl(spark, dir, "orders")
        .filter(col("o_orderkey") % 4 =!= 0)
        .select(col("o_orderkey"), col("o_orderpriority"),
          dec("o_totalprice").cast("string").as("o_totalprice_str"))
        .createOrReplaceTempView(s"ctas_src_${pt.name}")
      spark.sql(s"""CREATE TABLE $t USING `graft-tsv`
        PARTITIONED BY (o_orderpriority)
        AS SELECT o_orderkey, o_totalprice_str, o_orderpriority
        FROM ctas_src_${pt.name}""")
      spark.table(t)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          dsum(dec(col("o_totalprice_str"))).as("sum_price"))
        .orderBy("o_orderpriority")
    })

  /** Row-level DELETE under the oracle gate — the corpus-curation
    * mutation (VERDICT r06 #1): orders loaded into a graft CATALOG table
    * range-clustered on o_orderkey, then `DELETE FROM ... WHERE status
    * AND key-range` runs the copy-on-write generation rewrite
    * (GraftTsvDelete) — manifest stats prune the rewrite to the files
    * whose key range can match, partition/data predicates evaluate with
    * the reader's own comparators, and visibility flips on one `_gen`
    * rename. The full create→insert→delete→read loop runs EVERY call
    * (the delete is the exhibit, like q_dsv2_sink's write). The oracle
    * states the same aggregate over the ORIGINAL parquet with the delete
    * predicate negated (SQL DELETE removes rows where the predicate is
    * TRUE), so a pass proves the rewrite dropped exactly the matching
    * rows and the carried/rewritten stats never hid a survivor.
    * Atomicity/crash/pruning mechanics: Dsv2DeleteSpec. */
  private val qDsv2Delete = QueryDef(
    "q_dsv2_delete",
    Some(s"""
      |SELECT o_orderstatus, count(*) AS n,
      |  ${sqlDsum(sqlDec("o_totalprice"))} AS sum_price
      |FROM orders
      |WHERE NOT (o_orderstatus = 'F' AND o_orderkey < 30000)
      |GROUP BY o_orderstatus ORDER BY o_orderstatus
      |""".stripMargin.trim),
    (spark, dir) => {
      val t = ArtifactStore.parityTable(spark, dir, "orders_del").sql
      spark.sql(s"""CREATE TABLE $t (o_orderkey BIGINT, o_orderstatus STRING,
        o_totalprice_str STRING) USING `graft-tsv`""")
      tbl(spark, dir, "orders").select(
        col("o_orderkey"), col("o_orderstatus"),
        dec("o_totalprice").cast("string").as("o_totalprice_str"))
        .repartitionByRange(8, col("o_orderkey"))
        .writeTo(t).append()
      spark.sql(s"DELETE FROM $t WHERE o_orderstatus = 'F' AND o_orderkey < 30000")
      spark.table(t)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          dsum(dec(col("o_totalprice_str"))).as("sum_price"))
        .orderBy("o_orderstatus")
    })

  /** ALTER TABLE column evolution on the graft CATALOG under the oracle
    * gate (VERDICT r08 item 6) — the DSv2 twin of q_schema_evolution's
    * parquet mergeSchema path: an old generation INSERTed at 3 columns,
    * `ALTER TABLE ... ADD COLUMN` (descriptor-only, atomic rename, no data
    * rewrite), a new generation INSERTed at 4, read back together — the
    * readers NULL-backfill the added column for old-generation lines
    * (positional TSV: the old lines simply end early), and the aggregate
    * makes the backfill visible with coalesce. This is the append-only
    * evolution contract a long-lived 100 TB table needs: columns arrive
    * over time, old files are never rewritten, and the catalog (not a
    * per-query footer merge) owns the widened schema. The full
    * create→insert→alter→insert→read loop runs EVERY call (the ALTER is
    * the exhibit); the oracle reconstructs the same widened view from the
    * original parquet. Rejection paths (non-trailing, non-nullable,
    * drop/rename) are spec-pinned in Dsv2CatalogSpec. */
  private val qDsv2AddColumn = QueryDef(
    "q_dsv2_add_column",
    Some(s"""
      |SELECT c_mktsegment, count(*) AS n,
      |  ${sqlDsum(sqlDec("c_acctbal"))} AS sum_bal,
      |  CAST(sum(CASE WHEN c_custkey % 2 = 1 THEN c_nationkey ELSE -1 END) AS BIGINT) AS sum_nation
      |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment
      |""".stripMargin.trim),
    (spark, dir) => {
      val t = ArtifactStore.parityTable(spark, dir, "cust_evolve").sql
      spark.sql(s"""CREATE TABLE $t (c_custkey BIGINT, c_mktsegment STRING,
        c_acctbal_str STRING) USING `graft-tsv`""")
      val cust = tbl(spark, dir, "customer").select(
        col("c_custkey"), col("c_mktsegment"),
        dec("c_acctbal").cast("string").as("c_acctbal_str"),
        col("c_nationkey").cast("long").as("c_nationkey"))
      cust.filter(col("c_custkey") % 2 === 0)
        .drop("c_nationkey")
        .writeTo(t).append()
      spark.sql(s"ALTER TABLE $t ADD COLUMN c_nationkey BIGINT")
      cust.filter(col("c_custkey") % 2 === 1)
        .writeTo(t).append()
      spark.table(t)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"),
          dsum(dec(col("c_acctbal_str"))).as("sum_bal"),
          sum(coalesce(col("c_nationkey"), lit(-1L))).as("sum_nation"))
        .orderBy("c_mktsegment")
    })

  /** `ALTER TABLE DROP COLUMN` (trailing) under the oracle gate —
    * q_dsv2_add_column's inverse: a wide slice lands (3 columns), the
    * trailing column is dropped, a narrow slice lands (2 columns), and
    * one read answers over BOTH generations — the wide generation's
    * extra trailing field is simply never scanned (positional readers
    * stop at the last needed index; no data rewrite). The hard edges —
    * middle/partition drops refused, the narrowed width refusing ANY
    * re-extension because retained wide bytes would resurrect into the
    * new position — are pinned in Dsv2CatalogSpec; the oracle here
    * proves the VALUES across the mixed-width generations. */
  private val qDsv2DropColumn = QueryDef(
    "q_dsv2_drop_column",
    Some(s"""
      |SELECT c_mktsegment, count(*) AS n,
      |  CAST(sum(c_custkey) AS BIGINT) AS sum_key
      |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment
      |""".stripMargin.trim),
    (spark, dir) => {
      val t = ArtifactStore.parityTable(spark, dir, "cust_narrow").sql
      spark.sql(s"""CREATE TABLE $t (c_custkey BIGINT, c_mktsegment STRING,
        c_acctbal_str STRING) USING `graft-tsv`""")
      val cust = tbl(spark, dir, "customer").select(
        col("c_custkey"), col("c_mktsegment"),
        dec("c_acctbal").cast("string").as("c_acctbal_str"))
      cust.filter(col("c_custkey") % 2 === 0).writeTo(t).append() // wide gen
      spark.sql(s"ALTER TABLE $t DROP COLUMN c_acctbal_str")
      cust.filter(col("c_custkey") % 2 === 1)
        .drop("c_acctbal_str")
        .writeTo(t).append()                                      // narrow gen
      spark.table(t)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"), sum(col("c_custkey")).as("sum_key"))
        .orderBy("c_mktsegment")
    })

  /** Generation TIME TRAVEL under the oracle gate: customer loaded into a
    * graft catalog table with `retain.generations = 2`, then a curation
    * DELETE rewrites it to a filtered generation — and the query reads the
    * PRE-DELETE snapshot via VERSION AS OF while the current generation
    * serves the filtered view. Both reads run in one result (union with a
    * `snapshot` tag column), so the pass proves (a) the superseded
    * generation's manifest AND parts survive cleanup inside the retention
    * window, (b) a pinned read resolves exactly the old visible set, and
    * (c) the current read is unaffected. This is the reproducibility
    * contract a training pipeline needs at 100 TB: pin the snapshot a run
    * read, mutate the table freely, re-run byte-identical — no data
    * copying (generations share unchanged part files). The oracle
    * reconstructs both snapshots from the original parquet. Retention
    * mechanics, window slide, and VERSION AS OF misses: Dsv2TimeTravelSpec. */
  private val qDsv2TimeTravel = QueryDef(
    "q_dsv2_time_travel",
    Some(s"""
      |WITH pre AS (SELECT c_mktsegment, count(*) AS n,
      |    ${sqlDsum(sqlDec("c_acctbal"))} AS sum_bal
      |  FROM customer GROUP BY c_mktsegment),
      |post AS (SELECT c_mktsegment, count(*) AS n,
      |    ${sqlDsum(sqlDec("c_acctbal"))} AS sum_bal
      |  FROM customer WHERE NOT (c_custkey < 700) GROUP BY c_mktsegment)
      |SELECT 'v1' AS snapshot, * FROM pre
      |UNION ALL SELECT 'v2' AS snapshot, * FROM post
      |ORDER BY snapshot, c_mktsegment
      |""".stripMargin.trim),
    (spark, dir) => {
      val t = ArtifactStore.parityTable(spark, dir, "cust_tt").sql
      spark.sql(s"""CREATE TABLE $t (c_custkey BIGINT, c_mktsegment STRING,
        c_acctbal_str STRING) USING `graft-tsv`
        TBLPROPERTIES ('retain.generations' = '2')""")
      tbl(spark, dir, "customer").select(
        col("c_custkey"), col("c_mktsegment"),
        dec("c_acctbal").cast("string").as("c_acctbal_str"))
        .writeTo(t).append()                                   // generation 1
      // the curation mutation: a key-range slice rewritten out (range
      // predicates ride the connector's typed pushdown comparators)
      spark.sql(s"DELETE FROM $t WHERE c_custkey < 700")       // generation 2
      def agg(df: org.apache.spark.sql.DataFrame, tag: String) =
        df.groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n"),
            dsum(dec(col("c_acctbal_str"))).as("sum_bal"))
          .select(lit(tag).as("snapshot"), col("c_mktsegment"),
            col("n"), col("sum_bal"))
      agg(spark.sql(s"SELECT * FROM $t VERSION AS OF 1"), "v1")
        .unionAll(agg(spark.table(t), "v2"))
        .orderBy("snapshot", "c_mktsegment")
    })

  /** NAMED TAGS under the oracle gate: generation 1 is tagged, then TWO
    * later mutations push it outside the retain=1 window — it survives
    * ONLY through the tag's pin, and `VERSION AS OF '<tag>'` still
    * resolves the full pre-mutation snapshot (Dsv2TagSpec proves the
    * pinning/untag mechanics; this entry proves the tagged snapshot's
    * VALUES against a DuckDB reconstruction). The ops shape: tag the
    * known-good corpus generation before a curation run, and any later
    * query — or rollback — can name it, however many commits later. */
  private val qDsv2Tag = QueryDef(
    "q_dsv2_tag",
    Some(s"""
      |WITH pre AS (SELECT c_mktsegment, count(*) AS n,
      |    ${sqlDsum(sqlDec("c_acctbal"))} AS sum_bal
      |  FROM customer GROUP BY c_mktsegment),
      |post AS (SELECT c_mktsegment, count(*) AS n,
      |    ${sqlDsum(sqlDec("c_acctbal"))} AS sum_bal
      |  FROM customer
      |  WHERE c_mktsegment NOT IN ('BUILDING', 'AUTOMOBILE')
      |  GROUP BY c_mktsegment)
      |SELECT 'tagged' AS snapshot, * FROM pre
      |UNION ALL SELECT 'current' AS snapshot, * FROM post
      |ORDER BY snapshot, c_mktsegment
      |""".stripMargin.trim),
    (spark, dir) => {
      val pt = ArtifactStore.parityTable(spark, dir, "cust_tag")
      val t = pt.sql
      spark.sql(s"""CREATE TABLE $t (c_custkey BIGINT, c_mktsegment STRING,
        c_acctbal_str STRING) USING `graft-tsv`""")
      tbl(spark, dir, "customer").select(
        col("c_custkey"), col("c_mktsegment"),
        dec("c_acctbal").cast("string").as("c_acctbal_str"))
        .writeTo(t).append()                                   // generation 1
      spark.sql(s"CALL gparity.system.tag(`table` => '${pt.ref}', " +
        "tag => 'known_good', generation => 1)")
      // two curation mutations: with default retain=1 the window alone
      // keeps only generation 2 — generation 1 lives on the tag's pin
      spark.sql(s"DELETE FROM $t WHERE c_mktsegment = 'BUILDING'")   // gen 2
      spark.sql(s"DELETE FROM $t WHERE c_mktsegment = 'AUTOMOBILE'") // gen 3
      def agg(df: org.apache.spark.sql.DataFrame, tag: String) =
        df.groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n"),
            dsum(dec(col("c_acctbal_str"))).as("sum_bal"))
          .select(lit(tag).as("snapshot"), col("c_mktsegment"),
            col("n"), col("sum_bal"))
      agg(spark.sql(s"SELECT * FROM $t VERSION AS OF 'known_good'"), "tagged")
        .unionAll(agg(spark.table(t), "current"))
        .orderBy("snapshot", "c_mktsegment")
    })

  /** SQL `MERGE INTO` on the graft CATALOG under the oracle gate
    * (VERDICT r09 #1) — the upsert verb a corpus-curation pipeline runs
    * on every refresh ("merge today's crawl: update changed docs, drop
    * condemned ones, insert new ones"), now first-class on the connector
    * instead of the manual anti-join+union shape (q_upsert). All three
    * arms fire: matched-'F' rows update (status + doubled price),
    * matched-'P' rows delete, unmatched source rows insert (tagged
    * status). The plan is the group-based copy-on-write rewrite
    * (GraftTsvRowLevelOperation): Spark's runtime group filter collects
    * the `_file` values of matched rows, so only the files containing
    * matches are read and rewritten — at 100 TB a MERGE touching one
    * day's files rewrites those files, not the corpus; visibility is one
    * `_gen` swap (a concurrent reader sees pre- or post-merge, never a
    * mix). The oracle reconstructs the merge with a left join + anti
    * join over the original parquet. Arm semantics, group-filter file
    * identity, and crash atomicity: Dsv2MergeSpec. */
  private val qDsv2Merge = QueryDef(
    "q_dsv2_merge",
    Some(s"""
      |WITH base AS (
      |  SELECT o_orderkey, o_orderstatus, ${sqlDec("o_totalprice")} AS price
      |  FROM orders WHERE o_orderkey % 3 <> 0),
      |src AS (
      |  SELECT o_orderkey, o_orderstatus, ${sqlDec("o_totalprice")} * 2 AS price2
      |  FROM orders WHERE o_orderkey % 2 = 0),
      |merged AS (
      |  SELECT
      |    CASE WHEN s.o_orderkey IS NOT NULL AND s.o_orderstatus = 'F'
      |      THEN 'X' ELSE b.o_orderstatus END AS st,
      |    CASE WHEN s.o_orderkey IS NOT NULL AND s.o_orderstatus = 'F'
      |      THEN s.price2 ELSE b.price END AS price
      |  FROM base b LEFT JOIN src s ON b.o_orderkey = s.o_orderkey
      |  WHERE NOT (s.o_orderkey IS NOT NULL AND s.o_orderstatus = 'P')
      |  UNION ALL
      |  SELECT concat('N', s.o_orderstatus) AS st, s.price2 AS price
      |  FROM src s WHERE NOT EXISTS (
      |    SELECT 1 FROM base b WHERE b.o_orderkey = s.o_orderkey))
      |SELECT st AS o_orderstatus, count(*) AS n,
      |  CAST(sum(price) AS DOUBLE) AS sum_price
      |FROM merged GROUP BY st ORDER BY st
      |""".stripMargin.trim),
    (spark, dir) => {
      val pt = ArtifactStore.parityTable(spark, dir, "orders_merge")
      val t = pt.sql
      spark.sql(s"""CREATE TABLE $t (o_orderkey BIGINT, o_orderstatus STRING,
        o_totalprice_str STRING) USING `graft-tsv`""")
      val orders = tbl(spark, dir, "orders")
      orders.filter(col("o_orderkey") % 3 =!= 0).select(
        col("o_orderkey"), col("o_orderstatus"),
        dec("o_totalprice").cast("string").as("o_totalprice_str"))
        .repartitionByRange(8, col("o_orderkey"))
        .writeTo(t).append()
      orders.filter(col("o_orderkey") % 2 === 0).select(
        col("o_orderkey"), col("o_orderstatus"),
        (dec("o_totalprice") * 2).cast("string").as("price2_str"))
        .createOrReplaceTempView(s"mrg_src_${pt.name}")
      spark.sql(s"""
        MERGE INTO $t t USING mrg_src_${pt.name} s ON t.o_orderkey = s.o_orderkey
        WHEN MATCHED AND s.o_orderstatus = 'F' THEN
          UPDATE SET o_orderstatus = 'X', o_totalprice_str = s.price2_str
        WHEN MATCHED AND s.o_orderstatus = 'P' THEN DELETE
        WHEN NOT MATCHED THEN
          INSERT (o_orderkey, o_orderstatus, o_totalprice_str)
          VALUES (s.o_orderkey, concat('N', s.o_orderstatus), s.price2_str)
      """)
      spark.table(t)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          dsum(dec(col("o_totalprice_str"))).as("sum_price"))
        .orderBy("o_orderstatus")
    })

  /** MERGE with `WHEN NOT MATCHED BY SOURCE` arms under the oracle gate —
    * the SYNC-TO-SOURCE verb that completes the clause matrix
    * (q_dsv2_merge covers matched-update/matched-delete/not-matched-
    * insert; Dsv2MergeSpec pins the clause mechanics). The shape is the
    * corpus-refresh contract "make the table agree with today's feed":
    * rows the feed still carries update in place, rows the feed no
    * longer carries are condemned (one slice deleted outright, one
    * slice stale-marked for audit), and the feed's new rows insert.
    * Plan-wise the target side can no longer be pruned to matched files
    * only — every target row is either matched or not-matched-by-source
    * — so Spark's rewrite reads the table once through the same
    * copy-on-write machinery and publishes ONE generation; at 100 TB
    * this is the full-sync you schedule, while the incremental MERGE
    * (q_dsv2_merge) is the one you run per batch. The oracle
    * reconstructs all four arms with a left join + anti join over the
    * original parquet. */
  private val qDsv2MergeSource = QueryDef(
    "q_dsv2_merge_source",
    Some(s"""
      |WITH base AS (
      |  SELECT o_orderkey, o_orderstatus, ${sqlDec("o_totalprice")} AS price
      |  FROM orders WHERE o_orderkey % 3 <> 0),
      |src AS (
      |  SELECT o_orderkey, o_orderstatus, ${sqlDec("o_totalprice")} * 2 AS price2
      |  FROM orders WHERE o_orderkey % 2 = 0),
      |merged AS (
      |  SELECT
      |    CASE
      |      WHEN s.o_orderkey IS NOT NULL AND s.o_orderstatus = 'F' THEN 'X'
      |      WHEN s.o_orderkey IS NULL AND b.o_orderkey % 5 = 2 THEN 'S'
      |      ELSE b.o_orderstatus END AS st,
      |    CASE WHEN s.o_orderkey IS NOT NULL AND s.o_orderstatus = 'F'
      |      THEN s.price2 ELSE b.price END AS price
      |  FROM base b LEFT JOIN src s ON b.o_orderkey = s.o_orderkey
      |  WHERE NOT (s.o_orderkey IS NULL AND b.o_orderkey % 5 = 1)
      |  UNION ALL
      |  SELECT concat('N', s.o_orderstatus) AS st, s.price2 AS price
      |  FROM src s WHERE NOT EXISTS (
      |    SELECT 1 FROM base b WHERE b.o_orderkey = s.o_orderkey))
      |SELECT st AS o_orderstatus, count(*) AS n,
      |  CAST(sum(price) AS DOUBLE) AS sum_price
      |FROM merged GROUP BY st ORDER BY st
      |""".stripMargin.trim),
    (spark, dir) => {
      val pt = ArtifactStore.parityTable(spark, dir, "orders_sync")
      val t = pt.sql
      spark.sql(s"""CREATE TABLE $t (o_orderkey BIGINT, o_orderstatus STRING,
        o_totalprice_str STRING) USING `graft-tsv`""")
      val orders = tbl(spark, dir, "orders")
      orders.filter(col("o_orderkey") % 3 =!= 0).select(
        col("o_orderkey"), col("o_orderstatus"),
        dec("o_totalprice").cast("string").as("o_totalprice_str"))
        .repartitionByRange(8, col("o_orderkey"))
        .writeTo(t).append()
      orders.filter(col("o_orderkey") % 2 === 0).select(
        col("o_orderkey"), col("o_orderstatus"),
        (dec("o_totalprice") * 2).cast("string").as("price2_str"))
        .createOrReplaceTempView(s"sync_src_${pt.name}")
      spark.sql(s"""
        MERGE INTO $t t USING sync_src_${pt.name} s ON t.o_orderkey = s.o_orderkey
        WHEN MATCHED AND s.o_orderstatus = 'F' THEN
          UPDATE SET o_orderstatus = 'X', o_totalprice_str = s.price2_str
        WHEN NOT MATCHED THEN
          INSERT (o_orderkey, o_orderstatus, o_totalprice_str)
          VALUES (s.o_orderkey, concat('N', s.o_orderstatus), s.price2_str)
        WHEN NOT MATCHED BY SOURCE AND t.o_orderkey % 5 = 1 THEN DELETE
        WHEN NOT MATCHED BY SOURCE AND t.o_orderkey % 5 = 2 THEN
          UPDATE SET o_orderstatus = 'S'
      """)
      spark.table(t)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          dsum(dec(col("o_totalprice_str"))).as("sum_price"))
        .orderBy("o_orderstatus")
    })

  /** SQL row-level `UPDATE` on the graft CATALOG under the oracle gate —
    * the reweight/rescore verb ("bump these documents' quality scores"):
    * same copy-on-write rewrite as MERGE, with a deliberately
    * NON-pushdown predicate (`c_custkey % 10 = 3`) so the statement
    * exercises the rewrite path end-to-end (a translatable predicate
    * would too — UPDATE has no metadata fast path — but this pins the
    * harder shape). The oracle applies the same conditional rewrite over
    * the original parquet. */
  private val qDsv2Update = QueryDef(
    "q_dsv2_update",
    Some(s"""
      |SELECT
      |  CASE WHEN c_custkey % 10 = 3 THEN concat('U_', c_mktsegment)
      |    ELSE c_mktsegment END AS c_mktsegment,
      |  count(*) AS n,
      |  CAST(sum(CASE WHEN c_custkey % 10 = 3
      |    THEN ${sqlDec("c_acctbal")} + 100 ELSE ${sqlDec("c_acctbal")} END)
      |    AS DOUBLE) AS sum_bal
      |FROM customer GROUP BY 1 ORDER BY 1
      |""".stripMargin.trim),
    (spark, dir) => {
      val t = ArtifactStore.parityTable(spark, dir, "cust_upd").sql
      spark.sql(s"""CREATE TABLE $t (c_custkey BIGINT, c_mktsegment STRING,
        c_acctbal_str STRING) USING `graft-tsv`""")
      tbl(spark, dir, "customer").select(
        col("c_custkey"), col("c_mktsegment"),
        dec("c_acctbal").cast("string").as("c_acctbal_str"))
        .writeTo(t).append()
      spark.sql(s"""
        UPDATE $t SET
          c_mktsegment = concat('U_', c_mktsegment),
          c_acctbal_str =
            CAST(CAST(c_acctbal_str AS DECIMAL(18,2)) + 100 AS STRING)
        WHERE c_custkey % 10 = 3
      """)
      spark.table(t)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"),
          dsum(dec(col("c_acctbal_str"))).as("sum_bal"))
        .orderBy("c_mktsegment")
    })

  /** OPTIMIZE / compaction on the graft CATALOG under the oracle gate
    * (VERDICT r09 #2): customer lands as 12 sub-target part files (the
    * shape a per-epoch streaming sink leaves behind), then
    * `CALL g.system.compact(...)` (GraftTsvMaintenance) bin-packs each
    * group into one file by BYTE-LEVEL concatenation — no parse, no
    * shuffle, one task per output — and publishes a new generation whose
    * manifest merges the inputs' column stats (metadata-only, skipping
    * survives). The builder asserts the file count actually dropped (the
    * compaction is the exhibit), and the oracle states the aggregate over
    * the original parquet: a pass proves compaction changed LAYOUT, never
    * content. History/retention/vacuum mechanics: Dsv2MaintenanceSpec. */
  private val qDsv2Compact = QueryDef(
    "q_dsv2_compact",
    Some(s"""
      |SELECT c_mktsegment, count(*) AS n,
      |  ${sqlDsum(sqlDec("c_acctbal"))} AS sum_bal
      |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment
      |""".stripMargin.trim),
    (spark, dir) => {
      val pt = ArtifactStore.parityTable(spark, dir, "cust_compact")
      val t = pt.sql
      spark.sql(s"""CREATE TABLE $t (c_custkey BIGINT, c_mktsegment STRING,
        c_acctbal_str STRING) USING `graft-tsv`""")
      tbl(spark, dir, "customer").select(
        col("c_custkey"), col("c_mktsegment"),
        dec("c_acctbal").cast("string").as("c_acctbal_str"))
        .repartition(12)
        .writeTo(t).append()
      val res = spark.sql(
        s"CALL gparity.system.compact(`table` => '${pt.ref}')")
        .collect().head
      require(res.getLong(1) < res.getLong(0),
        s"compaction must reduce the file count, got $res")
      spark.table(t)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"),
          dsum(dec(col("c_acctbal_str"))).as("sum_bal"))
        .orderBy("c_mktsegment")
    })

  /** The DELTA/CHECKPOINT manifest read path under the ORACLE gate
    * (round 15; SCALE.md §25). Every other catalog query's table stays
    * below the 64-live-file checkpoint threshold, so their manifests are
    * the legacy inline shape and the segment/delta resolution seam —
    * the thing that makes commit cost history-independent — was
    * spec-gated only (Dsv2ManifestScaleSpec). This builder forces all
    * three manifest forms onto ONE table and hash-compares the final
    * read against a DuckDB reconstruction:
    *   gen 1  customer as ~80 range-partitioned parts → CHECKPOINT
    *          (`_mseg-*` segment + one-line `_gen`);
    *   gen 2  a small duplicate slice (c_custkey % 97 = 0) → DELTA
    *          (carried `#seg:` ref + inline adds);
    *   gen 3  DELETE of ONE key (the smallest with c_custkey % 100 = 7;
    *          range clustering keeps the rewrite to ~1 file) → DELTA
    *          with `#del:` lines + `#retired:` tombstones.
    * Structural shape is asserted in-builder (segment exists, head is a
    * delta, tombstones present — guarded on the threshold actually
    * crossing, so tiny SFs still pass on values); the oracle proves the
    * resolved content: base ∪ slice minus the deleted key. */
  private val qDsv2ManifestDelta = QueryDef(
    "q_dsv2_manifest_delta",
    Some(s"""
      |WITH victim AS (
      |  SELECT min(c_custkey) AS vk FROM customer WHERE c_custkey % 100 = 7),
      |allr AS (
      |  SELECT c_custkey, c_mktsegment, ${sqlDec("c_acctbal")} AS bal
      |  FROM customer
      |  UNION ALL
      |  SELECT c_custkey, c_mktsegment, ${sqlDec("c_acctbal")} AS bal
      |  FROM customer WHERE c_custkey % 97 = 0)
      |SELECT c_mktsegment, count(*) AS n,
      |  CAST(sum(bal) AS DOUBLE) AS sum_bal
      |FROM allr, victim WHERE vk IS NULL OR c_custkey <> vk
      |GROUP BY c_mktsegment ORDER BY c_mktsegment
      |""".stripMargin.trim),
    // a per-run window table, not DROP/CREATE on a shared name: this is
    // a multi-step stateful builder (two appends + a DELETE bracketing
    // reads), and two concurrent invocations over the same sf dir (bench
    // overlapping verify) would clobber each other mid-build — the
    // q_stream_ivm lesson (ADVICE r14) applied at birth
    (spark, dir) => IvmWindow.run(spark, dir, "cust_mfd", CustCols,
        retain = 2) { w =>
      val t = w.sql
      val base = tbl(spark, dir, "customer").select(
        col("c_custkey"), col("c_mktsegment"),
        dec("c_acctbal").cast("string").as("c_acctbal_str"))
      w.append(base.repartitionByRange(80, col("c_custkey")))
      w.append(base.filter(col("c_custkey") % 97 === 0).coalesce(1))
      val victimRow = base.filter(col("c_custkey") % 100 === 7)
        .agg(org.apache.spark.sql.functions.min("c_custkey"))
        .collect().head
      // null min ⇒ no key ≡ 7 (mod 100) at this SF: skip the DELETE so
      // both engines see the same (un-deleted) table, instead of
      // throwing here while DuckDB's `<> NULL` silently drops all rows
      if (!victimRow.isNullAt(0)) {
        spark.sql(s"DELETE FROM $t WHERE c_custkey = ${victimRow.getLong(0)}")
      }
      // structural proof that the NEW manifest forms are what the read
      // below resolves (guarded: a tiny SF may stay under the threshold)
      val tdir = new org.apache.hadoop.fs.Path(w.table.dir)
      val fs = tdir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val names = fs.listStatus(tdir).map(_.getPath.getName).toSeq
      val liveParts = graft.sources.GraftTsvManifest.readEntries(fs,
        new org.apache.hadoop.fs.Path(tdir,
          names.filter(n => graft.sources.GraftTsvManifest
            .genNumber(n).isDefined).max)).size
      if (liveParts >= graft.sources.GraftTsvManifest.CheckpointInlineMin) {
        require(names.exists(_.startsWith(
          graft.sources.GraftTsvManifest.SegPrefix)),
          s"expected a checkpoint segment among $names")
        val headLines = {
          val in = fs.open(new org.apache.hadoop.fs.Path(tdir,
            names.filter(n => graft.sources.GraftTsvManifest
              .genNumber(n).isDefined).max))
          try scala.io.Source.fromInputStream(in, "UTF-8")
            .getLines().filter(_.nonEmpty).toList
          finally in.close()
        }
        require(headLines.exists(_.startsWith("#seg:")) &&
          headLines.exists(_.startsWith("#del:")),
          s"expected a #seg/#del delta head, got ${headLines.take(5)}")
        require(graft.sources.GraftTsvManifest.retiredOf(headLines).nonEmpty,
          "expected the deleted file tombstoned (dropGen inside retention)")
      }
      w.localize(spark.table(t)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"),
          dsum(dec(col("c_acctbal_str"))).as("sum_bal")),
        col("c_mktsegment"))
    })

  /** VACUUM under the oracle gate — the last maintenance verb not yet
    * oracle-gated (compact/zorder/rollback/tag all are; orphan mechanics
    * and the age gate live in Dsv2MaintenanceSpec). The builder plants
    * the two orphan classes a crashed writer leaves — a dot-prefixed
    * staging file (invisible by prefix) and an UNREFERENCED part file
    * whose name LOOKS like data but appears in no manifest (invisible
    * only because reads resolve the manifest) — then `CALL
    * g.system.vacuum(older_than_ms => 0)` and asserts both were
    * reclaimed, by count AND on disk, while every referenced part
    * survived. The aggregate then matches the plain oracle: vacuum is
    * layout-garbage collection, content-invariant by construction. At
    * 100 TB this is the weekly job that keeps a crashed ingest attempt
    * from leaking storage forever. */
  private val qDsv2Vacuum = QueryDef(
    "q_dsv2_vacuum",
    Some(s"""
      |SELECT c_mktsegment, count(*) AS n,
      |  ${sqlDsum(sqlDec("c_acctbal"))} AS sum_bal
      |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment
      |""".stripMargin.trim),
    (spark, dir) => {
      val pt = ArtifactStore.parityTable(spark, dir, "cust_vac")
      val t = pt.sql
      spark.sql(s"""CREATE TABLE $t (c_custkey BIGINT, c_mktsegment STRING,
        c_acctbal_str STRING) USING `graft-tsv`""")
      tbl(spark, dir, "customer").select(
        col("c_custkey"), col("c_mktsegment"),
        dec("c_acctbal").cast("string").as("c_acctbal_str"))
        .writeTo(t).append()
      val tdir = new java.io.File(pt.dir)
      val before = tdir.listFiles().map(_.getName).toSet
      // the two orphan classes of a crashed attempt
      java.nio.file.Files.writeString(
        tdir.toPath.resolve(".staging-crashed-attempt"), "partial")
      java.nio.file.Files.writeString(
        tdir.toPath.resolve("part-99999-orphan"), "1\tX\t0.00\n")
      val res = spark.sql(
        s"CALL gparity.system.vacuum(`table` => '${pt.ref}', " +
          "older_than_ms => 0)").collect().head
      require(res.getLong(0) == 2L,
        s"vacuum must reclaim exactly the two planted orphans, got $res")
      val after = tdir.listFiles().map(_.getName).toSet
      require(after == before,
        s"vacuum must restore the pre-orphan listing: ${after.diff(before)} " +
          s"extra, ${before.diff(after)} missing")
      spark.table(t)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"),
          dsum(dec(col("c_acctbal_str"))).as("sum_bal"))
        .orderBy("c_mktsegment")
    })

  /** DESCRIBE HISTORY under the oracle gate: three commits (load, append,
    * delete-rewrite), then `CALL g.system.history` — metadata-only at any
    * table size (it reads manifests, never data) — projected to its
    * deterministic columns (generation, n_rows; publish instants and file
    * counts vary by wall-clock and write parallelism, spec-pinned in
    * Dsv2MaintenanceSpec instead). The oracle reconstructs each
    * generation's row count from the mutation plan, so a pass proves the
    * manifests' writer-recorded row counts track the table's actual
    * commit-by-commit cardinality — the audit trail a 100 TB curation
    * pipeline reads before pinning a snapshot. */
  private val qDsv2History = QueryDef(
    "q_dsv2_history",
    Some(s"""
      |SELECT CAST(1 AS BIGINT) AS generation,
      |  (SELECT count(*) FROM customer WHERE c_custkey % 3 <> 0) AS n_rows
      |UNION ALL SELECT 2, (SELECT count(*) FROM customer)
      |UNION ALL SELECT 3, (SELECT count(*) FROM customer WHERE c_custkey % 7 <> 1)
      |ORDER BY generation
      |""".stripMargin.trim),
    (spark, dir) => {
      val pt = ArtifactStore.parityTable(spark, dir, "cust_hist")
      val t = pt.sql
      spark.sql(s"""CREATE TABLE $t (c_custkey BIGINT, c_mktsegment STRING,
        c_acctbal_str STRING) USING `graft-tsv`
        TBLPROPERTIES ('retain.generations' = '3')""")
      val cust = tbl(spark, dir, "customer").select(
        col("c_custkey"), col("c_mktsegment"),
        dec("c_acctbal").cast("string").as("c_acctbal_str"))
      cust.filter(col("c_custkey") % 3 =!= 0).writeTo(t).append()  // gen 1
      cust.filter(col("c_custkey") % 3 === 0).writeTo(t).append()  // gen 2
      spark.sql(s"DELETE FROM $t WHERE c_custkey % 7 = 1")         // gen 3
      spark.sql(s"CALL gparity.system.history(`table` => '${pt.ref}')")
        .select(col("generation"), col("n_rows"))
        .orderBy("generation")
    })

  /** ROLLBACK under the oracle gate: a load, a bad curation DELETE, then
    * `CALL g.system.rollback(generation => 1)` republishes generation 1's
    * file list as a NEW forward commit (no data copied, history moves
    * forward, the bad generation stays retained for forensics) — and the
    * CURRENT table answers exactly the original corpus, which is what the
    * oracle states. The undo verb for a bad merge/delete/overwrite at
    * 100 TB: cost is one manifest write, not a restore. Refusal edges
    * (unretained targets) live in Dsv2MaintenanceSpec. */
  private val qDsv2Rollback = QueryDef(
    "q_dsv2_rollback",
    Some(s"""
      |SELECT c_mktsegment, count(*) AS n,
      |  ${sqlDsum(sqlDec("c_acctbal"))} AS sum_bal
      |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment
      |""".stripMargin.trim),
    (spark, dir) => {
      val pt = ArtifactStore.parityTable(spark, dir, "cust_rb")
      val t = pt.sql
      spark.sql(s"""CREATE TABLE $t (c_custkey BIGINT, c_mktsegment STRING,
        c_acctbal_str STRING) USING `graft-tsv`
        TBLPROPERTIES ('retain.generations' = '3')""")
      tbl(spark, dir, "customer").select(
        col("c_custkey"), col("c_mktsegment"),
        dec("c_acctbal").cast("string").as("c_acctbal_str"))
        .writeTo(t).append()                                      // gen 1
      spark.sql(s"DELETE FROM $t WHERE c_mktsegment = 'BUILDING'") // gen 2: bad
      spark.sql(s"CALL gparity.system.rollback(`table` => '${pt.ref}', " +
        "to_generation => 1)")                                     // gen 3 = gen 1
      spark.table(t)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"),
          dsum(dec(col("c_acctbal_str"))).as("sum_bal"))
        .orderBy("c_mktsegment")
    })

  /** Pay-once TSV export for q_dsv2_source: project orders to the
    * connector's text conventions — exact decimal STRING for the price
    * (double→decimal→string is the lossless hop, see oracle-parity
    * rules), epoch-ms long for the date. Tab-free columns by
    * construction. */
  private def dsv2OrdersExport(spark: SparkSession, dir: String): String =
    ArtifactStore.ensure(spark, dir, "orders", "dsv2_orders",
        "key, custkey, status, totalprice_str, orderdate_ms, priority") {
      tbl(spark, dir, "orders").select(
        col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        dec("o_totalprice").cast("string").as("o_totalprice_str"),
        // o_orderdate is TIMESTAMP_NTZ; cast is instant-identity under
        // the pinned UTC session and satisfies unix_millis' input type
        unix_millis(col("o_orderdate").cast("timestamp")).as("o_orderdate_ms"),
        col("o_orderpriority"))
        .write.option("sep", "\t").option("header", "false")
        .mode("overwrite").csv(_)
    }

  /** Federated three-format join: parquet fact (lineitem) ⋈ CSV orders ⋈
    * JSON customer in ONE plan — Catalyst plans across sources uniformly
    * (each format contributes a FileScan with its own pushdown rules;
    * joins/aggregates above them are source-agnostic). This is the lake
    * reality at 100 TB: the fact table is columnar, but reference data
    * arrives as CSV/JSON exports, and the engine must join them in place
    * without an ingest hop. */
  private val qFederatedJoin = QueryDef(
    "q_federated_join",
    Some(s"""
      |SELECT c_mktsegment, count(*) AS n,
      |  ${sqlDsum(sqlDec("l_extendedprice"))} AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment
      |""".stripMargin.trim),
    (spark, dir) => {
      val ordersCsv = roundTrip(spark, dir, "orders", "csv",
        Map("header" -> "true"), cached = true)
        .select("o_orderkey", "o_custkey")
      val custJson = roundTrip(spark, dir, "customer", "json", Map.empty,
        cached = true)
        .select("c_custkey", "c_mktsegment")
      tbl(spark, dir, "lineitem").select("l_orderkey", "l_extendedprice")
        .join(ordersCsv, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(custJson), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"), dsum(dec("l_extendedprice")).as("revenue"))
        .orderBy("c_mktsegment")
    })

  /** CHANGES FEED (generation diff) under the oracle gate
    * (GraftTsvCatalog.changes): three commits — load a base corpus (gen
    * 1), DELETE a segment (gen 2), INSERT a held-out slice (gen 3) — then
    * ask for the net row-level diff of [1, 3] and aggregate it. What
    * Delta's CDF answers from logged change rows, reconstructed here from
    * the copy-on-write file history alone: each diff side lists ONLY the
    * part files the other endpoint's manifest lacks
    * (`diff.exclude.generation`, applied at planning), so the scan is
    * sized by the DELTA, not the table — at 100 TB, "what changed since
    * the tagged snapshot my last training run read?" reads the changed
    * files, never the corpus. The deleted segment's rewritten survivors
    * cancel in the signed diff; the oracle reconstructs both arms from
    * the original parquet. Planning seam, net semantics, multiplicity,
    * compact-invisibility, tags: Dsv2ChangesSpec. */
  private val qDsv2Changes = QueryDef(
    "q_dsv2_changes",
    Some(s"""
      |WITH base AS (
      |  SELECT c_custkey, c_mktsegment, ${sqlDec("c_acctbal")} AS bal
      |  FROM customer),
      |del AS (SELECT 'delete' AS change_type, c_mktsegment, bal
      |  FROM base WHERE c_custkey % 3 <> 0 AND c_mktsegment = 'BUILDING'),
      |ins AS (SELECT 'insert' AS change_type, c_mktsegment, bal
      |  FROM base WHERE c_custkey % 3 = 0)
      |SELECT change_type, c_mktsegment, count(*) AS n,
      |  ${sqlDsum("bal")} AS sum_bal
      |FROM (SELECT * FROM del UNION ALL SELECT * FROM ins)
      |GROUP BY change_type, c_mktsegment
      |ORDER BY change_type, c_mktsegment
      |""".stripMargin.trim),
    (spark, dir) => {
      val pt = ArtifactStore.parityTable(spark, dir, "cust_chg")
      val t = pt.sql
      spark.sql(s"""CREATE TABLE $t (c_custkey BIGINT, c_mktsegment STRING,
        c_acctbal_str STRING) USING `graft-tsv`
        TBLPROPERTIES ('retain.generations' = '4')""")
      val cust = tbl(spark, dir, "customer").select(
        col("c_custkey"), col("c_mktsegment"),
        dec("c_acctbal").cast("string").as("c_acctbal_str"))
      cust.filter(col("c_custkey") % 3 =!= 0).writeTo(t).append()   // gen 1
      spark.sql(s"DELETE FROM $t WHERE c_mktsegment = 'BUILDING'")  // gen 2
      cust.filter(col("c_custkey") % 3 === 0).writeTo(t).append()   // gen 3
      ArtifactStore.parityCatalog(spark).changes(spark, pt.ident, "1", "3")
        .groupBy(col("_change_type").as("change_type"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          dsum(dec(col("c_acctbal_str"))).as("sum_bal"))
        .orderBy("change_type", "c_mktsegment")
    })

  /** Z-ORDER REWRITE under the oracle gate (`CALL g.system.zorder`,
    * GraftTsvMaintenance.zorder): load orders into a graft table,
    * cluster it by the Morton interleave of (o_orderkey, o_custkey) —
    * a REAL distributed rewrite through the connector's own scan and
    * commit paths, not the byte-concat compact — then answer a
    * two-dimensional box predicate from the rewritten table. The oracle
    * reconstructs the same box over the original parquet, so a pass
    * proves the normalize→interleave→range-shuffle→sort→overwrite loop
    * is value-exact end-to-end. The pruning payoff (per-file stats
    * become tight boxes on BOTH dimensions; either-dimension predicates
    * skip most files, proven at the planning seam against the retained
    * pre-rewrite generation) and content/diff invariants live in
    * Dsv2ZorderSpec; q_zorder_layout proves the same clustering math on
    * parquet row groups. */
  private val qDsv2Zorder = QueryDef(
    "q_dsv2_zorder",
    Some(s"""
      |WITH b AS (SELECT max(o_orderkey) AS km, max(o_custkey) AS cm
      |  FROM orders)
      |SELECT o_orderstatus, count(*) AS n,
      |  ${sqlDsum(sqlDec("o_totalprice"))} AS sum_price
      |FROM orders, b
      |WHERE o_orderkey <= km // 4 AND o_custkey <= cm // 4
      |GROUP BY o_orderstatus ORDER BY o_orderstatus
      |""".stripMargin.trim),
    (spark, dir) => {
      val pt = ArtifactStore.parityTable(spark, dir, "ord_zo")
      val t = pt.sql
      spark.sql(s"""CREATE TABLE $t (o_orderkey BIGINT, o_custkey BIGINT,
        o_orderstatus STRING, o_totalprice_str STRING) USING `graft-tsv`
        TBLPROPERTIES ('retain.generations' = '2')""")
      tbl(spark, dir, "orders").select(
        col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        dec("o_totalprice").cast("string").as("o_totalprice_str"))
        .writeTo(t).append()                                  // generation 1
      spark.sql(s"CALL gparity.system.zorder(`table` => '${pt.ref}', " +
        "columns => 'o_orderkey,o_custkey', target_bytes => 262144)") // gen 2
      val bounds = spark.table(t)
        .agg(max("o_orderkey").as("km"), max("o_custkey").as("cm"))
      spark.table(t).crossJoin(broadcast(bounds))
        .filter(col("o_orderkey") <= expr("km div 4") &&
          col("o_custkey") <= expr("cm div 4"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          dsum(dec(col("o_totalprice_str"))).as("sum_price"))
        .orderBy("o_orderstatus")
    })

  /** GENERATION STREAMING under the oracle gate
    * (`stream.by.generation=true`, GraftTsvGenerationStream): a graft
    * table is committed TWICE (half the corpus each), then a streaming
    * read follows the table's COMMIT clock — initial snapshot of the
    * current generation, then per-commit increments — into a memory
    * sink, and the drained result must equal the full corpus exactly
    * once. This is the incremental-consumer loop a curation pipeline
    * runs downstream of a mutating catalog table ("each refresh commit's
    * new documents, exactly once, resumable"); where the file-arrival
    * stream needs name-monotonic rotation, the generation stream pins
    * file sets by manifest and needs no name contract at all. Append-only
    * enforcement, restart exactly-once, rewrite refusal + opt-out, and
    * retention interaction: Dsv2GenStreamSpec. */
  private val qStreamGenerations = QueryDef(
    "q_stream_generations",
    Some(s"""
      |SELECT c_mktsegment, count(*) AS n,
      |  ${sqlDsum(sqlDec("c_acctbal"))} AS sum_bal
      |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment
      |""".stripMargin.trim),
    (spark, dir) => {
      val pt = ArtifactStore.parityTable(spark, dir, "cust_gs")
      val t = pt.sql
      spark.sql(s"""CREATE TABLE $t (c_custkey BIGINT, c_mktsegment STRING,
        c_acctbal_str STRING) USING `graft-tsv`
        TBLPROPERTIES ('retain.generations' = '3')""")
      val cust = tbl(spark, dir, "customer").select(
        col("c_custkey"), col("c_mktsegment"),
        dec("c_acctbal").cast("string").as("c_acctbal_str"))
      cust.filter(col("c_custkey") % 2 === 0).writeTo(t).append() // gen 1
      cust.filter(col("c_custkey") % 2 =!= 0).writeTo(t).append() // gen 2
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("c_custkey",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("c_mktsegment",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("c_acctbal_str",
          org.apache.spark.sql.types.StringType)))
      val ss = spark.newSession()
      val sink = s"gen_stream_sink_${pt.name}"
      val q = ss.readStream.format("graft-tsv").schema(schema)
        .option("stream.by.generation", "true")
        .load(pt.dir)
        .writeStream.format("memory").queryName(sink)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(); q.stop()
      ss.table(sink)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"),
          dsum(dec(col("c_acctbal_str"))).as("sum_bal"))
        .orderBy("c_mktsegment")
    })

  /** PER-COMMIT CHANGELOG under the oracle gate
    * (`GraftTsvCatalog.changesByCommit`): the same three-commit history
    * as q_dsv2_changes, but asked "what did EACH commit do" — one
    * consecutive generation-pair diff per commit, tagged
    * `_commit_generation`, the ordered change stream an incremental
    * consumer replays. The oracle reconstructs both commits' arms
    * independently (commit 2 = the segment delete, commit 3 = the
    * held-out insert), so a pass proves the attribution, not just the
    * collapsed net. Cost shape: each pair diff plans only that commit's
    * touched files (sum of deltas, not commits × table). */
  private val qDsv2Changelog = QueryDef(
    "q_dsv2_changelog",
    Some(s"""
      |WITH base AS (
      |  SELECT c_custkey, c_mktsegment, ${sqlDec("c_acctbal")} AS bal
      |  FROM customer),
      |c2 AS (SELECT 2 AS commit_gen, 'delete' AS change_type,
      |    c_mktsegment, bal
      |  FROM base WHERE c_custkey % 3 <> 0 AND c_mktsegment = 'BUILDING'),
      |c3 AS (SELECT 3 AS commit_gen, 'insert' AS change_type,
      |    c_mktsegment, bal
      |  FROM base WHERE c_custkey % 3 = 0)
      |SELECT commit_gen, change_type, c_mktsegment, count(*) AS n,
      |  ${sqlDsum("bal")} AS sum_bal
      |FROM (SELECT * FROM c2 UNION ALL SELECT * FROM c3)
      |GROUP BY commit_gen, change_type, c_mktsegment
      |ORDER BY commit_gen, change_type, c_mktsegment
      |""".stripMargin.trim),
    (spark, dir) => {
      val pt = ArtifactStore.parityTable(spark, dir, "cust_cl")
      val t = pt.sql
      spark.sql(s"""CREATE TABLE $t (c_custkey BIGINT, c_mktsegment STRING,
        c_acctbal_str STRING) USING `graft-tsv`
        TBLPROPERTIES ('retain.generations' = '4')""")
      val cust = tbl(spark, dir, "customer").select(
        col("c_custkey"), col("c_mktsegment"),
        dec("c_acctbal").cast("string").as("c_acctbal_str"))
      cust.filter(col("c_custkey") % 3 =!= 0).writeTo(t).append()   // gen 1
      spark.sql(s"DELETE FROM $t WHERE c_mktsegment = 'BUILDING'")  // gen 2
      cust.filter(col("c_custkey") % 3 === 0).writeTo(t).append()   // gen 3
      ArtifactStore.parityCatalog(spark)
        .changesByCommit(spark, pt.ident, "1", "3")
        .groupBy(col("_commit_generation").cast("int").as("commit_gen"),
          col("_change_type").as("change_type"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          dsum(dec(col("c_acctbal_str"))).as("sum_bal"))
        .orderBy("commit_gen", "change_type", "c_mktsegment")
    })

  /** INCREMENTAL VIEW MAINTENANCE off the changes feed — the consumer
    * side of CDC, closing the loop q_dsv2_changes opens: materialize a
    * per-segment aggregate at generation 1, run three mutating commits
    * (DELETE / INSERT / row-level UPDATE — the update surfaces in the
    * feed as delete-old + insert-new, so a segment-moving update
    * transfers its group's mass correctly), then maintain the aggregate
    * by APPLYING THE NET DELTA: signed count/sum over changes(1, 4),
    * full-outer-joined onto the stored view (groups may appear or
    * vanish). Sum/count are commutative monoids, so delta-apply ≡
    * recompute — and the ORACLE IS the full recompute over the original
    * parquet, so a pass proves exactly that identity. At 100 TB this is
    * the nightly-ETL contract: the view update reads the delta FILES
    * (diff planning excludes everything both manifests share), never
    * the corpus; q_incremental_agg proves the same algebra where the
    * delta arrives as a table, this proves it wired to the connector's
    * own change feed. */
  private val qDsv2Ivm = QueryDef(
    "q_dsv2_ivm",
    Some(s"""
      |WITH final_rows AS (
      |  SELECT
      |    CASE WHEN c_custkey % 10 = 3 THEN concat('U_', c_mktsegment)
      |      ELSE c_mktsegment END AS seg,
      |    CASE WHEN c_custkey % 10 = 3 THEN ${sqlDec("c_acctbal")} + 50
      |      ELSE ${sqlDec("c_acctbal")} END AS bal
      |  FROM customer
      |  WHERE (c_custkey % 3 <> 0 AND c_custkey % 7 <> 1)
      |     OR c_custkey % 3 = 0)
      |SELECT seg AS c_mktsegment, count(*) AS n,
      |  ${sqlDsum("bal")} AS sum_bal
      |FROM final_rows GROUP BY seg ORDER BY seg
      |""".stripMargin.trim),
    (spark, dir) => {
      val pt = ArtifactStore.parityTable(spark, dir, "cust_ivm")
      val t = pt.sql
      spark.sql(s"""CREATE TABLE $t (c_custkey BIGINT, c_mktsegment STRING,
        c_acctbal_str STRING) USING `graft-tsv`
        TBLPROPERTIES ('retain.generations' = '5')""")
      val cust = tbl(spark, dir, "customer").select(
        col("c_custkey"), col("c_mktsegment"),
        dec("c_acctbal").cast("string").as("c_acctbal_str"))
      cust.filter(col("c_custkey") % 3 =!= 0).writeTo(t).append()   // gen 1
      spark.sql(s"DELETE FROM $t WHERE c_custkey % 7 = 1")          // gen 2
      cust.filter(col("c_custkey") % 3 === 0).writeTo(t).append()   // gen 3
      spark.sql(s"""
        UPDATE $t SET
          c_mktsegment = concat('U_', c_mktsegment),
          c_acctbal_str =
            CAST(CAST(c_acctbal_str AS DECIMAL(18,2)) + 50 AS STRING)
        WHERE c_custkey % 10 = 3
      """)                                                          // gen 4
      // the stored materialized view: aggregated once at generation 1
      val mv0 = spark.sql(s"SELECT * FROM $t VERSION AS OF 1")
        .groupBy(col("c_mktsegment").as("seg"))
        .agg(count(lit(1)).as("n0"),
          sum(dec(col("c_acctbal_str"))).as("s0"))
      // the net delta since: signed count/sum over the changes feed
      val sign = when(col("_change_type") === "insert", lit(1))
        .otherwise(lit(-1))
      val delta = ArtifactStore.parityCatalog(spark)
        .changes(spark, pt.ident, "1", "4")
        .groupBy(col("c_mktsegment").as("seg"))
        .agg(sum(sign.cast("long")).as("dn"),
          sum(sign.cast("decimal(18,2)") * dec(col("c_acctbal_str")))
            .as("ds"))
      // delta-apply: view ⊕ delta, groups appearing (U_*) and vanishing
      // both handled by CdcApply (group-lifecycle edges spec-pinned in
      // CdcApplySpec); exact DECIMAL all the way, one cast at the end
      graft.operators.CdcApply.applyDelta(mv0, delta, "seg")
        .select(col("seg").as("c_mktsegment"), col("n"),
          col("s").cast("double").as("sum_bal"))
        .orderBy("c_mktsegment")
    })

  /** STREAMING incremental view maintenance — q_dsv2_ivm's signed-delta
    * consumer re-wired from the batch changes feed to the generation
    * stream's CHANGE-FEED mode (`stream.changes=true`,
    * [[graft.sources.GraftTsvGenerationStream]]): each micro-batch emits
    * added files' rows signed `insert` and dropped files' rows signed
    * `delete`, so a copy-on-write rewrite's carried rows cancel under the
    * signed aggregate and only the true row delta survives. The exhibit
    * runs the real consumer lifecycle: drain the initial snapshot (gen 1),
    * then three mutating commits land (DELETE / INSERT / segment-moving
    * UPDATE), then a RESUMED run from the same checkpoint drains exactly
    * those commits' signed changes — restart exactly-once on the same
    * offset clock the append-only feed uses. The maintained aggregate
    * (sum of signs, sum of signed balances, vanished groups dropped) must
    * equal the oracle's FULL RECOMPUTE of the final table — the
    * delta-apply ≡ recompute identity, proved over a stream this time.
    * At 100 TB this is the standing consumer a materialized view runs:
    * each trigger reads only the commit's delta files, never the table. */
  private val qStreamIvm = QueryDef(
    "q_stream_ivm",
    Some(s"""
      |WITH base AS (
      |  SELECT c_custkey, c_mktsegment, ${sqlDec("c_acctbal")} AS bal
      |  FROM customer),
      |live AS (SELECT * FROM base
      |  WHERE (c_custkey % 4 <> 0 AND c_custkey % 5 <> 2)
      |     OR c_custkey % 4 = 0),
      |final_rows AS (
      |  SELECT
      |    CASE WHEN c_custkey % 9 = 4 THEN concat('U_', c_mktsegment)
      |      ELSE c_mktsegment END AS seg,
      |    CASE WHEN c_custkey % 9 = 4 THEN bal + 25 ELSE bal END AS bal
      |  FROM live)
      |SELECT seg AS c_mktsegment, CAST(count(*) AS BIGINT) AS n,
      |  ${sqlDsum("bal")} AS sum_bal
      |FROM final_rows GROUP BY seg ORDER BY seg
      |""".stripMargin.trim),
    // PER-RUN nonce in the table name, work dir and checkpoint: two
    // concurrent invocations over the same sf dir (bench overlapping
    // verify) would otherwise clobber each other's checkpoint/sink
    // mid-stream and fail or double-count (ADVICE r14). The window drops
    // the table and deletes the work dir when the run ends.
    (spark, dir) => IvmWindow.run(spark, dir, "cust_sivm", CustCols,
        retain = 6) { w =>
      val t = w.sql
      val cust = tbl(spark, dir, "customer").select(
        col("c_custkey"), col("c_mktsegment"),
        dec("c_acctbal").cast("string").as("c_acctbal_str"))
      w.append(cust.filter(col("c_custkey") % 4 =!= 0))            // gen 1
      val feed = new ChangeFeed(spark, w, CustCols, "sivm")
      feed.drain()                                       // snapshot: gen 1
      spark.sql(s"DELETE FROM $t WHERE c_custkey % 5 = 2")        // gen 2
      w.append(cust.filter(col("c_custkey") % 4 === 0))           // gen 3
      spark.sql(s"""
        UPDATE $t SET
          c_mktsegment = concat('U_', c_mktsegment),
          c_acctbal_str =
            CAST(CAST(c_acctbal_str AS DECIMAL(18,2)) + 25 AS STRING)
        WHERE c_custkey % 9 = 4
      """)                                                        // gen 4
      feed.drain()                         // resume: gens 2-4, signed
      val sign = feed.sign
      w.localize(feed.ss.read.schema(feed.schema).parquet(feed.out)
        .groupBy(col("c_mktsegment"))
        .agg(sum(sign.cast("long")).as("n"),
          sum(sign.cast("decimal(18,2)") * dec(col("c_acctbal_str")))
            .as("s"))
        .filter(col("n") > 0)
        .select(col("c_mktsegment"), col("n"),
          col("s").cast("double").as("sum_bal")),
        col("c_mktsegment"))
    })

  /** STREAMING LSH-INDEX MAINTENANCE — the connector's change feed wired
    * into the dedup family's MinHash-LSH banding: the standing consumer
    * that keeps a near-duplicate index CURRENT against a mutating
    * document table without ever re-scanning the corpus. The document
    * table takes a real CDC lifecycle (snapshot → DELETE → append →
    * text-rewriting UPDATE); the consumer drains the signed change feed
    * (restart-resumed mid-history, the q_stream_ivm discipline), NETS
    * the signed events per (doc_id, text) FIRST — so a rewritten
    * document's old text cancels before anything is hashed and only
    * net-changed docs pay the shingle+minhash pass — then maintains the
    * per-(band, bucket) index as a plain signed aggregate. A text UPDATE
    * therefore MOVES the document between buckets (old text's bands
    * signed out, new text's signed in), which is the property a
    * dedup-index-on-live-corpus needs and a file-level feed cannot give.
    * The oracle recomputes the bands over the FINAL table state in
    * DuckDB: maintained-index ≡ full-recompute, hash-exact. At 100 TB
    * this consumer reads each commit's delta files only; the index
    * update cost is O(changed docs · shingles), never O(corpus). */
  private val qStreamLshIvm = QueryDef(
    "q_stream_lsh_ivm",
    Some(s"""
      |WITH live AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 7 = 4 THEN concat(text, ' upd42') ELSE text END AS text
      |  FROM documents
      |  WHERE (doc_id % 3 <> 0 AND doc_id % 5 <> 2) OR doc_id % 3 = 0),
      |${Dedup.bandsSqlOver("live")}
      |SELECT band, bucket, count(*) AS n_docs,
      |  CAST(sum(doc_id) AS BIGINT) AS sum_doc
      |FROM b GROUP BY band, bucket ORDER BY band, bucket
      |""".stripMargin.trim),
    (spark, dir) => IvmWindow.run(spark, dir, "docs_slsh", DocCols,
        retain = 6) { w =>
      val t = w.sql
      val docs = tbl(spark, dir, "documents").select(col("doc_id"), col("text"))
      w.append(docs.filter(col("doc_id") % 3 =!= 0))                // gen 1
      val feed = new ChangeFeed(spark, w, DocCols, "slsh")
      feed.drain()                                        // snapshot: gen 1
      spark.sql(s"DELETE FROM $t WHERE doc_id % 5 = 2")            // gen 2
      w.append(docs.filter(col("doc_id") % 3 === 0))               // gen 3
      spark.sql(
        s"UPDATE $t SET text = concat(text, ' upd42') WHERE doc_id % 7 = 4"
      )                                                            // gen 4
      feed.drain()                          // resume: gens 2-4, signed
      val sign = feed.sign
      // net the signed events per (doc, text) BEFORE hashing: a
      // rewritten doc's old version cancels here, so the expensive
      // shingle pass sees only the net-changed documents. Read the sink
      // with the MAIN session — bandsWeighted calls the graft native
      // functions, registered there (ss is a bare newSession for the
      // stream side only).
      val net = spark.read.schema(feed.schema).parquet(feed.out)
        .groupBy("doc_id", "text")
        .agg(sum(sign.cast("long")).as("w"))
        .filter(col("w") =!= 0)
      // the index is data-sized: spilled, so it outlives the work dir
      ArtifactStore.spillResult(spark, "slsh_res", Dedup.bandsWeighted(net)
        .groupBy("band", "bucket")
        .agg(sum(col("w")).as("n_docs"),
          sum(col("w") * col("doc_id")).as("sum_doc"))
        .filter(col("n_docs") =!= 0))
        .orderBy("band", "bucket")
    })

  /** BRANCHES on the graft catalog under the oracle gate — the Nessie/
    * Delta-style named writable ref, implemented as a parallel
    * `_gen-N.b-<name>` manifest chain over shared copy-on-write parts
    * (GraftTsvMaintenance branch verbs; isolation/durability/divergence
    * semantics pinned in Dsv2BranchSpec). Three snapshots hash-checked
    * in one result:
    *  - `main`: the main lineage of a table whose branch AND main both
    *    advanced after the branch point — main must show ONLY its own
    *    rows (branch isolation, main direction);
    *  - `branch`: the same table read with `.option("branch", ...)` —
    *    base + branch rows, none of main's later rows (isolation, branch
    *    direction, and correct base resolution after main diverged);
    *  - `merged`: a second table fast-forward-merged — the branch head's
    *    file list republished as the next main generation.
    * All mutation happens EAGERLY in the builder (procedure CALLs and
    * writeTo commits); the returned plan only reads, so lazy execution
    * resolves stable lineages. The oracle reconstructs all three views
    * from the parquet corpus. */
  private val qDsv2Branch = QueryDef(
    "q_dsv2_branch",
    Some(s"""
      |WITH cust AS (SELECT c_custkey, c_mktsegment,
      |    ${sqlDec("c_acctbal")} AS bal FROM customer),
      |brx AS (SELECT c_custkey + 2000000 AS c_custkey, 'BR_X' AS c_mktsegment, bal
      |  FROM cust WHERE c_custkey % 7 = 0),
      |mnx AS (SELECT c_custkey + 1000000 AS c_custkey, 'MAIN_X' AS c_mktsegment, bal
      |  FROM cust WHERE c_custkey % 5 = 0),
      |views AS (
      |  SELECT 'main' AS snapshot, * FROM cust
      |  UNION ALL SELECT 'main', * FROM mnx
      |  UNION ALL SELECT 'branch', * FROM cust
      |  UNION ALL SELECT 'branch', * FROM brx
      |  UNION ALL SELECT 'merged', * FROM cust
      |  UNION ALL SELECT 'merged', * FROM brx)
      |SELECT snapshot, c_mktsegment, count(*) AS n,
      |  CAST(CAST(sum(bal) AS VARCHAR) AS DOUBLE) AS sum_bal
      |FROM views GROUP BY snapshot, c_mktsegment
      |ORDER BY snapshot, c_mktsegment
      |""".stripMargin.trim),
    (spark, dir) => {
      val base = tbl(spark, dir, "customer").select(
        col("c_custkey"), col("c_mktsegment"),
        dec("c_acctbal").cast("string").as("c_acctbal_str"))
      def extra(mod: Int, seg: String, off: Long) =
        base.filter(col("c_custkey") % mod === 0)
          .select((col("c_custkey") + off).as("c_custkey"),
            lit(seg).as("c_mktsegment"), col("c_acctbal_str"))
      def mk(name: String): ArtifactStore.ParityTable = {
        val pt = ArtifactStore.parityTable(spark, dir, name)
        spark.sql(s"""CREATE TABLE ${pt.sql} (c_custkey BIGINT,
          c_mktsegment STRING, c_acctbal_str STRING) USING `graft-tsv`""")
        base.writeTo(pt.sql).append()                          // generation 1
        spark.sql(s"CALL gparity.system.branch('${pt.ref}', 'cur')")
        extra(7, "BR_X", 2000000L)
          .writeTo(pt.sql).option("branch", "cur").append()    // branch head
        pt
      }
      val t1 = mk("cust_br").sql            // live branch, then main diverges
      extra(5, "MAIN_X", 1000000L).writeTo(t1).append()
      val t2 = mk("cust_brm")               // fast-forward merged
      spark.sql(s"CALL gparity.system.merge_branch('${t2.ref}', 'cur')")
      def agg(df: org.apache.spark.sql.DataFrame, tag: String) =
        df.groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n"),
            dsum(dec(col("c_acctbal_str"))).as("sum_bal"))
          .select(lit(tag).as("snapshot"), col("c_mktsegment"),
            col("n"), col("sum_bal"))
      agg(spark.table(t1), "main")
        .unionAll(agg(
          spark.read.option("branch", "cur").table(t1), "branch"))
        .unionAll(agg(spark.table(t2.sql), "merged"))
        .orderBy("snapshot", "c_mktsegment")
    })

  /** BRANCH DIFF under the oracle gate — `GraftTsvCatalog.branchChanges`:
    * the row-level delta a branch would merge, reviewed BEFORE merging
    * (the data-engineering pull request). The branch here OVERWRITES its
    * lineage with a curated view (BUILDING segment dropped, derived BR_X
    * rows added), so the diff must show ONLY the net change — the
    * carried-over rows cancel in the signed-diff refinement even though
    * the overwrite physically rewrote every file. Both diff endpoints
    * resolve inside the branch manifest chain (base = the seed copy =
    * main at the branch point), so a concurrent main append after the
    * branch point — made here deliberately — must NOT leak into the
    * diff. */
  private val qDsv2BranchDiff = QueryDef(
    "q_dsv2_branch_diff",
    Some(s"""
      |WITH cust AS (SELECT c_custkey, c_mktsegment,
      |    ${sqlDec("c_acctbal")} AS bal FROM customer),
      |diff AS (
      |  SELECT 'delete' AS _change_type, c_mktsegment FROM cust
      |  WHERE c_mktsegment = 'BUILDING'
      |  UNION ALL
      |  SELECT 'insert', 'BR_X' FROM cust WHERE c_custkey % 7 = 0)
      |SELECT _change_type, c_mktsegment, count(*) AS n
      |FROM diff GROUP BY _change_type, c_mktsegment
      |ORDER BY _change_type, c_mktsegment
      |""".stripMargin.trim),
    (spark, dir) => {
      val pt = ArtifactStore.parityTable(spark, dir, "cust_brd")
      val t = pt.sql
      spark.sql(s"""CREATE TABLE $t (c_custkey BIGINT, c_mktsegment STRING,
        c_acctbal_str STRING) USING `graft-tsv`""")
      val base = tbl(spark, dir, "customer").select(
        col("c_custkey"), col("c_mktsegment"),
        dec("c_acctbal").cast("string").as("c_acctbal_str"))
      base.writeTo(t).append()                                 // generation 1
      spark.sql(s"CALL gparity.system.branch('${pt.ref}', 'rev')")
      val curated = base.filter(col("c_mktsegment") =!= "BUILDING")
        .unionByName(base.filter(col("c_custkey") % 7 === 0)
          .select((col("c_custkey") + 2000000L).as("c_custkey"),
            lit("BR_X").as("c_mktsegment"), col("c_acctbal_str")))
      curated.writeTo(t).option("branch", "rev").overwrite(lit(true))
      // main advances AFTER the branch point — must not appear in the diff
      spark.sql(s"INSERT INTO $t SELECT 9000000, 'MAIN_X', '1.00'")
      ArtifactStore.parityCatalog(spark).branchChanges(spark, pt.ident, "rev")
        .groupBy("_change_type", "c_mktsegment")
        .agg(count(lit(1)).as("n"))
        .orderBy("_change_type", "c_mktsegment")
    })

  val defs: Seq[QueryDef] = Seq(qCsvSource, qJsonSource, qOrcSource,
    qPartitionedSink,
    qBucketedJoin, qSchemaEvolution, qFederatedJoin, qDppPrune, qDsv2Source,
    qDsv2Sink, qDsv2RuntimeJoin, qDsv2Partitioned, qDsv2Spj, qDsv2AggMeta,
    qDsv2AggGroup,
    qDsv2StatsSkip,
    qDsv2SplitSkip, qDsv2Ctas, qDsv2Delete, qDsv2AddColumn, qDsv2DropColumn,
    qDsv2TimeTravel, qDsv2Tag,
    qDsv2Merge, qDsv2MergeSource, qDsv2Update, qDsv2Compact,
    qDsv2ManifestDelta, qDsv2Vacuum,
    qDsv2History, qDsv2Rollback,
    qDsv2Changes,
    qDsv2Changelog, qDsv2Ivm,
    qDsv2Zorder, qStreamGenerations, qStreamIvm, qStreamLshIvm,
    qDsv2Branch, qDsv2BranchDiff)
}
