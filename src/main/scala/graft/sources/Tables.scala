package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table catalog over a scale-factor directory
  * (`/root/testdata/sf*`, schemas in /root/repo/FIXTURES.md §B).
  *
  * The reference engine's only source is line-split text via the default
  * `TextInputFormat` (reference WordCount.java:60, TopkCommonWords.java:172-173);
  * our primary at-rest format is Parquet so scans are columnar, splittable and
  * predicate-pushdown-able — at 100 TB the scan IS the query cost, and
  * `spark.read.parquet` + column pruning + row-group min/max skipping is the
  * difference between reading 100 TB and reading 2 TB.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  def load(spark: SparkSession, dir: String, name: String,
      wide: Boolean = false): DataFrame = {
    // Idempotent per-session function registration: every catalog builder
    // passes through here before its expressions are analyzed, so
    // graft_hash60/float_dot/float_cosine resolve in any session — ours
    // or one the driver built (sessions created with GraftExtensions get
    // them twice, harmlessly).
    graft.plans.GraftFunctions.register(spark)
    val df = if (name == "events") loadEvents(spark, dir) else
      spark.read.parquet(path(dir, name))
    if (wide) widen(spark, df, path(dir, name)) else df
  }

  /** OPT-IN local-corpus remedy for an unsplittable scan feeding CPU-heavy
    * per-row work: the testdata tables are single parquet files with a
    * single row group, so Spark's byte-range splitting yields ONE populated
    * scan partition no matter what `maxPartitionBytes` says — and a
    * generator×hash pipeline above it (char-shingle explode + one md5 per
    * shingle) runs on one core of 32. A round-robin repartition right above
    * the scan moves kilobytes to move the compute to every core; Catalyst
    * still pushes filters and column pruning through a Repartition node, so
    * PushedFilters/ReadSchema are unchanged. Measured at sf0.1:
    * q_fingerprint 2.7→0.8s, q_minhash_signatures 2.1→0.75s,
    * q_dedup_components −1.2s — and measured HARMFUL for join/agg-shaped
    * queries (q18 +0.8s: the extra exchange stacks under the join's own
    * hash exchange), which is why only the md5-shingle builders opt in.
    * On a cluster this never fires: multi-file/multi-row-group tables
    * split naturally (non-local or directory-shaped paths skip the widen
    * entirely), and at 100 TB an extra full-corpus exchange would be
    * exactly the wrong trade. */
  private def widen(spark: SparkSession, df: DataFrame, p: String): DataFrame = {
    val f = new java.io.File(p)
    val cores = spark.sparkContext.defaultParallelism
    if (f.isFile && f.length >= 100L * 1024 && f.length < 64L * 1024 * 1024
        && cores > 4)
      df.repartition(cores)
    else df
  }

  /** `events.parquet` has been generated with two physical types for `ts`
    * across testdata generations: TIMESTAMP(NANOS) (Arrow default; Spark's
    * parquet reader rejects it unless read as a raw long via the legacy
    * conf) and timestamp[us] (which Spark surfaces as TIMESTAMP_NTZ when the
    * footer says isAdjustedToUTC=false). Probe the LOADED dtype and branch,
    * so the loader is correct against either generation:
    *   - LongType (nanosAsLong shim active)  → floor-divide ns→µs
    *   - TIMESTAMP_NTZ                       → cast to session-local
    *     TIMESTAMP (sessions pin UTC, so the wall-clock IS the instant and
    *     DuckDB-oracle comparisons stay UTC-stable)
    *   - TIMESTAMP                           → pass through
    */
  private def loadEvents(spark: SparkSession, dir: String): DataFrame = {
    // Idempotent read-path conf; sessions we own (Verify/Bench/tests) set it
    // at build time, but the driver may hand us a session it built itself.
    // Harmless for µs files (only changes how NANOS columns are read).
    if (spark.conf.getOption(NanosAsLongKey).forall(_ != "true"))
      spark.conf.set(NanosAsLongKey, "true")
    val raw = spark.read.parquet(path(dir, "events"))
    normalizeTs(raw)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
  }

  /** Normalize the `ts` column of a raw events frame to TimestampType
    * regardless of the physical parquet type it was read as. Shared by the
    * batch and streaming loaders (and property-fuzzed in SourcesSpec against
    * synthesized frames of every branch). */
  private[graft] def normalizeTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    df.schema("ts").dataType match {
      case LongType =>
        // nanos-as-long generation: (ts - pmod(ts,1000)) div 1000 = exact
        // integer FLOOR division — `div` alone truncates toward zero and
        // would round pre-1970 negative nanos the wrong way vs DuckDB's
        // TIMESTAMP_NS handling; floor(x/1000.0) would round through double
        // and lose precision at epoch-nanosecond magnitudes (~1.7e18 > 2^53).
        df.withColumn("ts",
          timestamp_micros(expr("(ts - pmod(ts, 1000L)) div 1000")))
      case _: TimestampNTZType =>
        // µs generation read as NTZ: under the UTC session timezone the
        // cast reinterprets the wall-clock as the same UTC instant.
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _: TimestampType => df
      case other => throw new IllegalStateException(
        s"events.ts has unsupported parquet-surfaced type $other; " +
          "expected BIGINT (nanos), TIMESTAMP_NTZ (micros) or TIMESTAMP")
    }
  }

  val NanosAsLongKey = "spark.sql.legacy.parquet.nanosAsLong"

  /** Streaming twin of [[loadEvents]]: the same parquet files as an
    * incremental file-stream source with the same ts normalization, so a
    * streaming query is plan-identical to its batch twin from the source
    * up. The schema probe reads footers only (no job). */
  /** Footer-probed events schema per directory. The testdata tables are
    * immutable for a process lifetime, and the 13 streaming catalog
    * entries (× bench warmup + reps) would otherwise re-read the footer
    * and re-build a throwaway batch relation on every invocation. */
  private val eventsSchemaCache =
    new scala.collection.concurrent.TrieMap[String, org.apache.spark.sql.types.StructType]

  def loadEventsStream(spark: SparkSession, dir: String): DataFrame = {
    if (spark.conf.getOption(NanosAsLongKey).forall(_ != "true"))
      spark.conf.set(NanosAsLongKey, "true")
    graft.plans.GraftFunctions.register(spark)
    val schema = eventsSchemaCache.getOrElseUpdate(path(dir, "events"),
      spark.read.parquet(path(dir, "events")).schema)
    // the testdata table is a single parquet FILE; the file-stream source
    // needs a directory or a glob PATTERN (a directory-per-table layout
    // needs neither), so wrap the filename in a {}-glob
    val raw = spark.readStream.schema(schema).parquet(s"$dir/{events.parquet}")
    normalizeTs(raw)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
  }

  /** Register every table as a temp view so `spark.sql` mirrors the DuckDB
    * oracle's naming exactly. */
  def registerViews(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}
