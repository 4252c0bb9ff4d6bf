package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.sources.Tables
import Parity._

/** A STREAMING-EXECUTED catalog query, so incremental execution itself is
  * under the driver's correctness gate (the rest of the streaming surface
  * is spec-tested in graft.streaming): q_stream_tumbling runs the exact
  * transform of the batch q_tumbling_window as a Structured Streaming
  * job — parquet file-stream source, AvailableNow trigger (process all
  * available input, then stop), complete-mode memory sink — and must match
  * the SAME DuckDB oracle as the batch twin.
  *
  * One transform, two execution modes: [[tumblingExact]] is called by both
  * catalog entries, which is the Spark-native claim made concrete — the
  * declarative plan doesn't know whether its source is bounded.
  *
  * Complete mode (not append+watermark) because the gate compares the full
  * result: in append mode the final windows never emit (no later data ever
  * advances the watermark past them). The production-shaped variant with
  * watermarked append output is StreamingOps.tumblingCounts, spec-tested
  * for late-data semantics in StreamingSpec.
  */
object StreamingParity {

  /** Event-time tumbling aggregation, parity-exact (decimal partials,
    * window start as epoch ms) — shared verbatim by q_tumbling_window
    * (batch) and q_stream_tumbling (incremental). */
  def tumblingExact(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(dec("value")).as("sum_value"))
      .select(unix_millis(col("window.start")).as("window_start_ms"),
        col("event_type"), col("n"), col("sum_value"))

  /** Oracle for BOTH tumbling entries (batch and streaming twins must
    * match the same spec). */
  val tumblingOracleSql: String = s"""
      |SELECT CAST(epoch_ms(date_trunc('hour', ts)) AS BIGINT) AS window_start_ms,
      |  event_type, count(*) AS n, ${sqlDsum(sqlDec("value"))} AS sum_value
      |FROM events
      |GROUP BY 1, 2 ORDER BY window_start_ms, event_type
      |""".stripMargin.trim

  private val SinkTable = "graft_stream_tumbling_sink"

  /** Streaming state-partition sizing, derived from STREAM VOLUME
    * instead of the CPU-count shuffle default: every stateful streaming
    * operator runs one state store per shuffle partition with FIXED
    * per-micro-batch commit overhead per partition (measured on this
    * corpus in round 8: 32 partitions cost ~4x the wall-clock of 8 for
    * identical output, and 4 beat 8 by a further ~20% on the
    * stream-stream join, which runs 4 state stores per partition; wash
    * on the windowed aggs). The rule: one state partition per 512 KiB of
    * source input, clamped to [1, defaultParallelism] — at the bench
    * corpus (sf0.1, ~2 MiB events) it derives exactly the measured
    * optimum of 4, and a cluster-scale stream derives up to the
    * session's full parallelism instead of a pinned constant. */
  private val StateBytesPerPartition = 512L * 1024

  private def statePartitionsFor(spark: SparkSession, dir: String): Int = {
    val bytes = math.max(1L,
      new java.io.File(Tables.path(dir, "events")).length)
    val derived =
      ((bytes + StateBytesPerPartition - 1) / StateBytesPerPartition).toInt
    math.min(math.max(1, derived),
      math.max(1, spark.sparkContext.defaultParallelism))
  }

  private def runToMemory(spark: SparkSession, sink: String, dir: String,
      mode: String = "complete", finalizeWatermark: Boolean = true)
      (build: SparkSession => DataFrame): DataFrame = {
    // The partition count is session conf at stream START (baked into the
    // checkpoint), so the whole stream — plan and all — is built on a
    // CLONED session (same SparkContext, isolated SQL conf): the shared
    // session's shuffle.partitions is never mutated, where a set/restore
    // would race any concurrently-built query or second stream start
    // (VERDICT r06 hardening note).
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions",
      statePartitionsFor(spark, dir).toString)
    // Entries whose OUTPUT never depends on the final watermark position
    // (complete-mode aggs re-emit everything each batch; inner/semi join
    // matches and dedup survivors emit in the batch that processes them —
    // the trailing no-data micro-batch only evicts state) skip that final
    // batch: it re-commits every state store for zero output rows, pure
    // fixed cost at AvailableNow termination. The watermark-GATED entries
    // (outer/full/right/anti: their NULL-side rows emit only when the
    // final watermark passes the match window) keep it — correctness
    // depends on it, and the oracle's wm gate models exactly that batch.
    if (!finalizeWatermark)
      ss.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    // Measured NON-costs at this volume, so they stay default:
    // checkpoint placement (a RAM-backed checkpoint dir changed nothing —
    // the page cache already absorbs the small per-batch log writes),
    // state format validation, and state partitions 1/8 vs the derived 4
    // (both slower). The steady
    // per-entry cost is ~0.3 s per-batch incremental planning plus
    // addBatch state work proportional to stream volume — real work,
    // not amortizable machinery.
    val q = build(ss).writeStream
      .format("memory")
      .queryName(sink)
      .outputMode(mode)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    ss.table(sink)
  }

  private val qStreamTumbling = QueryDef(
    "q_stream_tumbling",
    Some(tumblingOracleSql),
    (spark, dir) =>
      runToMemory(spark, SinkTable, dir, finalizeWatermark = false)(s =>
        tumblingExact(Tables.loadEventsStream(s, dir)))
        .orderBy("window_start_ms", "event_type"))

  /** Gap-based session windows via the session_window generator — the
    * MERGING-window operator (tumbling windows never merge; sessions do),
    * shared by the batch and streaming twins. Session bounds surface as
    * min/max event time (epoch ms), NOT the operator's window.end, which
    * is last-event + gap by definition and would leak the gap parameter
    * into the output. */
  def sessionWindowExact(events: DataFrame): DataFrame =
    events
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"),
        unix_millis(min(col("ts"))).as("start_ms"),
        unix_millis(max(col("ts"))).as("end_ms"))
      .select(col("user_id"), col("start_ms"), col("end_ms"), col("n_events"))

  /** Oracle for both session_window twins. session_window semantics: two
    * events merge iff gap < 30 min STRICTLY (each event's window is
    * [ts, ts+gap) and merging needs overlap), so the lag-formulation flag
    * is `>=` here — deliberately different from q_sessionize's `>`-gap
    * business rule. */
  val sessionOracleSql: String = """
      |WITH flagged AS (
      |  SELECT user_id, ts, event_id,
      |    CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
      |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) >= 1800000000
      |         THEN 1 ELSE 0 END AS is_new
      |  FROM events),
      |sess AS (
      |  SELECT user_id, ts,
      |    CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_no
      |  FROM flagged)
      |SELECT user_id, CAST(epoch_ms(min(ts)) AS BIGINT) AS start_ms,
      |  CAST(epoch_ms(max(ts)) AS BIGINT) AS end_ms, count(*) AS n_events
      |FROM sess GROUP BY user_id, session_no ORDER BY user_id, start_ms
      |""".stripMargin.trim

  /** Batch execution of the session_window operator. */
  private val qSessionWindow = QueryDef(
    "q_session_window",
    Some(sessionOracleSql),
    (spark, dir) =>
      sessionWindowExact(tbl(spark, dir, "events"))
        .orderBy("user_id", "start_ms"))

  private val SessionSink = "graft_stream_session_sink"

  /** Streaming execution of the SAME transform: merging session state is
    * maintained by the stateful session-window operator across batches. */
  private val qStreamSessionize = QueryDef(
    "q_stream_sessionize",
    Some(sessionOracleSql),
    (spark, dir) =>
      runToMemory(spark, SessionSink, dir, finalizeWatermark = false)(s =>
        sessionWindowExact(Tables.loadEventsStream(s, dir)))
        .orderBy("user_id", "start_ms"))

  private val JoinSink = "graft_stream_join_sink"

  /** Stream-STREAM watermarked interval join under the correctness gate:
    * clicks joined to same-user purchases within a 1-hour horizon
    * (StreamingOps.clickPurchaseJoin — both sides watermarked, state
    * eviction time-bounded by the horizon), executed incrementally over
    * the file-stream source in APPEND mode (an inner stream-stream join
    * emits matches as they arrive; the watermark only bounds state, so
    * append yields the complete result under AvailableNow). Must match
    * the plain batch interval-join SQL the oracle runs. */
  private val qStreamJoin = QueryDef(
    "q_stream_join",
    Some("""
      |SELECT c.user_id AS c_user, CAST(epoch_ms(c.ts) AS BIGINT) AS c_ts_ms,
      |  c.value AS c_value, CAST(epoch_ms(p.ts) AS BIGINT) AS p_ts_ms,
      |  p.value AS p_value
      |FROM events c JOIN events p
      |  ON p.user_id = c.user_id
      | AND c.event_type = 'click' AND p.event_type = 'purchase'
      | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
      |ORDER BY c_user, c_ts_ms, c_value, p_ts_ms, p_value
      |""".stripMargin.trim),
    (spark, dir) => {
      runToMemory(spark, JoinSink, dir, mode = "append",
        finalizeWatermark = false) { s =>
        val ev = Tables.loadEventsStream(s, dir)
        graft.streaming.StreamingOps.clickPurchaseJoin(
          ev.filter(col("event_type") === "click"),
          ev.filter(col("event_type") === "purchase"))
      }
        .select(col("c_user"), unix_millis(col("c_ts")).as("c_ts_ms"),
          col("c_value"), unix_millis(col("p_ts")).as("p_ts_ms"),
          col("p_value"))
        .orderBy("c_user", "c_ts_ms", "c_value", "p_ts_ms", "p_value")
    })

  private val OuterJoinSink = "graft_stream_join_outer_sink"

  /** Stream-stream LEFT-OUTER watermarked interval join (VERDICT r08 item
    * 7) — the "clicks with no purchase within the horizon" shape that
    * funnel/attribution pipelines need. Matches emit as they arrive (inner
    * path); an UNMATCHED click emits once with NULL purchase columns when
    * the global watermark (min of both sides' watermarks, each max-event-ts
    * minus lateness) passes the end of its match window — so the oracle is
    * the batch left join PLUS the watermark gate on NULL rows: an unmatched
    * click whose window end the final watermark never crossed is still
    * held in state at AvailableNow termination and must NOT appear.
    * Horizon (47 min) and lateness (61 min) are deliberately non-round so
    * no generated event time can tie the eviction boundary exactly. */
  private val qStreamJoinOuter = QueryDef(
    "q_stream_join_outer",
    Some("""
      |WITH c AS (SELECT user_id, ts, value FROM events WHERE event_type = 'click'),
      |p AS (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'),
      |wm AS (SELECT least((SELECT max(ts) FROM c), (SELECT max(ts) FROM p))
      |         - INTERVAL 61 MINUTE AS w)
      |SELECT c.user_id AS c_user, CAST(epoch_ms(c.ts) AS BIGINT) AS c_ts_ms,
      |  c.value AS c_value, CAST(epoch_ms(p.ts) AS BIGINT) AS p_ts_ms,
      |  p.value AS p_value
      |FROM c LEFT JOIN p
      |  ON p.user_id = c.user_id
      | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 47 MINUTE
      |WHERE p.ts IS NOT NULL
      |   OR c.ts + INTERVAL 47 MINUTE < (SELECT w FROM wm)
      |ORDER BY c_user, c_ts_ms, c_value, p_ts_ms, p_value
      |""".stripMargin.trim),
    (spark, dir) => {
      runToMemory(spark, OuterJoinSink, dir, mode = "append") { s =>
        val ev = Tables.loadEventsStream(s, dir)
        graft.streaming.StreamingOps.clickPurchaseJoin(
          ev.filter(col("event_type") === "click"),
          ev.filter(col("event_type") === "purchase"),
          horizon = "47 minutes", lateness = "61 minutes",
          joinType = "leftOuter")
      }
        .select(col("c_user"), unix_millis(col("c_ts")).as("c_ts_ms"),
          col("c_value"), unix_millis(col("p_ts")).as("p_ts_ms"),
          col("p_value"))
        .orderBy("c_user", "c_ts_ms", "c_value", "p_ts_ms", "p_value")
    })

  private val FullJoinSink = "graft_stream_join_full_sink"

  /** Stream-stream FULL-outer watermarked interval join — completes the
    * outer matrix (inner `q_stream_join`, left `q_stream_join_outer`):
    * unmatched CLICKS emit NULL purchase columns when the watermark passes
    * the end of their match window (c_ts + horizon, as in the left-outer
    * twin), and unmatched PURCHASES emit NULL click columns when the
    * watermark passes the purchase's own event time — a purchase can match
    * any click in [p_ts − horizon, p_ts], so it is safe to evict as soon
    * as no on-time click at or before p_ts can still arrive. Oracle: the
    * batch full join with BOTH watermark gates on the respective NULL
    * sides (empirically value-exact at every SF; same non-round
    * horizon/lateness trick to keep the eviction boundary tie-free). */
  private val qStreamJoinFull = QueryDef(
    "q_stream_join_full",
    Some("""
      |WITH c AS (SELECT user_id, ts, value FROM events WHERE event_type = 'click'),
      |p AS (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'),
      |wm AS (SELECT least((SELECT max(ts) FROM c), (SELECT max(ts) FROM p))
      |         - INTERVAL 61 MINUTE AS w)
      |SELECT c.user_id AS c_user, CAST(epoch_ms(c.ts) AS BIGINT) AS c_ts_ms,
      |  c.value AS c_value, p.user_id AS p_user,
      |  CAST(epoch_ms(p.ts) AS BIGINT) AS p_ts_ms, p.value AS p_value
      |FROM c FULL JOIN p
      |  ON p.user_id = c.user_id
      | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 47 MINUTE
      |WHERE (c.ts IS NOT NULL AND p.ts IS NOT NULL)
      |   OR (p.ts IS NULL AND c.ts + INTERVAL 47 MINUTE < (SELECT w FROM wm))
      |   OR (c.ts IS NULL AND p.ts < (SELECT w FROM wm))
      |ORDER BY c_user, c_ts_ms, c_value, p_user, p_ts_ms, p_value
      |""".stripMargin.trim),
    (spark, dir) => {
      runToMemory(spark, FullJoinSink, dir, mode = "append") { s =>
        val ev = Tables.loadEventsStream(s, dir)
        graft.streaming.StreamingOps.clickPurchaseJoin(
          ev.filter(col("event_type") === "click"),
          ev.filter(col("event_type") === "purchase"),
          horizon = "47 minutes", lateness = "61 minutes",
          joinType = "fullOuter")
      }
        .select(col("c_user"), unix_millis(col("c_ts")).as("c_ts_ms"),
          col("c_value"), col("p_user"),
          unix_millis(col("p_ts")).as("p_ts_ms"), col("p_value"))
        .orderBy("c_user", "c_ts_ms", "c_value", "p_user", "p_ts_ms", "p_value")
    })

  private val RightJoinSink = "graft_stream_join_right_sink"

  /** Stream-stream RIGHT-outer watermarked interval join — the mirror of
    * `q_stream_join_outer`, closing the join matrix symmetrically:
    * matches emit as they arrive; an unmatched PURCHASE emits once with
    * NULL click columns when the watermark passes the purchase's own
    * event time (a purchase can match any click in [p_ts − horizon,
    * p_ts], so it is safe to evict as soon as no on-time click at or
    * before p_ts can still arrive — the full-outer variant's
    * purchase-side gate). Oracle: the batch right join with that
    * watermark gate on the NULL-click rows; same non-round horizon (47
    * min) and lateness (61 min) keep the eviction boundary tie-free. */
  private val qStreamJoinRight = QueryDef(
    "q_stream_join_right",
    Some("""
      |WITH c AS (SELECT user_id, ts, value FROM events WHERE event_type = 'click'),
      |p AS (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'),
      |wm AS (SELECT least((SELECT max(ts) FROM c), (SELECT max(ts) FROM p))
      |         - INTERVAL 61 MINUTE AS w)
      |SELECT c.user_id AS c_user, CAST(epoch_ms(c.ts) AS BIGINT) AS c_ts_ms,
      |  c.value AS c_value, p.user_id AS p_user,
      |  CAST(epoch_ms(p.ts) AS BIGINT) AS p_ts_ms, p.value AS p_value
      |FROM c RIGHT JOIN p
      |  ON p.user_id = c.user_id
      | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 47 MINUTE
      |WHERE c.ts IS NOT NULL
      |   OR p.ts < (SELECT w FROM wm)
      |ORDER BY c_user, c_ts_ms, c_value, p_user, p_ts_ms, p_value
      |""".stripMargin.trim),
    (spark, dir) => {
      runToMemory(spark, RightJoinSink, dir, mode = "append") { s =>
        val ev = Tables.loadEventsStream(s, dir)
        graft.streaming.StreamingOps.clickPurchaseJoin(
          ev.filter(col("event_type") === "click"),
          ev.filter(col("event_type") === "purchase"),
          horizon = "47 minutes", lateness = "61 minutes",
          joinType = "rightOuter")
      }
        .select(col("c_user"), unix_millis(col("c_ts")).as("c_ts_ms"),
          col("c_value"), col("p_user"),
          unix_millis(col("p_ts")).as("p_ts_ms"), col("p_value"))
        .orderBy("c_user", "c_ts_ms", "c_value", "p_user", "p_ts_ms", "p_value")
    })

  private val SemiJoinSink = "graft_stream_join_semi_sink"

  /** Stream-stream LEFT-SEMI watermarked interval join: "clicks that DID
    * convert within the horizon", emitted exactly once per click no matter
    * how many purchases match. Unlike the outer variants the output needs
    * no watermark gate in the oracle — a click emits as soon as its first
    * match arrives, and a click with no match never emits — so the oracle
    * is the plain batch EXISTS. (State is still watermark-evicted; the
    * semantics just don't depend on the final watermark position.) */
  private val qStreamJoinSemi = QueryDef(
    "q_stream_join_semi",
    Some("""
      |SELECT c.user_id AS c_user, CAST(epoch_ms(c.ts) AS BIGINT) AS c_ts_ms,
      |  c.value AS c_value
      |FROM events c
      |WHERE c.event_type = 'click' AND EXISTS (
      |  SELECT 1 FROM events p
      |  WHERE p.event_type = 'purchase' AND p.user_id = c.user_id
      |    AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 47 MINUTE)
      |ORDER BY c_user, c_ts_ms, c_value
      |""".stripMargin.trim),
    (spark, dir) => {
      runToMemory(spark, SemiJoinSink, dir, mode = "append",
        finalizeWatermark = false) { s =>
        val ev = Tables.loadEventsStream(s, dir)
        graft.streaming.StreamingOps.clickPurchaseJoin(
          ev.filter(col("event_type") === "click"),
          ev.filter(col("event_type") === "purchase"),
          horizon = "47 minutes", lateness = "61 minutes",
          joinType = "leftSemi")
      }
        .select(col("c_user"), unix_millis(col("c_ts")).as("c_ts_ms"),
          col("c_value"))
        .orderBy("c_user", "c_ts_ms", "c_value")
    })

  private val AntiJoinSink = "graft_stream_join_anti_sink"

  /** Stream-stream LEFT-ANTI watermarked interval join — "clicks that did
    * NOT convert within the horizon", the abandoned-funnel query. Spark
    * has no native stream-stream anti join (`leftAnti` on a streaming
    * right side is rejected at analysis), but anti ≡ the LEFT-OUTER
    * join's NULL-match rows, so the operator is the outer join filtered
    * to `p_ts IS NULL` — a pure post-join filter that Spark pipelines
    * into the same stage, no extra state or shuffle. An anti row can only
    * be decided NEGATIVELY once no on-time purchase can still arrive, so
    * every output row waits for the watermark to pass its match window
    * (the outer variant's NULL-row eviction gate). Oracle: batch NOT
    * EXISTS plus that watermark gate. */
  private val qStreamJoinAnti = QueryDef(
    "q_stream_join_anti",
    Some("""
      |WITH c AS (SELECT user_id, ts, value FROM events WHERE event_type = 'click'),
      |p AS (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'),
      |wm AS (SELECT least((SELECT max(ts) FROM c), (SELECT max(ts) FROM p))
      |         - INTERVAL 61 MINUTE AS w)
      |SELECT c.user_id AS c_user, CAST(epoch_ms(c.ts) AS BIGINT) AS c_ts_ms,
      |  c.value AS c_value
      |FROM c
      |WHERE NOT EXISTS (
      |    SELECT 1 FROM p
      |    WHERE p.user_id = c.user_id
      |      AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 47 MINUTE)
      |  AND c.ts + INTERVAL 47 MINUTE < (SELECT w FROM wm)
      |ORDER BY c_user, c_ts_ms, c_value
      |""".stripMargin.trim),
    (spark, dir) => {
      runToMemory(spark, AntiJoinSink, dir, mode = "append") { s =>
        val ev = Tables.loadEventsStream(s, dir)
        graft.streaming.StreamingOps.clickPurchaseJoin(
          ev.filter(col("event_type") === "click"),
          ev.filter(col("event_type") === "purchase"),
          horizon = "47 minutes", lateness = "61 minutes",
          joinType = "leftOuter")
          .filter(col("p_ts").isNull)
      }
        .select(col("c_user"), unix_millis(col("c_ts")).as("c_ts_ms"),
          col("c_value"))
        .orderBy("c_user", "c_ts_ms", "c_value")
    })

  private val EnrichSink = "graft_stream_enrich_sink"

  /** Stream-STATIC enrichment under the correctness gate: each streamed
    * event joins a broadcast batch dimension (per-type totals computed
    * from the batch table) — the streaming analog of the reference's
    * DistributedCache side-file (StreamingOps.enrich), stateless per
    * micro-batch so append mode emits every enriched row exactly once. */
  private val qStreamEnrich = QueryDef(
    "q_stream_enrich",
    Some("""
      |WITH d AS (SELECT event_type, count(*) AS type_total FROM events GROUP BY event_type)
      |SELECT e.event_id, e.event_type, d.type_total
      |FROM events e JOIN d USING (event_type)
      |ORDER BY event_id
      |""".stripMargin.trim),
    (spark, dir) => {
      runToMemory(spark, EnrichSink, dir, mode = "append",
        finalizeWatermark = false) { s =>
        val dim = tbl(s, dir, "events")
          .groupBy("event_type").agg(count(lit(1)).as("type_total"))
        graft.streaming.StreamingOps.enrich(
          Tables.loadEventsStream(s, dir), dim, "event_type")
          .select(col("event_id"), col("event_type"), col("type_total"))
      }.orderBy("event_id")
    })

  private val DedupSink = "graft_stream_dedup_sink"

  /** STREAMING EXACT DEDUP under the correctness gate — the ingestion-side
    * twin of the batch q_dedup_exact, and the standard first-occurrence-wins
    * guard for at-least-once sources (a redelivered event must not double
    * count downstream). `StreamingOps.dedupEvents` runs
    * `dropDuplicatesWithinWatermark(event_id)`: per-key state is kept only
    * until the watermark passes the key's event time + lateness, so state
    * is bounded by stream VOLUME PER LATENESS WINDOW, not by stream
    * lifetime — the property that makes streaming dedup viable on an
    * unbounded 100 TB/day feed where batch dropDuplicates cannot run.
    *
    * event_id is unique in the generated table, so duplicates are
    * constructed IN-PLAN (each row exploded into two identical copies
    * before the dedup). This keeps the oracle deterministic — both copies
    * are byte-identical and created in the same micro-batch, so whichever
    * survives yields the same output and no copy can be separated from its
    * twin by a watermark boundary. Dedup output = exactly the distinct
    * event rows, which DuckDB states as a plain scan. */
  private val qStreamDedup = QueryDef(
    "q_stream_dedup",
    Some("""
      |SELECT event_id, user_id, event_type,
      |  CAST(epoch_ms(ts) AS BIGINT) AS ts_ms, value
      |FROM events ORDER BY event_id
      |""".stripMargin.trim),
    (spark, dir) => {
      runToMemory(spark, DedupSink, dir, mode = "append",
        finalizeWatermark = false) { s =>
        val doubled = Tables.loadEventsStream(s, dir)
          .withColumn("copy", explode(array(lit(1), lit(2))))
          .drop("copy")
        graft.streaming.StreamingOps.dedupEvents(doubled)
      }
        .select(col("event_id"), col("user_id"), col("event_type"),
          unix_millis(col("ts")).as("ts_ms"), col("value"))
        .orderBy("event_id")
    })

  /** The graft-tsv STREAMING SINK under the oracle gate: stream the
    * events table through `writeStream.format("graft-tsv")` (stateless
    * projection, append mode — each micro-batch publishes one manifest
    * generation through the same atomic swap as a batch commit), then
    * batch-read the TSV back through the connector and aggregate. The
    * oracle states the aggregate over the ORIGINAL parquet, so a pass
    * proves epoch serialization + the per-epoch commit protocol +
    * read-back are value-exact end-to-end — the sink twin of
    * q_stream_tumbling's source claim. Fresh tmp dir + checkpoint per
    * invocation (the write IS the exhibit; replay idempotence is
    * spec-driven in Dsv2StreamSpec). */
  private val qStreamDsv2Sink = QueryDef(
    "q_stream_dsv2_sink",
    Some(s"""
      |SELECT event_type, count(*) AS n, ${sqlDsum(sqlDec("value"))} AS sum_value
      |FROM events GROUP BY event_type ORDER BY event_type
      |""".stripMargin.trim),
    (spark, dir) => {
      import org.apache.spark.sql.types._
      val root = java.nio.file.Files.createTempDirectory("graft_stream_tsv").toString
      // fresh dir per invocation (checkpoint semantics demand it), but
      // not LEAKED per invocation: the bench protocol re-runs queries
      // many times per JVM, so reclaim at JVM exit
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))))
      val out = s"$root/out"
      val q = Tables.loadEventsStream(spark, dir)
        .select(col("event_type"),
          dec("value").cast("string").as("value_str")) // lossless decimal hop
        .writeStream.format("graft-tsv")
        .option("path", out)
        .option("checkpointLocation", s"$root/ckpt")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val schema = StructType(Seq(
        StructField("event_type", StringType),
        StructField("value_str", StringType)))
      spark.read.format("graft-tsv").schema(schema).load(out)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), dsum(dec(col("value_str"))).as("sum_value"))
        .orderBy("event_type")
    })

  /** STREAMING CDC UPSERT into the graft catalog — foreachBatch running
    * SQL `MERGE INTO` per micro-batch, the streaming-lakehouse write verb
    * (Delta/Iceberg's `foreachBatch + MERGE` recipe) on this engine's own
    * connector: a three-micro-batch upsert feed (maxFilesPerTrigger=1
    * over a 3-file directory) lands on a seeded table; matched keys
    * UPDATE to the feed's ABSOLUTE values — absolute, not incremental,
    * which is what makes a replayed micro-batch idempotent, the
    * foreachBatch at-least-once contract — and unmatched keys INSERT.
    * Each batch's merge is one copy-on-write generation commit, so a
    * concurrent reader sees batch boundaries, never partial batches. The
    * oracle reconstructs the final table (base ⊕ full feed) — a pass
    * proves three incremental merges ≡ one logical upsert. Keys are
    * unique across batches here; colliding keys across batches would
    * last-write-win by arrival order, which the feed's file order makes
    * deterministic. */
  private val qStreamUpsert = QueryDef(
    "q_stream_upsert",
    Some(s"""
      |WITH base AS (
      |  SELECT o_orderkey, o_orderstatus, ${sqlDec("o_totalprice")} AS price
      |  FROM orders WHERE o_orderkey % 3 <> 0),
      |src AS (
      |  SELECT o_orderkey, o_orderstatus, ${sqlDec("o_totalprice")} * 2 AS price2
      |  FROM orders WHERE o_orderkey % 2 = 0),
      |merged AS (
      |  SELECT
      |    CASE WHEN s.o_orderkey IS NOT NULL
      |      THEN concat('U', s.o_orderstatus) ELSE b.o_orderstatus END AS st,
      |    CASE WHEN s.o_orderkey IS NOT NULL THEN s.price2 ELSE b.price END AS price
      |  FROM base b LEFT JOIN src s ON b.o_orderkey = s.o_orderkey
      |  UNION ALL
      |  SELECT concat('N', s.o_orderstatus) AS st, s.price2 AS price
      |  FROM src s WHERE NOT EXISTS (
      |    SELECT 1 FROM base b WHERE b.o_orderkey = s.o_orderkey))
      |SELECT st AS o_orderstatus, count(*) AS n,
      |  CAST(sum(price) AS DOUBLE) AS sum_price
      |FROM merged GROUP BY st ORDER BY st
      |""".stripMargin.trim),
    (spark, dir) => {
      val pt = ArtifactStore.parityTable(spark, dir, "orders_sup")
      val t = pt.sql
      spark.sql(s"""CREATE TABLE $t (o_orderkey BIGINT, o_orderstatus STRING,
        o_totalprice_str STRING) USING `graft-tsv`""")
      val orders = tbl(spark, dir, "orders")
      orders.filter(col("o_orderkey") % 3 =!= 0).select(
        col("o_orderkey"), col("o_orderstatus"),
        dec("o_totalprice").cast("string").as("o_totalprice_str"))
        .writeTo(t).append()                               // seed: gen 1
      // the upsert feed: 3 parquet files = 3 micro-batches (fresh dir +
      // checkpoint per invocation; reclaimed at JVM exit like the other
      // streaming sinks)
      val tmp = java.nio.file.Files.createTempDirectory("graft_stream_up").toString
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))))
      orders.filter(col("o_orderkey") % 2 === 0).select(
        col("o_orderkey"), col("o_orderstatus"),
        (dec("o_totalprice") * 2).cast("string").as("price2_str"))
        .repartitionByRange(3, col("o_orderkey"))
        .write.mode("overwrite").parquet(s"$tmp/feed")
      val feedSchema = spark.read.parquet(s"$tmp/feed").schema
      val q = spark.readStream.schema(feedSchema)
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$tmp/feed")
        .writeStream
        .option("checkpointLocation", s"$tmp/ckpt")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val view = s"up_batch_${pt.name}_$batchId"
          batch.createOrReplaceTempView(view)
          batch.sparkSession.sql(s"""
            MERGE INTO $t t USING $view s ON t.o_orderkey = s.o_orderkey
            WHEN MATCHED THEN UPDATE SET
              o_orderstatus = concat('U', s.o_orderstatus),
              o_totalprice_str = s.price2_str
            WHEN NOT MATCHED THEN
              INSERT (o_orderkey, o_orderstatus, o_totalprice_str)
              VALUES (s.o_orderkey, concat('N', s.o_orderstatus), s.price2_str)
          """)
          ()
        }
        .start()
      q.awaitTermination()
      spark.table(t)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          dsum(dec(col("o_totalprice_str"))).as("sum_price"))
        .orderBy("o_orderstatus")
    })

  private val Scd2Sink = "graft_stream_scd2_sink"

  /** Streaming SCD Type-2 ([[graft.streaming.StreamingOps.scd2Intervals]]
    * — flatMapGroupsWithState in APPEND mode): closed validity intervals
    * emit as the tracked attribute changes; the open interval is state,
    * not output. The oracle is the batch q_scd2_build derivation
    * restricted to closed rows, so the gate proves the custom-state
    * operator equals the declarative lag/lead twin on the same corpus. */
  private val qStreamScd2 = QueryDef(
    "q_stream_scd2",
    Some("""
      |WITH e AS (
      |  SELECT user_id, ts, event_id,
      |    CAST(json_extract_string(props, '$.k') AS BIGINT) // 25 AS tier
      |  FROM events
      |  WHERE json_extract_string(props, '$.k') IS NOT NULL),
      |chg AS (
      |  SELECT user_id, ts, event_id, tier FROM (
      |    SELECT user_id, ts, event_id, tier,
      |      lag(tier) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      |    FROM e)
      |  WHERE prev IS NULL OR prev <> tier),
      |iv AS (
      |  SELECT user_id, tier,
      |    CAST(epoch_us(ts) AS BIGINT) AS valid_from_us,
      |    CAST(epoch_us(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS BIGINT) AS valid_to_us
      |  FROM chg)
      |SELECT user_id, tier, valid_from_us, valid_to_us
      |FROM iv WHERE valid_to_us IS NOT NULL
      |ORDER BY user_id, valid_from_us
      |""".stripMargin.trim),
    (spark, dir) => {
      runToMemory(spark, Scd2Sink, dir, mode = "append",
        finalizeWatermark = false) { s =>
        import s.implicits._
        Tables.loadEventsStream(s, dir)
          .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
            col("event_id"),
            expr("CAST(get_json_object(props, '$.k') AS BIGINT) div 25")
              .as("tier"))
          // TierEvent.tier is a primitive Long: a missing/non-numeric k
          // would otherwise kill the stream at the encoder (the batch
          // twin's nullable column tolerates it); the oracle carries the
          // same guard
          .filter(col("tier").isNotNull)
          .as[graft.streaming.StreamingOps.TierEvent]
          .transform(graft.streaming.StreamingOps.scd2Intervals)
          .toDF()
      }
        .select("user_id", "tier", "valid_from_us", "valid_to_us")
        .orderBy("user_id", "valid_from_us")
    })

  val defs: Seq[QueryDef] =
    Seq(qStreamTumbling, qSessionWindow, qStreamSessionize, qStreamJoin,
      qStreamJoinOuter, qStreamJoinFull, qStreamJoinRight, qStreamJoinSemi,
      qStreamJoinAnti, qStreamEnrich, qStreamDedup, qStreamDsv2Sink,
      qStreamUpsert, qStreamScd2)
}
