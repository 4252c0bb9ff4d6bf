package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.operators.TextOps
import graft.sources.Tables

import Parity._

/** One named query per operator in SURVEY.md §2, each paired with the ANSI
  * SQL the DuckDB oracle runs on the same parquet tables. Parity rules and
  * the QueryDef shape live in graft.queries.Parity; further operator
  * families in Relational / Dedup / TextAnalysis / Similarity. */
object Catalog {

  // =========================================================================
  // Reference semantics over the `documents` corpus (SURVEY.md §2.1)
  // =========================================================================

  /** O1+O3+O7/O8+O13: tokenize → count → sort asc (the WordCount job). */
  private val qWordcount = QueryDef(
    "q_wordcount",
    Some("""
      |SELECT word, count(*) AS n
      |FROM (SELECT unnest(string_split_regex(text, '\s+')) AS word FROM documents)
      |WHERE word <> ''
      |GROUP BY word ORDER BY word
      |""".stripMargin.trim),
    (spark, dir) => {
      val docs = tbl(spark, dir, "documents")
      TextOps.wordCount(TextOps.tokenize(docs, col("text"))).orderBy("word")
    })

  private def topkCommonSql(merge: String): String = s"""
    |WITH tok AS (
    |  SELECT source, unnest(string_split_regex(text, '\\s+')) AS word
    |  FROM documents WHERE source IN ('src0', 'src1')),
    |ca AS (SELECT word, count(*) AS n_a FROM tok
    |       WHERE source = 'src0' AND word <> '' GROUP BY word),
    |cb AS (SELECT word, count(*) AS n_b FROM tok
    |       WHERE source = 'src1' AND word <> '' GROUP BY word)
    |SELECT $merge(ca.n_a, cb.n_b) AS n, ca.word AS word
    |FROM ca JOIN cb ON ca.word = cb.word
    |ORDER BY n DESC, word DESC LIMIT 20
    |""".stripMargin.trim

  /** Single-pass formulation: tokenize ONCE with the source tag kept,
    * conditional counts per corpus in one grouped aggregation, then the
    * "common" filter and top-k. One scan + one shuffle, vs the two-frame
    * join form (two scans + two agg shuffles + a join shuffle) — same
    * result as `TextOps.topKCommon` (which remains the general API for
    * two arbitrary corpora, golden-tested); at 100 TB the corpus is read
    * once instead of twice. */
  private def topkCommonBuild(useMax: Boolean)(
      spark: SparkSession, dir: String): DataFrame = {
    val docs = tbl(spark, dir, "documents")
      .filter(col("source").isin("src0", "src1"))
    val counts = TextOps
      .tokenize(docs, col("text"), keep = Seq(col("source")))
      .groupBy("word")
      .agg(count(when(col("source") === "src0", 1)).as("n_a"),
        count(when(col("source") === "src1", 1)).as("n_b"))
      .filter(col("n_a") > 0 && col("n_b") > 0)
    val merge = if (useMax) greatest(col("n_a"), col("n_b"))
                else least(col("n_a"), col("n_b"))
    counts.select(merge.as("n"), col("word"))
      .orderBy(desc("n"), desc("word")).limit(20)
  }

  /** O2+O5+O10+O11(max)+O12: the TopkCommonWords job as written
    * (reference TopkCommonWords.java:112 uses Math::max). */
  private val qTopkMax = QueryDef(
    "q_topk_common_max", Some(topkCommonSql("greatest")), topkCommonBuild(true))

  /** Same with `least` — the course-spec variant golden answer1.txt encodes. */
  private val qTopkMin = QueryDef(
    "q_topk_common_min", Some(topkCommonSql("least")), topkCommonBuild(false))

  /** O5/O6: broadcast anti-join stopword removal, then count.
    * Plan: BroadcastHashJoin LeftAnti — the DistributedCache analog. */
  private val stopwordList = Seq("the", "a", "of", "and", "to")
  private val qStopword = QueryDef(
    "q_stopword_wordcount",
    Some(s"""
      |SELECT word, count(*) AS n
      |FROM (SELECT unnest(string_split_regex(text, '\\s+')) AS word FROM documents)
      |WHERE word <> '' AND word NOT IN (${stopwordList.map("'" + _ + "'").mkString(", ")})
      |GROUP BY word ORDER BY word
      |""".stripMargin.trim),
    (spark, dir) => {
      import spark.implicits._
      val docs = tbl(spark, dir, "documents")
      val stop = stopwordList.toDF("word")
      TextOps.wordCount(
        TextOps.removeStopwords(TextOps.tokenize(docs, col("text")), stop))
        .orderBy("word")
    })

  // =========================================================================
  // Relational core over the TPC-H-ish tables (SURVEY.md §2.3)
  // =========================================================================

  /** TPC-H Q1 shape: filtered scan → grouped exact-decimal aggregates.
    * Partial (map-side) aggregation is automatic; the scan pushes the
    * l_shipdate filter into the parquet reader. */
  private val qPricing = QueryDef(
    "q1_pricing_summary",
    Some(s"""
      |SELECT l_returnflag, l_linestatus,
      |  ${sqlDsum(sqlDec("l_quantity"))} AS sum_qty,
      |  ${sqlDsum(sqlDec("l_extendedprice"))} AS sum_base_price,
      |  ${sqlDsum(s"${sqlDec("l_extendedprice")} * (${sqlDec("1")} - ${sqlDec("l_discount")})")} AS sum_disc_price,
      |  CAST(sum(${sqlDec("l_quantity")}) AS DOUBLE) / count(*) AS avg_qty,
      |  count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '2000-01-01 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus
      |""".stripMargin.trim),
    (spark, dir) =>
      tbl(spark, dir, "lineitem")
        .filter(col("l_shipdate") <= ts("2000-01-01 00:00:00"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum(dec("l_quantity")).as("sum_qty"),
          dsum(dec("l_extendedprice")).as("sum_base_price"),
          dsum(dec("l_extendedprice") * (oneDec - dec("l_discount"))).as("sum_disc_price"),
          (sum(dec("l_quantity")).cast("double") / count(lit(1))).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus"))

  /** Filter + projection pushdown exhibit: predicate and 5-column ReadSchema
    * should both reach the parquet scan. */
  private val qFilterProject = QueryDef(
    "q_filter_project",
    Some(s"""
      |SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
      |  CAST(${sqlDec("l_extendedprice")} * (${sqlDec("1")} - ${sqlDec("l_discount")}) AS DOUBLE) AS revenue
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_quantity > 45
      |ORDER BY l_orderkey, l_linenumber LIMIT 100
      |""".stripMargin.trim),
    (spark, dir) =>
      tbl(spark, dir, "lineitem")
        .filter(col("l_shipdate") >= ts("1996-01-01 00:00:00") &&
                col("l_shipdate") < ts("1997-01-01 00:00:00") &&
                col("l_quantity") > 45)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"),
          (dec("l_extendedprice") * (oneDec - dec("l_discount")))
            .cast("double").as("revenue"))
        .orderBy("l_orderkey", "l_linenumber").limit(100))

  /** Global sort + limit → TakeOrderedAndProject (per-partition heap),
    * the scalable rewrite of the reference's single-reducer top-k. */
  private val qSortLimit = QueryDef(
    "q_sort_limit",
    Some("""
      |SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
      |""".stripMargin.trim),
    (spark, dir) =>
      tbl(spark, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(desc("o_totalprice"), asc("o_orderkey")).limit(10))

  /** Shuffle equi-join + grouped agg. orders⋈customer is the big⋈small case:
    * customer fits the broadcast threshold at bench scale, so Catalyst picks
    * BroadcastHashJoin and only the aggregation shuffles. */
  private val qJoinAgg = QueryDef(
    "q_join_agg",
    Some(s"""
      |SELECT c_mktsegment, count(*) AS n_orders,
      |  ${sqlDsum(sqlDec("o_totalprice"))} AS sum_price
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment
      |""".stripMargin.trim),
    (spark, dir) =>
      tbl(spark, dir, "orders")
        .join(tbl(spark, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"), dsum(dec("o_totalprice")).as("sum_price"))
        .orderBy("c_mktsegment"))

  /** Left-semi join (EXISTS). */
  private val qSemiJoin = QueryDef(
    "q_semi_join",
    Some("""
      |SELECT c_custkey, c_name FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |              WHERE o_custkey = c_custkey AND o_totalprice > 400000)
      |ORDER BY c_custkey LIMIT 100
      |""".stripMargin.trim),
    (spark, dir) => {
      val c = tbl(spark, dir, "customer")
      val o = tbl(spark, dir, "orders").filter(col("o_totalprice") > 400000)
      c.join(o, col("o_custkey") === col("c_custkey"), "left_semi")
        .select("c_custkey", "c_name").orderBy("c_custkey").limit(100)
    })

  /** Left-anti join (NOT EXISTS) — same shape as the stopword filter O5. */
  private val qAntiJoin = QueryDef(
    "q_anti_join",
    Some("""
      |SELECT c_custkey, c_name FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
      |                  AND o_orderdate >= TIMESTAMP '2001-01-01 00:00:00')
      |ORDER BY c_custkey LIMIT 100
      |""".stripMargin.trim),
    (spark, dir) => {
      val c = tbl(spark, dir, "customer")
      val o = tbl(spark, dir, "orders")
        .filter(col("o_orderdate") >= ts("2001-01-01 00:00:00"))
      c.join(o, col("o_custkey") === col("c_custkey"), "left_anti")
        .select("c_custkey", "c_name").orderBy("c_custkey").limit(100)
    })

  /** Explicit broadcast-hash join: fact⋈dim with the dim side pinned
    * broadcast — at 100 TB the `part` dim still fits in executor memory,
    * so this join never shuffles the fact table. */
  private val qBroadcastJoin = QueryDef(
    "q_broadcast_join",
    Some(s"""
      |SELECT p_brand, count(*) AS n_items,
      |  ${sqlDsum(sqlDec("l_quantity"))} AS sum_qty
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |GROUP BY p_brand ORDER BY p_brand
      |""".stripMargin.trim),
    (spark, dir) =>
      tbl(spark, dir, "lineitem")
        .join(broadcast(tbl(spark, dir, "part")),
          col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n_items"), dsum(dec("l_quantity")).as("sum_qty"))
        .orderBy("p_brand"))

  /** Ranking window: per-customer top-3 orders. row_number cast to BIGINT
    * for schema parity with DuckDB. */
  private val qWindowRank = QueryDef(
    "q_window_rank",
    Some("""
      |SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    row_number() OVER (PARTITION BY o_custkey
      |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders)
      |WHERE rn <= 3 ORDER BY o_custkey, rn
      |""".stripMargin.trim),
    (spark, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
      tbl(spark, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          row_number().over(w).cast("long").as("rn"))
        .filter(col("rn") <= 3).orderBy("o_custkey", "rn")
    })

  /** Event-time tumbling window over the batch events table — the batch
    * twin of the Structured Streaming version in graft.streaming. Window
    * start surfaces as epoch ms (see parity rules). */
  private val qTumbling = QueryDef(
    "q_tumbling_window",
    Some(StreamingParity.tumblingOracleSql),
    (spark, dir) =>
      StreamingParity.tumblingExact(tbl(spark, dir, "events"))
        .orderBy("window_start_ms", "event_type"))

  /** SLIDING (hopping) event-time windows — 1-hour windows every 15
    * minutes, so each event lands in exactly 4 overlapping windows (the
    * one-to-many window assignment tumbling can't express; Spark plans it
    * as a 4-way explode before the grouped agg, so the shuffle carries 4×
    * rows — the slide/duration ratio IS the cost knob at 100 TB). Oracle
    * replays the same assignment arithmetic: the 4 aligned starts
    * reachable back from each event's 15-min boundary. */
  private val qSliding = QueryDef(
    "q_sliding_window",
    Some(s"""
      |WITH ks AS (SELECT unnest(range(4)) AS k),
      |ex AS (
      |  SELECT (epoch_ms(ts) - epoch_ms(ts) % 900000) - 900000 * k AS window_start_ms,
      |    event_type, value
      |  FROM events CROSS JOIN ks)
      |SELECT CAST(window_start_ms AS BIGINT) AS window_start_ms, event_type,
      |  count(*) AS n, ${sqlDsum(sqlDec("value"))} AS sum_value
      |FROM ex GROUP BY 1, 2 ORDER BY window_start_ms, event_type
      |""".stripMargin.trim),
    (spark, dir) =>
      tbl(spark, dir, "events")
        .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(dec("value")).as("sum_value"))
        .select(unix_millis(col("window.start")).as("window_start_ms"),
          col("event_type"), col("n"), col("sum_value"))
        .orderBy("window_start_ms", "event_type"))

  /** JSON extraction from the string `props` column. */
  private val qJson = QueryDef(
    "q_json_extract",
    Some("""
      |SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
      |  count(*) AS n
      |FROM events GROUP BY 1 ORDER BY k
      |""".stripMargin.trim),
    (spark, dir) =>
      tbl(spark, dir, "events")
        .groupBy(get_json_object(col("props"), "$.k").cast("long").as("k"))
        .agg(count(lit(1)).as("n"))
        .orderBy("k"))

  // =========================================================================
  // LLM-pipeline extensions (SURVEY.md §2.4) — first slice
  // =========================================================================

  /** Exact dedup: group on content hash, keep lowest doc_id.
    * At 100 TB this is one hash-partitioned shuffle on md5(text) — no
    * pairwise comparisons; skew-free because hashes are uniform. */
  private val qDedupExact = QueryDef(
    "q_dedup_exact",
    Some("""
      |SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS n_copies
      |FROM documents GROUP BY md5(text) ORDER BY keep_id
      |""".stripMargin.trim),
    (spark, dir) =>
      tbl(spark, dir, "documents")
        .groupBy(md5(col("text")).as("text_hash"))
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
        .orderBy("keep_id"))

  /** Multimodal feature extraction (binary media columns, partition-wise
    * stubbed decode — graft.operators.MultimodalOps), under the FULL
    * oracle hash: the mapPartitions features surface as deterministic
    * INTEGER derivations — exact byte sum (recovered from the mean,
    * exact because sum < 2^53), dimensions from the codec seam, and the
    * byte histogram's exact L2 mass (Σ count²) plus distinct-byte count
    * — and the oracle recomputes ALL of them from the same payload BYTES
    * in SQL, unnesting `hex(encode(text))` two hex digits at a time so
    * `byte` is the true UTF-8 octet for ANY corpus, not `ord(char)`
    * under an ASCII assumption. The histogram stats replaced a quantized
    * float entropy (r11): entropy within an ulp of a rounding boundary
    * flakes across engines with different summation orders, while the
    * integer histogram moments are exact on both sides and move whenever
    * the histogram moves. The double-precision Shannon entropy itself
    * stays in the feature frame and is value-pinned in MultimodalSpec.
    * The oracle mirrors the decoder's short-payload guards exactly
    * (width needs ≥ 2 bytes, height ≥ 4, else 1) and LEFT-joins the byte
    * aggregate so an EMPTY document keeps its all-zero row. */
  private val qMultimodal = QueryDef(
    "q_multimodal_features",
    Some("""
      |WITH h AS (
      |  SELECT doc_id, hex(encode(text)) AS hx,
      |    CAST(octet_length(encode(text)) AS BIGINT) AS n
      |  FROM documents),
      |b AS (
      |  SELECT doc_id, CAST(('0x' || substr(hx, 2*i-1, 2)) AS INTEGER) AS byte
      |  FROM h, unnest(range(1, n+1)) AS u(i)),
      |cnt AS (
      |  SELECT doc_id, byte, count(*) AS c FROM b GROUP BY doc_id, byte),
      |agg AS (
      |  SELECT doc_id, CAST(sum(byte * c) AS BIGINT) AS sum_bytes,
      |    CAST(sum(c * c) AS BIGINT) AS hist_l2,
      |    CAST(count(*) AS INTEGER) AS n_byte_kinds
      |  FROM cnt GROUP BY doc_id)
      |SELECT h.doc_id AS media_id, 'text' AS kind, h.n AS n_bytes,
      |  CAST(CASE WHEN h.n >= 2 THEN greatest(
      |      (CAST(('0x' || substr(hx, 1, 2)) AS INTEGER) << 4)
      |        | (CAST(('0x' || substr(hx, 3, 2)) AS INTEGER) & 15), 1)
      |    ELSE 1 END AS INTEGER) AS width,
      |  CAST(CASE WHEN h.n >= 4 THEN greatest(
      |      (CAST(('0x' || substr(hx, 5, 2)) AS INTEGER) << 4)
      |        | (CAST(('0x' || substr(hx, 7, 2)) AS INTEGER) & 15), 1)
      |    ELSE 1 END AS INTEGER) AS height,
      |  coalesce(a.sum_bytes, 0) AS sum_bytes,
      |  coalesce(a.hist_l2, 0) AS hist_l2,
      |  coalesce(a.n_byte_kinds, 0) AS n_byte_kinds
      |FROM h LEFT JOIN agg a USING (doc_id)
      |ORDER BY media_id
      |""".stripMargin.trim),
    (spark, dir) =>
      graft.operators.MultimodalOps.featureQuery(spark, dir)
        .select(col("media_id"), col("kind"), col("n_bytes"),
          col("width"), col("height"),
          // mean_byte = sum/n in double; ×n recovers the exact integer
          // sum to < 0.5 ulp-error, so round() is exact (sum ≤ 553·255)
          round(col("mean_byte") * col("n_bytes")).cast("long").as("sum_bytes"),
          col("hist_l2"), col("n_byte_kinds"))
        .orderBy("media_id"))

  /** Frame sampling under the full oracle hash — the video/audio
    * chunking path (MultimodalOps.sampleFrames: n evenly-spaced byte
    * slices per payload, a real pipeline seeks keyframes at the same
    * positions) audited per frame: exact slice width, byte sum, and the
    * endpoint bytes, recomputed by the oracle from the true UTF-8 octets
    * via the same hex(encode(text)) route as q_multimodal_features —
    * byte-true for any corpus, no md5-of-binary needed (DuckDB's md5 is
    * VARCHAR-only). Slice boundaries are integer arithmetic
    * (from = ⌊len·k/n⌋, until = min(max(from+1, ⌊len·(k+1)/n⌋), len)),
    * identical in both engines; empty payloads emit no frames on either
    * side. Frame bytes never shuffle — the typed map emits fixed-width
    * stat rows inside the scan partition. */
  private val qFrameSample = QueryDef(
    "q_frame_sample",
    Some("""
      |WITH h AS (
      |  SELECT doc_id, hex(encode(text)) AS hx,
      |    CAST(octet_length(encode(text)) AS BIGINT) AS n
      |  FROM documents),
      |b AS (
      |  SELECT doc_id, i, CAST(('0x' || substr(hx, 2*i-1, 2)) AS INTEGER) AS byte
      |  FROM h, unnest(range(1, n+1)) AS u(i)),
      |f AS (
      |  SELECT doc_id, k, (n * k) // 4 AS f0,
      |    least(greatest((n * k) // 4 + 1, (n * (k + 1)) // 4), n) AS f1
      |  FROM h, unnest(range(0, 4)) AS t(k) WHERE n > 0)
      |SELECT f.doc_id AS media_id, CAST(f.k AS INTEGER) AS frame_idx,
      |  CAST(f.f1 - f.f0 AS BIGINT) AS n_bytes,
      |  CAST(sum(b.byte) AS BIGINT) AS sum_bytes,
      |  CAST(min(CASE WHEN b.i = f.f0 + 1 THEN b.byte END) AS INTEGER) AS first_byte,
      |  CAST(min(CASE WHEN b.i = f.f1 THEN b.byte END) AS INTEGER) AS last_byte
      |FROM f JOIN b ON b.doc_id = f.doc_id AND b.i > f.f0 AND b.i <= f.f1
      |GROUP BY f.doc_id, f.k, f.f0, f.f1
      |ORDER BY media_id, frame_idx
      |""".stripMargin.trim),
    (spark, dir) =>
      graft.operators.MultimodalOps.frameStats(
          graft.operators.MultimodalOps.documentsAsMedia(spark, dir), 4)
        .toDF()
        .orderBy("media_id", "frame_idx"))

  /** Blob statistics over the binary media column — the SQL-expressible
    * half of the multimodal surface, under the full oracle hash (VERDICT
    * r05 item 1): per-payload byte length + md5, computed on the SAME
    * `Dataset[MediaRecord]` binary column the decode pipeline consumes,
    * joined back to the document's metadata. Codec-free by design — this
    * row proves the binary-column plumbing (encode → binary schema →
    * byte-level functions → metadata join) value-exact end-to-end, while
    * the non-SQL decode stays spec-pinned in MultimodalSpec. At 100 TB
    * the same shape is the media-corpus audit pass: blobs never shuffle
    * (md5/length are projections above the scan) and the only exchange
    * is the metadata equi-join. */
  private val qBlobStats = QueryDef(
    "q_blob_stats",
    Some("""
      |SELECT doc_id AS media_id, 'text' AS kind,
      |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      |  md5(text) AS blob_md5, lang
      |FROM documents ORDER BY media_id
      |""".stripMargin.trim),
    (spark, dir) => {
      val media = graft.operators.MultimodalOps.documentsAsMedia(spark, dir).toDF()
      val meta = tbl(spark, dir, "documents")
        .select(col("doc_id").as("media_id"), col("lang"))
      media.select(col("media_id"), col("kind"),
          length(col("media")).cast("long").as("n_bytes"),
          md5(col("media")).as("blob_md5"))
        .join(meta, "media_id")
        .orderBy("media_id")
    })

  /** The DECODE+RESAMPLE seam under the full oracle hash (VERDICT r14
    * item 8): structural parse of the synthetic blob header (StubDecoder
    * dims, clamped to the byte grid exactly as MultimodalOps.clampedDims
    * does), nearest-neighbor resample to an 8×8 grid, then exact integer
    * statistics of the RESAMPLED bytes — sum, histogram L2 mass, distinct
    * byte kinds, corner bytes. The oracle recomputes every resample index
    * (sy = ⌊y·h/8⌋, sx = ⌊x·w/8⌋, idx = min(sy·w+sx, n−1)) from the true
    * UTF-8 octets via the hex(encode(text)) route, so any drift in the
    * decode parse, the clamps, or the index arithmetic moves the hash on
    * exactly one side. q_multimodal_features gates the histogram pass;
    * this gates the geometry-dependent path (the one a real codec would
    * feed). */
  /** The decode+resample CTE chain of [[qBlobDecode]]'s oracle — the
    * structural header parse (StubDecoder dims, clamped exactly as
    * MultimodalOps.clampedDims does) and the 8×8 nearest-neighbor
    * resample from the true UTF-8 octets, ending in
    * `px(doc_id, y, x, byte)`. Shared with [[qBlobNeardup]]'s oracle so
    * the two gates can never drift on the resample arithmetic. */
  private val blobPxSql: String = """h AS (
      |  SELECT doc_id, hex(encode(text)) AS hx,
      |    CAST(octet_length(encode(text)) AS BIGINT) AS n
      |  FROM documents),
      |d AS (
      |  SELECT doc_id, hx, n,
      |    CASE WHEN n >= 2 THEN greatest(
      |        (CAST(('0x' || substr(hx, 1, 2)) AS INTEGER) << 4)
      |          | (CAST(('0x' || substr(hx, 3, 2)) AS INTEGER) & 15), 1)
      |      ELSE 1 END AS w0,
      |    CASE WHEN n >= 4 THEN greatest(
      |        (CAST(('0x' || substr(hx, 5, 2)) AS INTEGER) << 4)
      |          | (CAST(('0x' || substr(hx, 7, 2)) AS INTEGER) & 15), 1)
      |      ELSE 1 END AS h0
      |  FROM h),
      |c AS (
      |  SELECT doc_id, hx, n, w,
      |    greatest(least(h0, greatest(n // w, 1)), 1) AS hh
      |  FROM (SELECT doc_id, hx, n, h0,
      |          least(w0, greatest(n, 1)) AS w FROM d)),
      |px AS (
      |  SELECT c.doc_id, g.y, g.x,
      |    CASE WHEN c.n = 0 THEN 0
      |      ELSE CAST(('0x' || substr(c.hx,
      |        2 * least((g.y * c.hh) // 8 * c.w + (g.x * c.w) // 8, c.n - 1)
      |          + 1, 2)) AS INTEGER)
      |    END AS byte
      |  FROM c, (SELECT a.y, b.x
      |           FROM unnest(range(0, 8)) a(y), unnest(range(0, 8)) b(x)) g)"""
    .stripMargin.trim

  // NOTE: blobPxSql is concatenated OUTSIDE the stripMargin call — its
  // body contains leading-bitwise-OR lines ("| (CAST ...") that a second
  // stripMargin pass would destroy
  private val qBlobDecode = QueryDef(
    "q_blob_decode",
    Some(s"WITH $blobPxSql,\n" + """
      |cnt AS (SELECT doc_id, byte, count(*) AS cnt FROM px GROUP BY 1, 2),
      |stats AS (
      |  SELECT doc_id, CAST(sum(byte * cnt) AS BIGINT) AS sum_bytes,
      |    CAST(sum(cnt * cnt) AS BIGINT) AS hist_l2,
      |    CAST(count(*) AS INTEGER) AS n_byte_kinds
      |  FROM cnt GROUP BY 1),
      |fl AS (
      |  SELECT doc_id,
      |    CAST(min(CASE WHEN y = 0 AND x = 0 THEN byte END) AS INTEGER) AS first_byte,
      |    CAST(min(CASE WHEN y = 7 AND x = 7 THEN byte END) AS INTEGER) AS last_byte
      |  FROM px GROUP BY 1)
      |SELECT c.doc_id AS media_id, 'text' AS kind,
      |  CAST(c.w AS INTEGER) AS src_w, CAST(c.hh AS INTEGER) AS src_h,
      |  s.sum_bytes, s.hist_l2, s.n_byte_kinds, f.first_byte, f.last_byte
      |FROM c JOIN stats s USING (doc_id) JOIN fl f USING (doc_id)
      |ORDER BY media_id
      |""".stripMargin.trim),
    (spark, dir) =>
      graft.operators.MultimodalOps.resizeStats(
          graft.operators.MultimodalOps.documentsAsMedia(spark, dir), 8, 8)
        .toDF()
        .orderBy("media_id"))

  /** PERCEPTUAL NEAR-DUP over the binary media column — the multimodal
    * sibling of q_simhash_pairs (dedup covered text three ways; a real
    * multimodal pipeline dedups its images too, VERDICT r15 item 8).
    * Fingerprint: blockwise aHash of the decoded payload
    * ([[graft.operators.MultimodalOps.perceptualHash]] — 8×8
    * nearest-neighbor resample through the same clamped StubDecoder
    * geometry q_blob_decode gates, one bit per cell vs the integer mean,
    * packed as 4×16-bit bands). Pairing: the banded-Hamming kernel
    * reused verbatim from q_simhash_pairs — docs sharing any band value
    * meet in that band's bucket (pigeonhole: any pair within Hamming 3
    * of 64 shares a band, exact recall in that radius), per-bucket HOF
    * pair expansion (bounded buckets, never an all-pairs self-join),
    * exact Hamming rank via bit_count(xor) per band, nearest 20 kept.
    * The oracle recomputes the resample from the true UTF-8 octets (the
    * shared [[blobPxSql]] chain), then mirrors mean/bits/banding — so a
    * pass proves decode, fingerprint, and pairing arithmetic end-to-end.
    * At 100 TB: blobs never shuffle (the fingerprint row is 20 bytes);
    * the only exchanges are the band-bucket shuffle and the final
    * top-20, both O(corpus), never O(corpus²). */
  private val qBlobNeardup = QueryDef(
    "q_blob_neardup",
    // blobPxSql outside the stripMargin pass — see the qBlobDecode note
    Some(s"WITH $blobPxSql,\n" + """
      |m AS (SELECT doc_id, sum(byte) // 64 AS mean FROM px GROUP BY doc_id),
      |bt AS (
      |  SELECT p.doc_id, p.y * 8 + p.x AS i,
      |    CASE WHEN p.byte > m.mean THEN 1 ELSE 0 END AS bit
      |  FROM px p JOIN m ON m.doc_id = p.doc_id),
      |bd AS (
      |  SELECT doc_id, i // 16 AS band,
      |    CAST(sum(bit << (i % 16)) AS INTEGER) AS bits
      |  FROM bt GROUP BY doc_id, i // 16),
      |hsh AS (
      |  SELECT doc_id,
      |    min(CASE WHEN band = 0 THEN bits END) AS b0,
      |    min(CASE WHEN band = 1 THEN bits END) AS b1,
      |    min(CASE WHEN band = 2 THEN bits END) AS b2,
      |    min(CASE WHEN band = 3 THEN bits END) AS b3
      |  FROM bd GROUP BY doc_id),
      |bdc AS (
      |  SELECT doc_id, band, bits FROM bd
      |  QUALIFY row_number() OVER (PARTITION BY band, bits ORDER BY doc_id)
      |    <= SIMPAIRCAP),
      |cand AS (
      |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
      |  FROM bdc x JOIN bdc y
      |    ON x.band = y.band AND x.bits = y.bits AND x.doc_id < y.doc_id)
      |SELECT a AS media_a, b AS media_b,
      |  CAST(bit_count(xor(ha.b0, hb.b0)) + bit_count(xor(ha.b1, hb.b1))
      |     + bit_count(xor(ha.b2, hb.b2)) + bit_count(xor(ha.b3, hb.b3))
      |    AS BIGINT) AS hamming
      |FROM cand JOIN hsh ha ON ha.doc_id = a JOIN hsh hb ON hb.doc_id = b
      |ORDER BY hamming, media_a, media_b LIMIT 20
      |""".stripMargin.trim
      // the same deterministic per-bucket skew guard as q_simhash_pairs
      // (Dedup.SimPairCap), spliced after stripMargin so the shared cap
      // constant stays single-sourced
      .replace("SIMPAIRCAP", Dedup.SimPairCap.toString)),
    (spark, dir) =>
      blobBandedPairs(spark, dir)
        .orderBy("hamming", "media_a", "media_b")
        .limit(20))

  /** q_blob_neardup's pairing kernel as a reusable frame: distinct
    * candidate pairs from the banded-Hamming buckets (capped at
    * [[Dedup.SimPairCap]] per bucket) with exact 64-bit Hamming distance
    * — shared with the multimodal curation pipeline. */
  private def blobBandedPairs(spark: SparkSession, dir: String): DataFrame =
    bandedHammingOver(graft.operators.MultimodalOps.perceptualHash(
      graft.operators.MultimodalOps.documentsAsMedia(spark, dir)).toDF())

  /** The 4×16-bit banded-Hamming pairing kernel over ANY fingerprint
    * frame (media_id, b0..b3) — whole-payload aHashes (q_blob_neardup)
    * or per-frame ones with the frame index packed into the id
    * (q_frame_neardup). */
  private[graft] def bandedHammingOver(
      ph: DataFrame, cap: Int = Dedup.SimPairCap): DataFrame = {
      val banded = ph.select(col("media_id"),
          col("b0"), col("b1"), col("b2"), col("b3"),
          explode(array((0 until 4).map { i =>
            struct(lit(i).as("band"), col(s"b$i").as("bits"))
          }: _*)).as("bb"))
        .select(col("media_id"), col("b0"), col("b1"), col("b2"), col("b3"),
          col("bb.band").as("band"), col("bb.bits").as("bits"))
      banded
        .groupBy("band", "bits")
        // first `cap` per bucket by media_id (struct sort order) — the
        // q_simhash_pairs skew guard, oracle-mirrored (bdc QUALIFY);
        // default [[Dedup.SimPairCap]], or the audit-tuned value
        // (q_frame_neardup_tuned)
        .agg(expr(s"""slice(sort_array(collect_list(
          struct(media_id, b0, b1, b2, b3))), 1, $cap)""")
          .as("docs"))
        .filter(size(col("docs")) > 1)
        .select(explode(expr(
          """flatten(transform(docs, (x, i) ->
            |  transform(slice(docs, i + 2, size(docs)), y ->
            |    struct(x.media_id AS a, y.media_id AS b,
            |           x.b0 AS a0, x.b1 AS a1, x.b2 AS a2, x.b3 AS a3,
            |           y.b0 AS c0, y.b1 AS c1, y.b2 AS c2, y.b3 AS c3))))"""
            .stripMargin)).as("p"))
        .select(col("p.*"))
        .distinct()
        .select(col("a").as("media_a"), col("b").as("media_b"),
          (bit_count(col("a0").bitwiseXOR(col("c0"))) +
            bit_count(col("a1").bitwiseXOR(col("c1"))) +
            bit_count(col("a2").bitwiseXOR(col("c2"))) +
            bit_count(col("a3").bitwiseXOR(col("c3")))).cast("long")
            .as("hamming"))
  }

  /** Cap accounting for q_blob_neardup's banded-Hamming guard — the
    * aHash twin of q_simhash_cap_stats (VERDICT r17 task 3): per band,
    * buckets / largest bucket / members and candidate pairs the
    * [[Dedup.SimPairCap]] guard would drop. §38 measured 77× bucket-pair
    * growth on the splice-tag corpus pre-cap; this query makes the
    * truncation VISIBLE per corpus instead of silent. Integer-exact
    * closed forms over bucket sizes, so the oracle follows bit-exactly. */
  private val qBlobCapStats = QueryDef(
    "q_blob_cap_stats",
    Some(s"WITH $blobPxSql,\n" + s"""
      |m AS (SELECT doc_id, sum(byte) // 64 AS mean FROM px GROUP BY doc_id),
      |bt AS (
      |  SELECT p.doc_id, p.y * 8 + p.x AS i,
      |    CASE WHEN p.byte > m.mean THEN 1 ELSE 0 END AS bit
      |  FROM px p JOIN m ON m.doc_id = p.doc_id),
      |bd AS (
      |  SELECT doc_id, i // 16 AS band,
      |    CAST(sum(bit << (i % 16)) AS INTEGER) AS bits
      |  FROM bt GROUP BY doc_id, i // 16),
      |bs AS (SELECT band, bits, count(*) AS sz FROM bd GROUP BY band, bits)
      |SELECT CAST(band AS BIGINT) AS band, count(*) AS n_buckets,
      |  CAST(max(sz) AS BIGINT) AS max_bucket,
      |  CAST(sum(greatest(sz - SIMPAIRCAP, 0)) AS BIGINT) AS docs_dropped,
      |  CAST(sum(sz * (sz - 1) // 2) AS BIGINT) AS pairs_pre,
      |  CAST(sum(least(sz, SIMPAIRCAP) * (least(sz, SIMPAIRCAP) - 1) // 2) AS BIGINT) AS pairs_post,
      |  CAST(sum(sz * (sz - 1) // 2
      |         - least(sz, SIMPAIRCAP) * (least(sz, SIMPAIRCAP) - 1) // 2) AS BIGINT) AS pairs_dropped
      |FROM bs GROUP BY band ORDER BY band
      |""".stripMargin.trim
      .replace("SIMPAIRCAP", Dedup.SimPairCap.toString)),
    (spark, dir) => {
      val ph = graft.operators.MultimodalOps.perceptualHash(
        graft.operators.MultimodalOps.documentsAsMedia(spark, dir)).toDF()
      Dedup.capStatsOver(ph.select(
          explode(array((0 until 4).map { i =>
            struct(lit(i.toLong).as("band"), col(s"b$i").as("bits"))
          }: _*)).as("bb"))
        .select(col("bb.band").as("band"), col("bb.bits").as("bits")))
    })

  /** FRAME-LEVEL perceptual near-dup — the video-shaped sibling of
    * q_blob_neardup: each payload splits into 4 frames (q_frame_sample's
    * boundary arithmetic), each frame gets its own 64-cell linear-
    * resample aHash ([[graft.operators.MultimodalOps.framePerceptualHash]]),
    * and the SAME banded-Hamming kernel pairs frames ACROSS media (the
    * frame index rides the packed id `media_id·16 + k`; same-media pairs
    * are dropped — a video trivially resembles itself). This is the verb
    * that catches partial duplication — two media sharing one
    * near-identical segment — which whole-payload aHash dilutes away.
    * The oracle recomputes the frame bounds, the 64-cell resample, the
    * mean-threshold bands, the cap, and the Hamming rank from the true
    * UTF-8 octets. Scale shape: identical to q_blob_neardup with 4× the
    * fingerprint rows — still 24 bytes per frame leaving the scan, still
    * bucket-local pairing under the deterministic cap. */
  private val qFrameNeardup = QueryDef(
    "q_frame_neardup",
    Some("""
      |WITH h AS (
      |  SELECT doc_id, hex(encode(text)) AS hx,
      |    CAST(octet_length(encode(text)) AS BIGINT) AS n
      |  FROM documents),
      |fr AS (
      |  SELECT doc_id, k, (n * k) // 4 AS f0,
      |    least(greatest((n * k) // 4 + 1, (n * (k + 1)) // 4), n) AS f1
      |  FROM h, unnest(range(0, 4)) AS t(k) WHERE n > 0),
      |cells AS (
      |  SELECT fr.doc_id * 16 + fr.k AS fid, c.i,
      |    CAST(('0x' || substr(h.hx,
      |      2 * (fr.f0 + ((fr.f1 - fr.f0) * c.i) // 64) + 1, 2)) AS INTEGER)
      |      AS byte
      |  FROM fr JOIN h ON h.doc_id = fr.doc_id,
      |    unnest(range(0, 64)) AS c(i)),
      |m AS (SELECT fid, sum(byte) // 64 AS mean FROM cells GROUP BY fid),
      |bd AS (
      |  SELECT c.fid, c.i // 16 AS band,
      |    CAST(sum(CASE WHEN c.byte > m.mean THEN (1 << (c.i % 16))
      |             ELSE 0 END) AS INTEGER) AS bits
      |  FROM cells c JOIN m ON m.fid = c.fid
      |  GROUP BY c.fid, c.i // 16),
      |hsh AS (
      |  SELECT fid,
      |    min(CASE WHEN band = 0 THEN bits END) AS b0,
      |    min(CASE WHEN band = 1 THEN bits END) AS b1,
      |    min(CASE WHEN band = 2 THEN bits END) AS b2,
      |    min(CASE WHEN band = 3 THEN bits END) AS b3
      |  FROM bd GROUP BY fid),
      |bdc AS (
      |  SELECT fid, band, bits FROM bd
      |  QUALIFY row_number() OVER (PARTITION BY band, bits ORDER BY fid)
      |    <= SIMPAIRCAP),
      |cand AS (
      |  SELECT DISTINCT x.fid AS a, y.fid AS b
      |  FROM bdc x JOIN bdc y
      |    ON x.band = y.band AND x.bits = y.bits AND x.fid < y.fid
      |  WHERE x.fid // 16 <> y.fid // 16)
      |SELECT a // 16 AS media_a, CAST(a % 16 AS INTEGER) AS frame_a,
      |  b // 16 AS media_b, CAST(b % 16 AS INTEGER) AS frame_b,
      |  CAST(bit_count(xor(ha.b0, hb.b0)) + bit_count(xor(ha.b1, hb.b1))
      |     + bit_count(xor(ha.b2, hb.b2)) + bit_count(xor(ha.b3, hb.b3))
      |    AS BIGINT) AS hamming
      |FROM cand JOIN hsh ha ON ha.fid = a JOIN hsh hb ON hb.fid = b
      |ORDER BY hamming, media_a, frame_a, media_b, frame_b LIMIT 20
      |""".stripMargin.trim
      .replace("SIMPAIRCAP", Dedup.SimPairCap.toString)),
    (spark, dir) => {
      val fp = graft.operators.MultimodalOps.framePerceptualHash(
          graft.operators.MultimodalOps.documentsAsMedia(spark, dir), 4)
        .toDF()
        .select((col("media_id") * 16 + col("frame_idx")).as("media_id"),
          col("b0"), col("b1"), col("b2"), col("b3"))
      bandedHammingOver(fp)
        .filter(expr("media_a div 16") =!= expr("media_b div 16"))
        .select(expr("media_a div 16").as("ma"),
          expr("cast(media_a % 16 as int)").as("frame_a"),
          expr("media_b div 16").as("mb"),
          expr("cast(media_b % 16 as int)").as("frame_b"),
          col("hamming"))
        .withColumnRenamed("ma", "media_a")
        .withColumnRenamed("mb", "media_b")
        .orderBy("hamming", "media_a", "frame_a", "media_b", "frame_b")
        .limit(20)
    })

  /** Cap accounting for q_frame_neardup's buckets — §46 measured the
    * frame-fingerprint collision growth (62× bytes at 30×, the §38
    * aHash-collision shape) that the cap bounds; this makes the
    * truncation visible per corpus for the THIRD kernel user, same
    * closed forms as q_simhash_cap_stats / q_blob_cap_stats. */
  private val qFrameCapStats = QueryDef(
    "q_frame_cap_stats",
    Some(("""
      |WITH h AS (
      |  SELECT doc_id, hex(encode(text)) AS hx,
      |    CAST(octet_length(encode(text)) AS BIGINT) AS n
      |  FROM documents),
      |fr AS (
      |  SELECT doc_id, k, (n * k) // 4 AS f0,
      |    least(greatest((n * k) // 4 + 1, (n * (k + 1)) // 4), n) AS f1
      |  FROM h, unnest(range(0, 4)) AS t(k) WHERE n > 0),
      |cells AS (
      |  SELECT fr.doc_id * 16 + fr.k AS fid, c.i,
      |    CAST(('0x' || substr(h.hx,
      |      2 * (fr.f0 + ((fr.f1 - fr.f0) * c.i) // 64) + 1, 2)) AS INTEGER)
      |      AS byte
      |  FROM fr JOIN h ON h.doc_id = fr.doc_id,
      |    unnest(range(0, 64)) AS c(i)),
      |m AS (SELECT fid, sum(byte) // 64 AS mean FROM cells GROUP BY fid),
      |bd AS (
      |  SELECT c.fid, c.i // 16 AS band,
      |    CAST(sum(CASE WHEN c.byte > m.mean THEN (1 << (c.i % 16))
      |             ELSE 0 END) AS INTEGER) AS bits
      |  FROM cells c JOIN m ON m.fid = c.fid
      |  GROUP BY c.fid, c.i // 16),
      |bs AS (SELECT band, bits, count(*) AS sz FROM bd GROUP BY band, bits)
      |SELECT CAST(band AS BIGINT) AS band, count(*) AS n_buckets,
      |  CAST(max(sz) AS BIGINT) AS max_bucket,
      |  CAST(sum(greatest(sz - SIMPAIRCAP, 0)) AS BIGINT) AS docs_dropped,
      |  CAST(sum(sz * (sz - 1) // 2) AS BIGINT) AS pairs_pre,
      |  CAST(sum(least(sz, SIMPAIRCAP) * (least(sz, SIMPAIRCAP) - 1) // 2) AS BIGINT) AS pairs_post,
      |  CAST(sum(sz * (sz - 1) // 2
      |         - least(sz, SIMPAIRCAP) * (least(sz, SIMPAIRCAP) - 1) // 2) AS BIGINT) AS pairs_dropped
      |FROM bs GROUP BY band ORDER BY band
      |""").stripMargin.trim
      .replace("SIMPAIRCAP", Dedup.SimPairCap.toString)),
    (spark, dir) => {
      val fp = graft.operators.MultimodalOps.framePerceptualHash(
          graft.operators.MultimodalOps.documentsAsMedia(spark, dir), 4)
        .toDF()
      Dedup.capStatsOver(fp.select(
          explode(array((0 until 4).map { i =>
            struct(lit(i.toLong).as("band"), col(s"b$i").as("bits"))
          }: _*)).as("bb"))
        .select(col("bb.band").as("band"), col("bb.bits").as("bits")))
    })

  /** AUDIT-TUNED bucket cap (VERDICT r17 task 7): instead of the fixed
    * [[Dedup.SimPairCap]] = 256, the cap is derived PER CORPUS from the
    * kernel's own cap-stats audit — the deterministic, oracle-mirrored
    * rule `cap = clamp(p99 bucket size, 16, 256)` (p99 = the bucket size
    * at ascending rank ⌈0.99·n⌉, an exact integer closed form on both
    * engines). A bucket-bomb corpus (one fingerprint shared by millions
    * of frames) gets capped near its healthy-bucket ceiling instead of
    * at a fixed constant 256× too generous, bounding the pair expansion
    * at O(p99²) per bucket while leaving every ≤p99 cluster's recall
    * untouched — the bucket-bomb measurement of SCALE.md §40 and §47,
    * now wired into the operator instead of hand-picked. `cap_used` rides
    * every output row, so the gate proves the tuning arithmetic too. */
  private val qFrameNeardupTuned = QueryDef(
    "q_frame_neardup_tuned",
    Some(("""
      |WITH h AS (
      |  SELECT doc_id, hex(encode(text)) AS hx,
      |    CAST(octet_length(encode(text)) AS BIGINT) AS n
      |  FROM documents),
      |fr AS (
      |  SELECT doc_id, k, (n * k) // 4 AS f0,
      |    least(greatest((n * k) // 4 + 1, (n * (k + 1)) // 4), n) AS f1
      |  FROM h, unnest(range(0, 4)) AS t(k) WHERE n > 0),
      |cells AS (
      |  SELECT fr.doc_id * 16 + fr.k AS fid, c.i,
      |    CAST(('0x' || substr(h.hx,
      |      2 * (fr.f0 + ((fr.f1 - fr.f0) * c.i) // 64) + 1, 2)) AS INTEGER)
      |      AS byte
      |  FROM fr JOIN h ON h.doc_id = fr.doc_id,
      |    unnest(range(0, 64)) AS c(i)),
      |m AS (SELECT fid, sum(byte) // 64 AS mean FROM cells GROUP BY fid),
      |bd AS (
      |  SELECT c.fid, c.i // 16 AS band,
      |    CAST(sum(CASE WHEN c.byte > m.mean THEN (1 << (c.i % 16))
      |             ELSE 0 END) AS INTEGER) AS bits
      |  FROM cells c JOIN m ON m.fid = c.fid
      |  GROUP BY c.fid, c.i // 16),
      |bs AS (SELECT band, bits, count(*) AS sz FROM bd GROUP BY band, bits),
      |capq AS (
      |  SELECT greatest(least(min(sz), 256), 16) AS cap FROM (
      |    SELECT sz, row_number() OVER (ORDER BY sz) AS rn,
      |      count(*) OVER () AS n FROM bs)
      |  WHERE rn * 100 >= 99 * n),
      |hsh AS (
      |  SELECT fid,
      |    min(CASE WHEN band = 0 THEN bits END) AS b0,
      |    min(CASE WHEN band = 1 THEN bits END) AS b1,
      |    min(CASE WHEN band = 2 THEN bits END) AS b2,
      |    min(CASE WHEN band = 3 THEN bits END) AS b3
      |  FROM bd GROUP BY fid),
      |bdc AS (
      |  SELECT fid, band, bits FROM bd
      |  QUALIFY row_number() OVER (PARTITION BY band, bits ORDER BY fid)
      |    <= (SELECT cap FROM capq)),
      |cand AS (
      |  SELECT DISTINCT x.fid AS a, y.fid AS b
      |  FROM bdc x JOIN bdc y
      |    ON x.band = y.band AND x.bits = y.bits AND x.fid < y.fid
      |  WHERE x.fid // 16 <> y.fid // 16)
      |SELECT a // 16 AS media_a, CAST(a % 16 AS INTEGER) AS frame_a,
      |  b // 16 AS media_b, CAST(b % 16 AS INTEGER) AS frame_b,
      |  CAST(bit_count(xor(ha.b0, hb.b0)) + bit_count(xor(ha.b1, hb.b1))
      |     + bit_count(xor(ha.b2, hb.b2)) + bit_count(xor(ha.b3, hb.b3))
      |    AS BIGINT) AS hamming,
      |  (SELECT cap FROM capq) AS cap_used
      |FROM cand JOIN hsh ha ON ha.fid = a JOIN hsh hb ON hb.fid = b
      |ORDER BY hamming, media_a, frame_a, media_b, frame_b LIMIT 20
      |""").stripMargin.trim),
    (spark, dir) => {
      val fp = graft.Checkpoints.truncate(
        graft.operators.MultimodalOps.framePerceptualHash(
            graft.operators.MultimodalOps.documentsAsMedia(spark, dir), 4)
          .toDF()
          .select((col("media_id") * 16 + col("frame_idx")).as("media_id"),
            col("b0"), col("b1"), col("b2"), col("b3")))
      // the audit: bucket sizes over the band memberships, then the p99
      // closed form (max of the first ⌈0.99·n⌉ ascending sizes = the
      // size at rank ⌈0.99·n⌉ — the oracle's min-over-top-percentile
      // form lands on the same value)
      val bs = fp.select(explode(array((0 until 4).map { i =>
            struct(lit(i).as("band"), col(s"b$i").as("bits"))
          }: _*)).as("bb"))
        .select(col("bb.band").as("band"), col("bb.bits").as("bits"))
        .groupBy("band", "bits").agg(count(lit(1)).as("sz"))
      val nBuckets = bs.agg(count(lit(1))).head().getLong(0)
      val p99 = bs.select(col("sz")).orderBy("sz")
        .limit(((99L * nBuckets + 99L) / 100L).toInt)
        .agg(max(col("sz"))).head().getLong(0)
      val cap = math.max(16L, math.min(256L, p99))
      bandedHammingOver(fp, cap.toInt)
        .filter(expr("media_a div 16") =!= expr("media_b div 16"))
        .select(expr("media_a div 16").as("ma"),
          expr("cast(media_a % 16 as int)").as("frame_a"),
          expr("media_b div 16").as("mb"),
          expr("cast(media_b % 16 as int)").as("frame_b"),
          col("hamming"), lit(cap).as("cap_used"))
        .withColumnRenamed("ma", "media_a")
        .withColumnRenamed("mb", "media_b")
        .orderBy("hamming", "media_a", "frame_a", "media_b", "frame_b")
        .limit(20)
    })

  /** MULTI-PROBE banded-Hamming pairing (VERDICT r17 task 4) — the
    * Lv et al. multi-probe idea applied to the SYMMETRIC fingerprint
    * kernels: instead of 4 exact-match 16-bit bands (whose small key
    * space drives birthday collisions as the corpus grows — the §46
    * 62× byte ratio on q_frame_neardup), band the 64 bits as 2×32-bit
    * keys and probe each band's HAMMING-1 NEIGHBOR buckets on one side
    * of the self-join. Pigeonhole: a pair within Hamming 3 splits ≤ 3
    * differing bits over 2 bands, so some band differs by ≤ 1 bit — the
    * exact side's key equals the probe side's flipped (or unflipped)
    * key, so recall is EXACT to radius 3, the same guarantee the 4-band
    * kernel had. The 32-bit key space makes random bucket collisions
    * negligible, so surviving candidates are genuinely similar pairs:
    * membership rows grow 2 + 2·33 per item, but candidate PAIRS — the
    * term that exploded quadratically in the 16-bit buckets — collapse.
    * Both sides carry the same deterministic first-cap-by-id bucket cap,
    * oracle-mirrored. */
  private[graft] def bandedHammingMultiprobe(
      ph0: DataFrame, cap: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // E and P both derive from the fingerprints — materialize them once
    // so the decode/resample pass never runs twice
    val ph = graft.Checkpoints.truncate(ph0)
    val keys = ph.select(col("media_id"),
        col("b0"), col("b1"), col("b2"), col("b3"),
        explode(array(
          struct(lit(0).as("band"),
            (col("b0").cast("long") + col("b1").cast("long") * 65536L)
              .as("key")),
          struct(lit(1).as("band"),
            (col("b2").cast("long") + col("b3").cast("long") * 65536L)
              .as("key")))).as("bb"))
      .select(col("media_id"), col("b0"), col("b1"), col("b2"), col("b3"),
        col("bb.band").as("band"), col("bb.key").as("key"))
    def capped(m: DataFrame): DataFrame =
      m.withColumn("rn", row_number().over(
          Window.partitionBy("band", "key").orderBy("media_id")))
        .filter(col("rn") <= cap).drop("rn")
    val e = capped(keys)
    // probe side: the key itself plus its 32 single-bit flips per band
    val p = capped(keys.select(col("media_id").as("mid2"),
        col("b0").as("c0"), col("b1").as("c1"),
        col("b2").as("c2"), col("b3").as("c3"),
        col("band"),
        explode(expr("""transform(sequence(-1, 31),
          j -> CASE WHEN j < 0 THEN key
               ELSE key ^ shiftleft(CAST(1 AS BIGINT), j) END)"""))
          .as("key"))
      .withColumnRenamed("mid2", "media_id"))
      .select(col("media_id").as("mid2"), col("c0"), col("c1"),
        col("c2"), col("c3"), col("band"), col("key"))
    e.join(p, Seq("band", "key"))
      .filter(col("media_id") =!= col("mid2"))
      .select(least(col("media_id"), col("mid2")).as("media_a"),
        greatest(col("media_id"), col("mid2")).as("media_b"),
        (bit_count(col("b0").bitwiseXOR(col("c0"))) +
          bit_count(col("b1").bitwiseXOR(col("c1"))) +
          bit_count(col("b2").bitwiseXOR(col("c2"))) +
          bit_count(col("b3").bitwiseXOR(col("c3")))).cast("long")
          .as("hamming"))
      .distinct()
  }

  /** q_frame_neardup re-paired through the multi-probe kernel — same
    * per-frame fingerprints, same packed ids, same cross-media filter
    * and top-20 rank; only the CANDIDATE GENERATION changes (2×32-bit
    * bands + 1-bit probes instead of 4×16-bit exact bands). Recall to
    * Hamming 3 is exact on both kernels, so every ≤3 pair here matches
    * q_frame_neardup's; beyond that radius the two surface best-effort
    * candidates differently, which is why this is its own gated query
    * with the probing mirrored in its oracle. */
  private val qFrameNeardupMp = QueryDef(
    "q_frame_neardup_mp",
    Some("""
      |WITH h AS (
      |  SELECT doc_id, hex(encode(text)) AS hx,
      |    CAST(octet_length(encode(text)) AS BIGINT) AS n
      |  FROM documents),
      |fr AS (
      |  SELECT doc_id, k, (n * k) // 4 AS f0,
      |    least(greatest((n * k) // 4 + 1, (n * (k + 1)) // 4), n) AS f1
      |  FROM h, unnest(range(0, 4)) AS t(k) WHERE n > 0),
      |cells AS (
      |  SELECT fr.doc_id * 16 + fr.k AS fid, c.i,
      |    CAST(('0x' || substr(h.hx,
      |      2 * (fr.f0 + ((fr.f1 - fr.f0) * c.i) // 64) + 1, 2)) AS INTEGER)
      |      AS byte
      |  FROM fr JOIN h ON h.doc_id = fr.doc_id,
      |    unnest(range(0, 64)) AS c(i)),
      |m AS (SELECT fid, sum(byte) // 64 AS mean FROM cells GROUP BY fid),
      |bd AS (
      |  SELECT c.fid, c.i // 16 AS band,
      |    CAST(sum(CASE WHEN c.byte > m.mean THEN (1 << (c.i % 16))
      |             ELSE 0 END) AS INTEGER) AS bits
      |  FROM cells c JOIN m ON m.fid = c.fid
      |  GROUP BY c.fid, c.i // 16),
      |hsh AS (
      |  SELECT fid,
      |    min(CASE WHEN band = 0 THEN bits END) AS b0,
      |    min(CASE WHEN band = 1 THEN bits END) AS b1,
      |    min(CASE WHEN band = 2 THEN bits END) AS b2,
      |    min(CASE WHEN band = 3 THEN bits END) AS b3
      |  FROM bd GROUP BY fid),
      |k2 AS (
      |  SELECT fid, 0 AS band,
      |    CAST(b0 AS BIGINT) + CAST(b1 AS BIGINT) * 65536 AS key FROM hsh
      |  UNION ALL
      |  SELECT fid, 1,
      |    CAST(b2 AS BIGINT) + CAST(b3 AS BIGINT) * 65536 FROM hsh),
      |e AS (
      |  SELECT fid, band, key FROM k2
      |  QUALIFY row_number() OVER (PARTITION BY band, key ORDER BY fid)
      |    <= SIMPAIRCAP),
      |p AS (
      |  SELECT fid, band, key FROM (
      |    SELECT k2.fid, k2.band,
      |      CASE WHEN t.j < 0 THEN k2.key
      |           ELSE xor(k2.key, CAST(1 AS BIGINT) << t.j) END AS key
      |    FROM k2, unnest(range(-1, 32)) AS t(j))
      |  QUALIFY row_number() OVER (PARTITION BY band, key ORDER BY fid)
      |    <= SIMPAIRCAP),
      |cand AS (
      |  SELECT DISTINCT least(e.fid, p.fid) AS a, greatest(e.fid, p.fid) AS b
      |  FROM e JOIN p ON e.band = p.band AND e.key = p.key
      |    AND e.fid <> p.fid
      |  WHERE e.fid // 16 <> p.fid // 16)
      |SELECT a // 16 AS media_a, CAST(a % 16 AS INTEGER) AS frame_a,
      |  b // 16 AS media_b, CAST(b % 16 AS INTEGER) AS frame_b,
      |  CAST(bit_count(xor(ha.b0, hb.b0)) + bit_count(xor(ha.b1, hb.b1))
      |     + bit_count(xor(ha.b2, hb.b2)) + bit_count(xor(ha.b3, hb.b3))
      |    AS BIGINT) AS hamming
      |FROM cand JOIN hsh ha ON ha.fid = a JOIN hsh hb ON hb.fid = b
      |ORDER BY hamming, media_a, frame_a, media_b, frame_b LIMIT 20
      |""".stripMargin.trim
      .replace("SIMPAIRCAP", Dedup.SimPairCap.toString)),
    (spark, dir) => {
      val fp = graft.operators.MultimodalOps.framePerceptualHash(
          graft.operators.MultimodalOps.documentsAsMedia(spark, dir), 4)
        .toDF()
        .select((col("media_id") * 16 + col("frame_idx")).as("media_id"),
          col("b0"), col("b1"), col("b2"), col("b3"))
      bandedHammingMultiprobe(fp, Dedup.SimPairCap)
        .filter(expr("media_a div 16") =!= expr("media_b div 16"))
        .select(expr("media_a div 16").as("ma"),
          expr("cast(media_a % 16 as int)").as("frame_a"),
          expr("media_b div 16").as("mb"),
          expr("cast(media_b % 16 as int)").as("frame_b"),
          col("hamming"))
        .withColumnRenamed("ma", "media_a")
        .withColumnRenamed("mb", "media_b")
        .orderBy("hamming", "media_a", "frame_a", "media_b", "frame_b")
        .limit(20)
    })

  /** MULTIMODAL CURATION PIPELINE (VERDICT r17 task 6) — the joint
    * keep/drop + split a text+image corpus actually needs, composed as
    * one gated flow with per-stage accounting:
    *
    *   text near-dup edges (the MinHash-LSH candidates behind
    *   q_dedup_components) ∪ blob near-dup edges (q_blob_neardup's
    *   banded-aHash pairs at Hamming ≤ [[BlobDupHam]] — the pigeonhole-
    *   exact radius) → ONE connected-component closure over the union
    *   graph ([[Dedup.componentsOverEdges]], the same pointer-jumping
    *   kernel) → keep one doc per joint component (min id) → the
    *   leakage-safe split hashed on the JOINT component id, so neither a
    *   text near-dup NOR an image near-dup can straddle train/test.
    *
    * Output is the per-stage audit trail (stage, n): corpus size, edge
    * counts per modality, joint components, components merged by a blob
    * edge (the rows only the image signal contributes), drops, split
    * sizes — the "no silent caps" rule applied to a whole pipeline.
    * Scale shape: both edge generators are bucket-local (never
    * all-pairs), the closure iterates on edge endpoints only, and every
    * accounting row is a scalar aggregate — no stage exceeds the cost
    * of its standalone gated query. */
  private val BlobDupHam = 3
  private val qPipelineMultimodal = QueryDef(
    "q_pipeline_multimodal",
    Some(s"${Dedup.sigsSql.replaceFirst("WITH ", "WITH RECURSIVE ")},\n" +
      s"${Dedup.candPairsSql},\n$blobPxSql,\n" + s"""
      |m AS (SELECT doc_id, sum(byte) // 64 AS mean FROM px GROUP BY doc_id),
      |bt AS (
      |  SELECT p.doc_id, p.y * 8 + p.x AS i,
      |    CASE WHEN p.byte > m.mean THEN 1 ELSE 0 END AS bit
      |  FROM px p JOIN m ON m.doc_id = p.doc_id),
      |bd AS (
      |  SELECT doc_id, i // 16 AS band,
      |    CAST(sum(bit << (i % 16)) AS INTEGER) AS bits
      |  FROM bt GROUP BY doc_id, i // 16),
      |hsh AS (
      |  SELECT doc_id,
      |    min(CASE WHEN band = 0 THEN bits END) AS b0,
      |    min(CASE WHEN band = 1 THEN bits END) AS b1,
      |    min(CASE WHEN band = 2 THEN bits END) AS b2,
      |    min(CASE WHEN band = 3 THEN bits END) AS b3
      |  FROM bd GROUP BY doc_id),
      |bdc AS (
      |  SELECT doc_id, band, bits FROM bd
      |  QUALIFY row_number() OVER (PARTITION BY band, bits ORDER BY doc_id)
      |    <= SIMPAIRCAP),
      |bpair AS (
      |  SELECT p.a, p.b FROM (
      |    SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
      |    FROM bdc x JOIN bdc y
      |      ON x.band = y.band AND x.bits = y.bits AND x.doc_id < y.doc_id) p
      |  JOIN hsh ha ON ha.doc_id = p.a JOIN hsh hb ON hb.doc_id = p.b
      |  WHERE bit_count(xor(ha.b0, hb.b0)) + bit_count(xor(ha.b1, hb.b1))
      |      + bit_count(xor(ha.b2, hb.b2)) + bit_count(xor(ha.b3, hb.b3))
      |    <= BLOBHAM),
      |uedges AS (
      |  SELECT doc_a AS u, doc_b AS v FROM cand
      |  UNION SELECT doc_b, doc_a FROM cand
      |  UNION SELECT a, b FROM bpair
      |  UNION SELECT b, a FROM bpair),
      |reach(u, v) AS (
      |  SELECT doc_id AS u, doc_id AS v FROM documents
      |  UNION
      |  SELECT r.u, e.v FROM reach r JOIN uedges e ON e.u = r.v),
      |comp AS (
      |  SELECT u AS doc_id, CAST(min(v) AS BIGINT) AS component_id
      |  FROM reach GROUP BY u),
      |keepers AS (
      |  SELECT component_id, SPLITHASH % 100 AS hsplit
      |  FROM (SELECT DISTINCT component_id FROM comp))
      |SELECT stage, n FROM (
      |  SELECT 'a_docs_total' AS stage, count(*) AS n FROM documents
      |  UNION ALL SELECT 'b_text_edges', count(*) FROM cand
      |  UNION ALL SELECT 'c_blob_edges', count(*) FROM bpair
      |  UNION ALL SELECT 'd_components', count(*) FROM keepers
      |  UNION ALL SELECT 'e_blob_merged_components',
      |    count(DISTINCT c2.component_id)
      |    FROM comp c2 JOIN (SELECT a AS d FROM bpair
      |                       UNION SELECT b FROM bpair) be ON be.d = c2.doc_id
      |  UNION ALL SELECT 'f_dropped',
      |    (SELECT count(*) FROM comp) - (SELECT count(*) FROM keepers)
      |  UNION ALL SELECT 'g_train',
      |    count(*) FILTER (WHERE hsplit < 80) FROM keepers
      |  UNION ALL SELECT 'h_val',
      |    count(*) FILTER (WHERE hsplit >= 80 AND hsplit < 90) FROM keepers
      |  UNION ALL SELECT 'i_test',
      |    count(*) FILTER (WHERE hsplit >= 90) FROM keepers)
      |ORDER BY stage
      |""".stripMargin.trim
      .replace("SIMPAIRCAP", Dedup.SimPairCap.toString)
      .replace("BLOBHAM", BlobDupHam.toString)
      .replace("SPLITHASH",
        graft.functions.PortableHash.sqlHash60(41,
          "CAST(component_id AS VARCHAR)"))),
    (spark, dir) => {
      val docs = tbl(spark, dir, "documents").select(col("doc_id"))
      // both edge frames and the closure are reused by several
      // accounting aggregates — materialize each once
      val tcand = graft.Checkpoints.truncate(
        Dedup.candPairs(spark, dir).select(col("doc_a"), col("doc_b")))
      val bpair = graft.Checkpoints.truncate(
        blobBandedPairs(spark, dir).filter(col("hamming") <= BlobDupHam)
          .select(col("media_a").as("a"), col("media_b").as("b")))
      val comp = graft.Checkpoints.truncate(
        Dedup.componentsOverEdges(spark, dir,
          tcand.unionByName(
            bpair.select(col("a").as("doc_a"), col("b").as("doc_b")))))
      val keepers = graft.Checkpoints.truncate(
        comp.select(col("component_id")).distinct()
          .withColumn("hsplit",
            graft.functions.PortableHash.hash60(41,
              col("component_id").cast("string")) % 100))
      def stage(name: String, n: Column, from: DataFrame): DataFrame =
        from.agg(n.as("n")).select(lit(name).as("stage"), col("n"))
      val out = Seq(
          stage("a_docs_total", count(lit(1)), docs),
          stage("b_text_edges", count(lit(1)), tcand),
          stage("c_blob_edges", count(lit(1)), bpair),
          stage("d_components", count(lit(1)), keepers),
          stage("e_blob_merged_components",
            count_distinct(col("component_id")),
            comp.join(bpair.select(col("a").as("d"))
              .unionByName(bpair.select(col("b").as("d"))).distinct(),
              col("doc_id") === col("d"))),
          stage("f_dropped",
            count(lit(1)) - count_distinct(col("component_id")), comp),
          stage("g_train",
            sum(when(col("hsplit") < 80, 1L).otherwise(0L)), keepers),
          stage("h_val",
            sum(when(col("hsplit") >= 80 && col("hsplit") < 90, 1L)
              .otherwise(0L)), keepers),
          stage("i_test",
            sum(when(col("hsplit") >= 90, 1L).otherwise(0L)), keepers))
        .reduce(_.unionByName(_))
        .orderBy("stage")
      out
    })

  // =========================================================================
  // INCREMENTAL MULTIMODAL PIPELINE (VERDICT r17 task 3):
  // q_pipeline_multimodal maintained off the changes feed instead of
  // recomputed cold. The persisted state holds the BASE corpus's text
  // band index, text LSH edges, blob fingerprints, blob edges, and the
  // converged joint component labeling; a batch of NEW documents then
  // pays exactly:
  //   feed      — the changed files only (net inserts per (doc_id, text))
  //   fingerprint — shingle+minhash and aHash for the NEW docs only
  //   delta edges — pair expansion ONLY in buckets a new doc touches
  //     (old members fetched from the index by bucket key; pairs with
  //     both endpoints old are already in the persisted edge sets)
  //   closure   — the monotone min-label resume from the base labeling
  //     (the q_components_ivm argument: adds can only merge components)
  //   split     — map-only recompute from the final labeling.
  // DECOMPOSITION CONTRACT: new docs carry LARGER ids than every base
  // doc (they arrive at the top of the id space — the natural ingest
  // order). That makes the blob kernel's deterministic first-cap-by-id
  // bucket cap decomposable: the capped membership of a touched bucket
  // over base∪new = (all base members, then new members up to the cap),
  // so base-only pairs are exactly the persisted edges and every other
  // capped pair has a new endpoint. The text kernel is uncapped, so its
  // split is unconditional. The final audit is row-identical to the cold
  // pipeline's (the oracle is the SAME SQL over the final corpus).
  // =========================================================================

  private[graft] val pmmRecipe: String =
    s"pmmivm-v1:frac=7/8,blobham=$BlobDupHam,cap=${Dedup.SimPairCap}"

  /** Base-corpus state builder for [[qPipelineMultimodalIvm]]. */
  private def pmmBuildState(
      spark: SparkSession, base: DataFrame)(r: String): Unit = {
    import spark.implicits._
    // text: band memberships (the LSH index rows) and the base edge set
    Dedup.bandsWeighted(base.withColumn("w", lit(1L)))
      .select(col("doc_id"), col("band"), col("bucket"))
      .write.mode("overwrite").parquet(s"$r/tband")
    pairsFromBuckets(spark.read.parquet(s"$r/tband"))
      .write.mode("overwrite").parquet(s"$r/tedges")
    // blob: per-doc aHash fingerprints and the base edge set
    val media = base.select(col("doc_id").as("media_id"),
        lit("text").as("kind"), encode(col("text"), "UTF-8").as("media"))
      .as[graft.operators.MultimodalOps.MediaRecord]
    graft.operators.MultimodalOps.perceptualHash(media).toDF()
      .select("media_id", "b0", "b1", "b2", "b3")
      .write.mode("overwrite").parquet(s"$r/bhash")
    bandedHammingOver(spark.read.parquet(s"$r/bhash"))
      .filter(col("hamming") <= BlobDupHam)
      .select(col("media_a").as("a"), col("media_b").as("b"))
      .write.mode("overwrite").parquet(s"$r/bedges")
    // joint closure over the union edge set, converged once
    val pairs = spark.read.parquet(s"$r/tedges")
      .unionByName(spark.read.parquet(s"$r/bedges")
        .select(col("a").as("doc_a"), col("b").as("doc_b")))
    val edges = graft.Checkpoints.truncate(
      pairs.select(col("doc_a").as("u"), col("doc_b").as("v"))
        .union(pairs.select(col("doc_b").as("u"), col("doc_a").as("v")))
        .repartition(col("v")), keepPartitioning = true)
    val (labels, r1) = Dedup.componentsLoop(spark, edges, None)
    labels.write.mode("overwrite").parquet(s"$r/labels")
    Seq(labels, edges).foreach(graft.Checkpoints.release)
    spark.range(1).select(lit(r1).as("r1"))
      .coalesce(1).write.mode("overwrite").parquet(s"$r/meta")
  }

  /** Distinct in-bucket pairs (doc_a < doc_b) from a (doc_id, band,
    * bucket) membership frame — the candPairs HOF expansion over an
    * INDEX instead of freshly-computed signatures. */
  private def pairsFromBuckets(m: DataFrame): DataFrame =
    m.groupBy("band", "bucket")
      .agg(sort_array(collect_list(col("doc_id"))).as("docs"))
      .filter(size(col("docs")) > 1)
      .select(explode(expr(
        """flatten(transform(docs, (x, i) ->
          |  transform(slice(docs, i + 2, size(docs)), y ->
          |    struct(x AS doc_a, y AS doc_b))))""".stripMargin)).as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .distinct()

  /** q_pipeline_multimodal_ivm's builder. `mark`: "p1" (state served),
    * "delta" (delta edge sets materialized),
    * "resume:r1=<cold rounds>:r2=<resume rounds>:dt=<delta text
    * edges>:db=<delta blob edges>". */
  private[graft] def pipelineMultimodalIvmBuild(
      spark: SparkSession, dir: String,
      mark: String => Unit = _ => ()): DataFrame = {
    import spark.implicits._
    val docs = tbl(spark, dir, "documents").select(col("doc_id"), col("text"))
    val bnd = docs.agg(min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"))
      .head()
    val cutoff = bnd.getLong(0) + (bnd.getLong(1) - bnd.getLong(0) + 1) * 7 / 8
    val base = docs.filter(col("doc_id") < cutoff)
    val stateRoot = ArtifactStore.ensure(spark, dir, "documents",
      "pmm_state", pmmRecipe)(pmmBuildState(spark, base))
    val r1 = spark.read.parquet(s"$stateRoot/meta").head().getLong(0)
    mark("p1")

    // exhibit: commit base then the new batch, learn the delta from the
    // changes feed (reads the changed files only)
    val (tcand, bpair, nDt, nDb) = IvmWindow.run(spark, dir, "pmm",
        "doc_id BIGINT, text STRING") { w =>
      w.append(base)                                               // gen 1
      w.append(docs.filter(col("doc_id") >= cutoff))               // gen 2
      val net = w.truncated(
        w.netDelta(Seq("doc_id", "text"), "w").filter(col("w") > 0))

      // delta TEXT edges: new docs' band memberships, old members fetched
      // from the index by bucket key, pairs kept only with >= 1 new side
      val newB = Dedup.bandsWeighted(net.select(col("doc_id"), col("text"),
          col("w")))
        .select(col("doc_id"), col("band"), col("bucket"))
      val baseB = spark.read.parquet(s"$stateRoot/tband")
      val touched = newB.select("band", "bucket").distinct()
      val memT = baseB.join(broadcast(touched), Seq("band", "bucket"),
          "left_semi")
        .withColumn("nw", lit(false))
        .unionByName(newB.withColumn("nw", lit(true)))
      val dt = w.hold(graft.Checkpoints.truncate(memT.groupBy("band", "bucket")
        .agg(sort_array(collect_list(struct(col("doc_id"), col("nw"))))
          .as("docs"))
        .filter(size(col("docs")) > 1)
        .select(explode(expr(
          """flatten(transform(docs, (x, i) ->
            |  transform(slice(docs, i + 2, size(docs)), y ->
            |    struct(x.doc_id AS doc_a, y.doc_id AS doc_b,
            |           x.nw AS anw, y.nw AS bnw))))""".stripMargin)).as("p"))
        .filter(col("p.anw") || col("p.bnw"))
        .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
        .distinct()))

      // delta BLOB edges: aHash the new docs only; per touched bucket the
      // capped membership = base members ++ new (ids ascending — the
      // decomposition contract), so re-slicing the union reproduces the
      // cold kernel's capped list exactly and the >=1-new filter yields
      // precisely the pairs the persisted base edge set lacks
      val newMedia = net.select(col("doc_id").as("media_id"),
          lit("text").as("kind"), encode(col("text"), "UTF-8").as("media"))
        .as[graft.operators.MultimodalOps.MediaRecord]
      val newPh = graft.operators.MultimodalOps.perceptualHash(newMedia).toDF()
        .select("media_id", "b0", "b1", "b2", "b3")
      def exploded(ph: DataFrame): DataFrame = ph
        .select(col("media_id"), col("b0"), col("b1"), col("b2"), col("b3"),
          explode(array((0 until 4).map { i =>
            struct(lit(i).as("band"), col(s"b$i").as("bits"))
          }: _*)).as("bb"))
        .select(col("media_id"), col("b0"), col("b1"), col("b2"), col("b3"),
          col("bb.band").as("band"), col("bb.bits").as("bits"))
      val newM = exploded(newPh)
      val touchedB = newM.select("band", "bits").distinct()
      val memB = exploded(spark.read.parquet(s"$stateRoot/bhash"))
        .join(broadcast(touchedB), Seq("band", "bits"), "left_semi")
        .withColumn("nw", lit(false))
        .unionByName(newM.withColumn("nw", lit(true)))
      val db = w.hold(graft.Checkpoints.truncate(memB.groupBy("band", "bits")
        .agg(expr(s"""slice(sort_array(collect_list(
          struct(media_id, b0, b1, b2, b3, nw))), 1, ${Dedup.SimPairCap})""")
          .as("docs"))
        .filter(size(col("docs")) > 1)
        .select(explode(expr(
          """flatten(transform(docs, (x, i) ->
            |  transform(slice(docs, i + 2, size(docs)), y ->
            |    struct(x.media_id AS a, y.media_id AS b,
            |           x.nw AS anw, y.nw AS bnw,
            |           x.b0 AS a0, x.b1 AS a1, x.b2 AS a2, x.b3 AS a3,
            |           y.b0 AS c0, y.b1 AS c1, y.b2 AS c2, y.b3 AS c3))))"""
            .stripMargin)).as("p"))
        .filter(col("p.anw") || col("p.bnw"))
        .select(col("p.a").as("a"), col("p.b").as("b"),
          (bit_count(col("p.a0").bitwiseXOR(col("p.c0"))) +
            bit_count(col("p.a1").bitwiseXOR(col("p.c1"))) +
            bit_count(col("p.a2").bitwiseXOR(col("p.c2"))) +
            bit_count(col("p.a3").bitwiseXOR(col("p.c3")))).cast("long")
            .as("hamming"))
        .distinct()
        .filter(col("hamming") <= BlobDupHam)
        .select(col("a"), col("b"))))
      mark("delta")

      // full edge sets = persisted base ∪ delta (disjoint by construction)
      val tcand = graft.Checkpoints.truncate(
        spark.read.parquet(s"$stateRoot/tedges").unionByName(dt))
      val bpair = graft.Checkpoints.truncate(
        spark.read.parquet(s"$stateRoot/bedges").unionByName(db))
      (tcand, bpair, dt.count(), db.count())
    }

    // monotone min-label resume from the base labeling (adds only merge)
    val pairsAll = tcand.unionByName(
      bpair.select(col("a").as("doc_a"), col("b").as("doc_b")))
    val edges = graft.Checkpoints.truncate(
      pairsAll.select(col("doc_a").as("u"), col("doc_b").as("v"))
        .union(pairsAll.select(col("doc_b").as("u"), col("doc_a").as("v")))
        .repartition(col("v")), keepPartitioning = true)
    val l0 = spark.read.parquet(s"$stateRoot/labels")
    val init = l0.unionByName(
      edges.select(col("u")).distinct()
        .join(l0.select(col("u")), Seq("u"), "left_anti")
        .select(col("u"), col("u").as("lbl")))
    val (labels2, r2) = Dedup.componentsLoop(spark, edges, Some(init))
    mark(s"resume:r1=$r1:r2=$r2:dt=$nDt:db=$nDb")
    val comp = graft.Checkpoints.truncate(docs.select(col("doc_id"))
      .join(labels2.select(col("u").as("doc_id"),
        col("lbl").as("component_id")), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component_id"), col("doc_id")).as("component_id")))
    Seq(labels2, edges).foreach(graft.Checkpoints.release)

    // per-stage audit — the cold pipeline's aggregates verbatim
    val keepers = graft.Checkpoints.truncate(
      comp.select(col("component_id")).distinct()
        .withColumn("hsplit",
          graft.functions.PortableHash.hash60(41,
            col("component_id").cast("string")) % 100))
    def stage(name: String, n: Column, from: DataFrame): DataFrame =
      from.agg(n.as("n")).select(lit(name).as("stage"), col("n"))
    Seq(
        stage("a_docs_total", count(lit(1)), docs),
        stage("b_text_edges", count(lit(1)), tcand),
        stage("c_blob_edges", count(lit(1)), bpair),
        stage("d_components", count(lit(1)), keepers),
        stage("e_blob_merged_components",
          count_distinct(col("component_id")),
          comp.join(bpair.select(col("a").as("d"))
            .unionByName(bpair.select(col("b").as("d"))).distinct(),
            col("doc_id") === col("d"))),
        stage("f_dropped",
          count(lit(1)) - count_distinct(col("component_id")), comp),
        stage("g_train",
          sum(when(col("hsplit") < 80, 1L).otherwise(0L)), keepers),
        stage("h_val",
          sum(when(col("hsplit") >= 80 && col("hsplit") < 90, 1L)
            .otherwise(0L)), keepers),
        stage("i_test",
          sum(when(col("hsplit") >= 90, 1L).otherwise(0L)), keepers))
      .reduce(_.unionByName(_))
      .orderBy("stage")
  }

  /** The maintained pipeline's gate: the SAME oracle SQL as the cold
    * pipeline (the final corpus is base ∪ new = documents), so the hash
    * gate proves the maintained audit — edge counts, joint components,
    * blob-merged components, split sizes — lands row-identical to a cold
    * recompute of the final table. */
  private val qPipelineMultimodalIvm = QueryDef(
    "q_pipeline_multimodal_ivm",
    qPipelineMultimodal.oracle,
    (spark, dir) => pipelineMultimodalIvmBuild(spark, dir))

  // =========================================================================

  val defs: Seq[QueryDef] = Seq(
    qMultimodal, qBlobStats, qFrameSample, qBlobDecode, qBlobNeardup,
    qBlobCapStats, qFrameNeardup, qFrameCapStats, qFrameNeardupMp,
    qFrameNeardupTuned, qPipelineMultimodal, qPipelineMultimodalIvm) ++ Seq(
    qWordcount, qTopkMax, qTopkMin, qStopword,
    qPricing, qFilterProject, qSortLimit, qJoinAgg,
    qSemiJoin, qAntiJoin, qBroadcastJoin, qWindowRank,
    qTumbling, qSliding, qJson, qDedupExact) ++ Relational.defs ++ Tpch.defs ++
    Dedup.defs ++ Similarity.defs ++ TextAnalysis.defs ++
    StreamingParity.defs ++ SourceParity.defs ++ Graph.defs ++ Layout.defs

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    defs.map(d => d.name -> d.build).toMap

  def oracleSql: Map[String, String] =
    defs.flatMap(d => d.oracle.map(d.name -> _)).toMap
}
