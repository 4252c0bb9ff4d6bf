package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{Aggregators, PortableHash}
import Parity._

/** Text-analysis operators over the `documents` corpus (SURVEY.md §2.4):
  * token statistics, quality scoring, n-gram-marker language ID, and k-min
  * rolling-hash fingerprinting. Everything is a tokenize (explode) pass +
  * grouped aggregation — embarrassingly partition-parallel; the only
  * shuffle in each query is the doc_id grouping (and the corpus is already
  * laid out by doc, so at 100 TB these run at scan speed).
  *
  * Tokenization matches the reference semantics exactly (whitespace split,
  * case-sensitive, punctuation attached — reference WordCount.java:28-32,
  * TopkCommonWords.java:64-68). */
object TextAnalysis {

  /** Quality-score stopword list (same list as q_stopword_wordcount). */
  private val stopwords = Seq("the", "a", "of", "and", "to")
  private val stopSqlList = stopwords.map("'" + _ + "'").mkString(", ")

  private val tokSql =
    """tok AS (SELECT doc_id, w FROM (
  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS w FROM documents)
  WHERE w <> '')"""

  private def toks(spark: SparkSession, dir: String): DataFrame =
    tbl(spark, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), "\\s+")).as("w"))
      .filter(col("w") =!= "")

  /** End-to-end curation pipeline — the canonical LLM-data flow composed
    * as ONE declarative plan: exact-dedup keep-first (min doc_id per
    * md5(text) window; this corpus is dup-free by construction, so the
    * stage is exercised structurally — dup-dropping semantics are pinned
    * by q_dedup_exact/q_dedup_normalized) → quality gate (token count ≥
    * 32, the corpus lower quartile) → language allowlist (en, de) →
    * deterministic hash split (md5-derived hash60(doc_id) mod 100: <90
    * train, else val — the reproducible train/val assignment every
    * pipeline needs; never RAND(), which no engine can replay) → per
    * (lang, split) corpus accounting. Catalyst fuses all five stages into
    * two shuffles: the tokenize agg on doc_id and the final group-by —
    * the dedup window rides the same doc-wise layout. */
  private val qPipelineCurate = QueryDef(
    "q_pipeline_curate",
    Some(s"""
      |WITH $tokSql,
      |tc AS (SELECT doc_id, count(*) AS n_tok FROM tok GROUP BY doc_id),
      |dedup AS (SELECT doc_id, lang, text,
      |    min(doc_id) OVER (PARTITION BY md5(text)) AS keep_id
      |  FROM documents),
      |kept AS (
      |  SELECT d.doc_id, d.lang, tc.n_tok
      |  FROM dedup d JOIN tc ON tc.doc_id = d.doc_id
      |  WHERE d.doc_id = d.keep_id
      |    AND tc.n_tok >= 32
      |    AND d.lang IN ('en', 'de')),
      |split AS (
      |  SELECT lang, n_tok,
      |    CASE WHEN ${PortableHash.sqlHash60("CAST(doc_id AS VARCHAR)")} % 100 < 90
      |         THEN 'train' ELSE 'val' END AS split
      |  FROM kept)
      |SELECT lang, split, count(*) AS n_docs,
      |  CAST(sum(n_tok) AS BIGINT) AS sum_tokens
      |FROM split GROUP BY lang, split ORDER BY lang, split
      |""".stripMargin.trim),
    (spark, dir) => {
      val tc = toks(spark, dir).groupBy("doc_id")
        .agg(count(lit(1)).as("n_tok"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy(md5(col("text")))
      tbl(spark, dir, "documents")
        .withColumn("keep_id", min(col("doc_id")).over(w))
        .filter(col("doc_id") === col("keep_id") && col("lang").isin("en", "de"))
        .join(tc, "doc_id")
        .filter(col("n_tok") >= 32)
        .select(col("lang"), col("n_tok"),
          when(PortableHash.hash60(col("doc_id").cast("string")) % 100 < 90, "train")
            .otherwise("val").as("split"))
        .groupBy("lang", "split")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("sum_tokens"))
        .orderBy("lang", "split")
    })

  /** Token statistics: whitespace tokens, alpha-run count (a BPE-ish
    * regex segmentation), exact mean token length. */
  private val qTokenStats = QueryDef(
    "q_token_stats",
    Some(s"""
      |WITH $tokSql,
      |st AS (SELECT doc_id, count(*) AS n_tokens,
      |  CAST(sum(length(w)) AS DOUBLE) / count(*) AS avg_token_len
      |  FROM tok GROUP BY doc_id)
      |SELECT d.doc_id, d.n_chars, st.n_tokens, st.avg_token_len,
      |  CAST(length(regexp_extract_all(d.text, '[a-z]+')) AS BIGINT) AS n_alpha_runs
      |FROM documents d JOIN st ON d.doc_id = st.doc_id
      |ORDER BY d.doc_id
      |""".stripMargin.trim),
    (spark, dir) => {
      val st = toks(spark, dir).groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          (sum(length(col("w"))).cast("double") / count(lit(1))).as("avg_token_len"))
      tbl(spark, dir, "documents")
        .join(st, "doc_id")
        .select(col("doc_id"), col("n_chars"), col("n_tokens"), col("avg_token_len"),
          size(expr("regexp_extract_all(text, '[a-z]+', 0)")).cast("long")
            .as("n_alpha_runs"))
        .orderBy("doc_id")
    })

  /** Document quality signals: stopword ratio, alphanumeric-character
    * ratio, mean word length — the standard cheap pre-training filters.
    * All ratios are single divisions of exact integers (deterministic
    * doubles in both engines). */
  private val qDocQuality = QueryDef(
    "q_doc_quality",
    Some(s"""
      |WITH $tokSql,
      |stats AS (
      |  SELECT doc_id, count(*) AS n_tok,
      |    count(*) FILTER (WHERE w IN ($stopSqlList)) AS n_stop,
      |    sum(length(w)) AS sum_len
      |  FROM tok GROUP BY doc_id)
      |SELECT d.doc_id, s.n_tok,
      |  CAST(s.n_stop AS DOUBLE) / s.n_tok AS stop_ratio,
      |  CAST(length(regexp_replace(lower(d.text), '[^a-z0-9 ]', '', 'g')) AS DOUBLE) / length(d.text) AS alnum_ratio,
      |  CAST(s.sum_len AS DOUBLE) / s.n_tok AS mean_word_len
      |FROM documents d JOIN stats s ON d.doc_id = s.doc_id
      |ORDER BY d.doc_id
      |""".stripMargin.trim),
    (spark, dir) => {
      val stats = toks(spark, dir).groupBy("doc_id")
        .agg(count(lit(1)).as("n_tok"),
          count(when(col("w").isin(stopwords: _*), 1)).as("n_stop"),
          sum(length(col("w"))).as("sum_len"))
      tbl(spark, dir, "documents")
        .join(stats, "doc_id")
        .select(col("doc_id"), col("n_tok"),
          (col("n_stop").cast("double") / col("n_tok")).as("stop_ratio"),
          (length(regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""))
            .cast("double") / length(col("text"))).as("alnum_ratio"),
          (col("sum_len").cast("double") / col("n_tok")).as("mean_word_len"))
        .orderBy("doc_id")
    })

  // ---- language ID: marker-word hit counting + argmax ----
  // (The corpus `lang` labels are synthetic noise over a shared vocabulary,
  // so accuracy is chance-level by construction; the operator semantics —
  // deterministic per-language scoring + argmax with alphabetical
  // tie-break — are what the oracle checks.)
  private val markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("table", "join", "scan"),
    "de" -> Seq("hash", "sort", "vector"),
    "zh" -> Seq("window", "merge", "batch"),
    "fr" -> Seq("query", "order", "line"),
    "es" -> Seq("stream", "filter", "column"))
  private val langs = markers.map(_._1)

  private val qLangId = QueryDef(
    "q_langid",
    Some {
      val hitCols = markers.map { case (l, ms) =>
        s"count(*) FILTER (WHERE w IN (${ms.map("'" + _ + "'").mkString(", ")})) AS hits_$l"
      }.mkString(",\n    ")
      val g = s"greatest(${langs.map(l => s"hits_$l").mkString(", ")})"
      val caseChain = "CASE " +
        langs.sorted.map(l => s"WHEN hits_$l = $g THEN '$l'").mkString(" ") + " END"
      s"""
      |WITH $tokSql,
      |h AS (SELECT doc_id, $hitCols FROM tok GROUP BY doc_id)
      |SELECT h.doc_id, ${langs.map(l => s"hits_$l").mkString(", ")},
      |  $caseChain AS predicted, d.lang AS actual,
      |  CAST($caseChain = d.lang AS BIGINT) AS correct
      |FROM h JOIN documents d ON d.doc_id = h.doc_id ORDER BY h.doc_id
      |""".stripMargin.trim
    },
    (spark, dir) => {
      val hitCols = markers.map { case (l, ms) =>
        count(when(col("w").isin(ms: _*), 1)).as(s"hits_$l")
      }
      val h = toks(spark, dir).groupBy("doc_id")
        .agg(hitCols.head, hitCols.tail: _*)
      val g = greatest(langs.map(l => col(s"hits_$l")): _*)
      val predicted = langs.sorted
        .foldRight(lit(null).cast("string")) { (l, acc) =>
          when(col(s"hits_$l") === g, lit(l)).otherwise(acc)
        }
      // foldRight keeps evaluation order = alphabetical WHEN chain
      h.join(tbl(spark, dir, "documents").select(col("doc_id"), col("lang")), "doc_id")
        .select(Seq(col("doc_id")) ++ langs.map(l => col(s"hits_$l")) ++ Seq(
          predicted.as("predicted"), col("lang").as("actual"),
          (predicted === col("lang")).cast("long").as("correct")): _*)
        .orderBy("doc_id")
    })

  /** k-min sketch fingerprint: the 3 smallest distinct rolling-hash values
    * of the doc's char-8 shingles, md5-combined — a compact containment
    * fingerprint (k-min sketches are mergeable, so at 100 TB the sketch
    * aggregates map-side like any min). */
  private val qFingerprint = QueryDef(
    "q_fingerprint",
    Some(s"""
      |WITH sh AS (SELECT doc_id, substr(text, CAST(i AS INT), 8) AS sh FROM (
      |    SELECT doc_id, text, unnest(range(1, greatest(length(text)-6, 2))) AS i FROM documents)),
      |hp AS (SELECT DISTINCT doc_id, ${PortableHash.sqlHash60("sh")} % ${PortableHash.P} AS hp FROM sh),
      |ranked AS (SELECT doc_id, hp, row_number() OVER (PARTITION BY doc_id ORDER BY hp) AS rn FROM hp)
      |SELECT doc_id,
      |  md5(concat_ws('|', max(CASE WHEN rn=1 THEN hp END), max(CASE WHEN rn=2 THEN hp END), max(CASE WHEN rn=3 THEN hp END))) AS fingerprint
      |FROM ranked WHERE rn <= 3 GROUP BY doc_id ORDER BY doc_id
      |""".stripMargin.trim),
    (spark, dir) => {
      val sh = tblWide(spark, dir, "documents") // one md5 per shingle
        .select(col("doc_id"), col("text"),
          explode(sequence(lit(1), greatest(length(col("text")) - 6, lit(2)) - 1)).as("i"))
        .select(col("doc_id"), expr("substring(text, i, 8)").as("sh"))
      // Same "3 smallest distinct hashes" as the oracle's window
      // formulation, but as ONE aggregation pass: collect_set dedups
      // map-side, sort_array orders the per-doc set — no global
      // distinct shuffle + no per-partition sort of all shingles.
      val hp = sh.select(col("doc_id"),
        (PortableHash.hash60(col("sh")) % PortableHash.P).as("hp"))
      hp.groupBy("doc_id")
        .agg(sort_array(collect_set(col("hp"))).as("hs"))
        // concat_ws (not concat): skips NULL slots like DuckDB's concat_ws,
        // so a degenerate doc with < 3 distinct window hashes fingerprints
        // identically in both engines; try_element_at keeps the short-array
        // lookup NULL-safe under ANSI mode (ADVICE r05)
        .select(col("doc_id"), md5(concat_ws("|",
          try_element_at(col("hs"), lit(1)).cast("string"),
          try_element_at(col("hs"), lit(2)).cast("string"),
          try_element_at(col("hs"), lit(3)).cast("string"))).as("fingerprint"))
        .orderBy("doc_id")
    })

  /** The SAME k-min fingerprint computed through the typed
    * `Aggregator[IN, BUF, OUT]` surface (graft.functions.Aggregators.MinK
    * via `udaf()`) instead of collect_set/sort_array — the custom-UDAF
    * exhibit under the driver's gate, sharing q_fingerprint's oracle
    * semantics. MinK keeps an O(k) mergeable buffer, so it partial-
    * aggregates map-side like a built-in (the property that matters at
    * 100 TB); the cost vs the native formulation is no codegen for the
    * buffer update — which is why the default fingerprint stays native
    * and this entry exists to prove the extension API end-to-end. */
  private val qFingerprintUdaf = QueryDef(
    "q_fingerprint_udaf",
    Some(s"""
      |WITH sh AS (SELECT doc_id, substr(text, CAST(i AS INT), 8) AS sh FROM (
      |    SELECT doc_id, text, unnest(range(1, greatest(length(text)-6, 2))) AS i FROM documents)),
      |hp AS (SELECT DISTINCT doc_id, ${PortableHash.sqlHash60("sh")} % ${PortableHash.P} AS hp FROM sh),
      |ranked AS (SELECT doc_id, hp, row_number() OVER (PARTITION BY doc_id ORDER BY hp) AS rn FROM hp)
      |SELECT doc_id,
      |  md5(concat_ws('|', max(CASE WHEN rn=1 THEN hp END), max(CASE WHEN rn=2 THEN hp END), max(CASE WHEN rn=3 THEN hp END))) AS fingerprint
      |FROM ranked WHERE rn <= 3 GROUP BY doc_id ORDER BY doc_id
      |""".stripMargin.trim),
    (spark, dir) => {
      val mink3 = udaf(new graft.functions.Aggregators.MinK(3))
      tblWide(spark, dir, "documents") // one md5 per shingle
        .select(col("doc_id"), col("text"),
          explode(sequence(lit(1), greatest(length(col("text")) - 6, lit(2)) - 1)).as("i"))
        .select(col("doc_id"), expr("substring(text, i, 8)").as("sh"))
        .select(col("doc_id"),
          (PortableHash.hash60(col("sh")) % PortableHash.P).as("hp"))
        .groupBy("doc_id")
        .agg(mink3(col("hp")).as("hs"))
        // concat_ws (not concat): skips NULL slots like DuckDB's concat_ws,
        // so a degenerate doc with < 3 distinct window hashes fingerprints
        // identically in both engines; try_element_at keeps the short-array
        // lookup NULL-safe under ANSI mode (ADVICE r05)
        .select(col("doc_id"), md5(concat_ws("|",
          try_element_at(col("hs"), lit(1)).cast("string"),
          try_element_at(col("hs"), lit(2)).cast("string"),
          try_element_at(col("hs"), lit(3)).cast("string"))).as("fingerprint"))
        .orderBy("doc_id")
    })

  /** Deterministic STRATIFIED sampling — the reproducible corpus-sampling
    * op every training pipeline needs ("keep 50% of en, 25% of de, 10% of
    * everything else"): per-stratum Bernoulli by a SALTED portable hash of
    * the stable key (`hash60('sample|' || doc_id) mod 1000 < rate‰`).
    * Never RAND() — no engine can replay it, and resampling must be a
    * pure function of (key, salt, rates) so a re-run, a backfill, and a
    * different engine all select the SAME rows. The salt decorrelates this
    * decision from every other hash-derived assignment (q_pipeline_curate's
    * train/val split uses the unsalted key — without a salt the 10%
    * sample would be a subset of the first hash deciles, nesting the two
    * decisions). Execution is a map-only filter — no shuffle, no state;
    * at 100 TB it runs at scan speed and composes under any pushdown. */
  private val sampleRates: Seq[(String, Int)] = Seq("en" -> 500, "de" -> 250)
  private val DefaultRate = 100 // per-mille

  private val qStratifiedSample = QueryDef(
    "q_stratified_sample",
    Some {
      val caseSql = "CASE " + sampleRates.map { case (l, r) =>
        s"WHEN lang = '$l' THEN $r"
      }.mkString(" ") + s" ELSE $DefaultRate END"
      s"""
      |SELECT doc_id, lang, h % 1000 AS bucket FROM (
      |  SELECT doc_id, lang,
      |    ${PortableHash.sqlHash60("concat('sample|', CAST(doc_id AS VARCHAR))")} AS h
      |  FROM documents)
      |WHERE h % 1000 < $caseSql
      |ORDER BY doc_id
      |""".stripMargin.trim
    },
    (spark, dir) => {
      val rate = sampleRates.foldRight(lit(DefaultRate)) { case ((l, r), acc) =>
        when(col("lang") === l, lit(r)).otherwise(acc)
      }
      tbl(spark, dir, "documents")
        .select(col("doc_id"), col("lang"),
          (PortableHash.hash60(concat(lit("sample|"), col("doc_id").cast("string")))
            % 1000).as("bucket"))
        .filter(col("bucket") < rate)
        .orderBy("doc_id")
    })

  /** Importance resampling — the continuous-weight step beyond
    * q_stratified_sample's fixed per-group rates (the DSIR-family shape:
    * per-document acceptance probability proportional to an importance
    * weight, here a token-count proxy standing in for a learned domain
    * score). Acceptance stays a deterministic salted-hash Bernoulli —
    * `hash60('imp|' + doc_id) % 1000 < w(doc)` — so the sample is
    * reproducible across engines, re-runs and cluster sizes; the weight
    * just moves per ROW instead of per group. Map-only (the weight is a
    * projection over already-scanned columns), and the output aggregates
    * per language so the oracle checks both the kept set and the
    * weight mass that predicted it. */
  private val qImportanceSample = QueryDef(
    "q_importance_sample",
    Some(s"""
      |WITH $tokSql,
      |tc AS (SELECT doc_id, count(*) AS n_tok FROM tok GROUP BY doc_id),
      |w AS (SELECT d.doc_id, d.lang, tc.n_tok,
      |    least(950, greatest(50, tc.n_tok * 5)) AS w_pm,
      |    ${PortableHash.sqlHash60("concat('imp|', CAST(d.doc_id AS VARCHAR))")} % 1000 AS h
      |  FROM documents d JOIN tc ON tc.doc_id = d.doc_id)
      |SELECT lang, count(*) AS n_total,
      |  CAST(count(*) FILTER (WHERE h < w_pm) AS BIGINT) AS n_kept,
      |  CAST(sum(w_pm) AS BIGINT) AS weight_mass,
      |  coalesce(CAST(sum(n_tok) FILTER (WHERE h < w_pm) AS BIGINT), 0) AS kept_tokens
      |FROM w GROUP BY lang ORDER BY lang
      |""".stripMargin.trim),
    (spark, dir) => {
      val tc = toks(spark, dir).groupBy("doc_id")
        .agg(count(lit(1)).as("n_tok"))
      val kept = col("h") < col("w_pm")
      tbl(spark, dir, "documents").select("doc_id", "lang")
        .join(tc, "doc_id")
        .withColumn("w_pm", least(lit(950L), greatest(lit(50L), col("n_tok") * 5)))
        .withColumn("h", PortableHash.hash60(
          concat(lit("imp|"), col("doc_id").cast("string"))) % 1000)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_total"),
          sum(when(kept, 1L).otherwise(0L)).as("n_kept"),
          sum(col("w_pm")).as("weight_mass"),
          sum(when(kept, col("n_tok")).otherwise(0L)).as("kept_tokens"))
        .orderBy("lang")
    })

  /** Term-lookup relevance ranking — the inverted-index probe, as one
    * declarative plan: tokenize → keep query terms (a 3-row broadcast
    * join) → per-(doc, term) tf → corpus df per term → tf-idf-style score
    * → top-20 (TakeOrderedAndProject). At 100 TB the tf frame IS the
    * inverted index (posting list per term, partitioned by term on disk);
    * this query is the probe path over it.
    *
    * The score is EXACT integer arithmetic — `sum(tf * n_docs * 1e6 div
    * df)` with floor division — because a double tf-idf sum is
    * addition-order-sensitive and could differ between engines by an ULP,
    * which the driver's hash compare would fail. Both engines floor
    * positive integer division identically; `score = score_micro / 1e6`
    * is surfaced as the one derived double (a single division of the same
    * integer → the same double). */
  private val searchTerms = Seq("query", "join", "stream")

  private val qTextSearch = QueryDef(
    "q_text_search",
    Some {
      val termList = searchTerms.map("'" + _ + "'").mkString(", ")
      s"""
      |WITH $tokSql,
      |tf AS (SELECT doc_id, w AS term, count(*) AS tf FROM tok
      |  WHERE w IN ($termList) GROUP BY 1, 2),
      |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
      |n AS (SELECT count(*) AS n_docs FROM documents),
      |scored AS (
      |  SELECT tf.doc_id,
      |    CAST(sum(tf.tf * ((n.n_docs * 1000000) // df.df)) AS BIGINT) AS score_micro
      |  FROM tf JOIN df USING (term), n GROUP BY tf.doc_id)
      |SELECT doc_id, score_micro, CAST(score_micro AS DOUBLE) / 1e6 AS score
      |FROM scored ORDER BY score_micro DESC, doc_id LIMIT 20
      |""".stripMargin.trim
    },
    (spark, dir) => {
      val tf = toks(spark, dir)
        .filter(col("w").isin(searchTerms: _*))
        .groupBy(col("doc_id"), col("w").as("term"))
        .agg(count(lit(1)).as("tf"))
      val df = tf.groupBy("term")
        .agg(countDistinct(col("doc_id")).as("df"))
      val nDocs = tbl(spark, dir, "documents")
        .agg(count(lit(1)).as("n_docs"))
      tf.join(broadcast(df), "term")
        .crossJoin(broadcast(nDocs))
        .groupBy("doc_id")
        .agg(sum(col("tf") * expr("(n_docs * 1000000L) div df")).as("score_micro"))
        .select(col("doc_id"), col("score_micro"),
          (col("score_micro").cast("double") / lit(1e6)).as("score"))
        .orderBy(desc("score_micro"), asc("doc_id"))
        .limit(20)
    })

  /** BM25 relevance ranking over the same inverted-index frames as
    * q_text_search — the scoring function a production retrieval stack
    * actually runs (tf saturation + document-length normalization), next
    * to the plain tf-idf probe. Per (doc, term):
    *
    *   score = idf(term) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    *
    * with k1 = 1.2, b = 0.75 carried as EXACT rationals (k1 = 6/5,
    * b = 3/4): multiplying numerator and denominator by 10·avgdl turns
    * the tf component into pure integers —
    *   tfc = 22·tf·avgdl_milli / (10·tf·avgdl_milli + 3·avgdl_milli
    *         + 9000·dl)
    * where avgdl_milli = (1000·ΣT) div N is the milli-token average doc
    * length. idf is the log-free Robertson argument
    * (N − df + ½)/(df + ½) = (2(N−df)+1)/(2df+1), micro-scaled with floor
    * division. log is monotone, so PER-TERM document ranking is unchanged
    * and the score stays integer-exact across engines (a float BM25 sum
    * is addition-order-sensitive; the driver's hash gate would flake) —
    * but the final score SUMS idf·tfc across the query terms, and a sum
    * of raw odds-ratios is not a monotone transform of a sum of logs, so
    * the CROSS-TERM ranking is a log-free BM25 VARIANT, not
    * score-equivalent to canonical BM25: rare-term contributions are
    * amplified relative to log-idf (a deliberate trade — determinism over
    * canonical weighting; a fixed-point log table would restore it at the
    * cost of a 64-entry lookup per term).
    * The micro-scaling uses the overflow-safe split
    * (a div d)·10⁶ + ((a mod d)·10⁶) div d — exact. For the tf component
    * the split's headroom gain is modest: the operand (a mod d)·10⁶ is
    * bounded by den·10⁶ ≈ 10·tf·avgdl_milli·10⁶, the same order as the
    * direct product a·10⁶ = 22·tf·avgdl_milli·10⁶ (~2.2× smaller), so a
    * pathological doc (huge tf × huge avgdl) still needs
    * tf·avgdl_milli < ~9·10¹¹ to stay inside BIGINT — satisfied with wide
    * margin by real corpora (tf ≤ doc tokens ≈ 10⁶, avgdl_milli ≈ 10⁶
    * gives 10¹²·10⁶ ONLY if one doc held a million copies of one query
    * term at a million-token average; the engine would need a guard
    * column before that regime, noted here rather than papered over).
    * The split IS load-bearing for the per-term idf·tfc product:
    * (idf div 10⁶)·tfc + ((idf mod 10⁶)·tfc) div 10⁶ ≡ (idf·tfc) div 10⁶
    * exactly, with operands bounded by 2N·2.2·10⁶ — the direct product
    * would wrap at ~6M documents.
    *
    * Scale shape: tf (query terms only — a 3-term broadcast semi-filter
    * at the scan) joins dl (per-doc token counts, O(docs) metadata-sized)
    * on doc_id; df and the corpus stats are 1-row/3-row broadcasts. The
    * only data-sized exchange is the posting lists' doc_id grouping. */
  private val qBm25Search = QueryDef(
    "q_bm25_search",
    Some {
      val termList = searchTerms.map("'" + _ + "'").mkString(", ")
      s"""
      |WITH $tokSql,
      |dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM tok GROUP BY doc_id),
      |stats AS (SELECT
      |    (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_docs,
      |    CAST((CAST(sum(dl) AS BIGINT) * 1000) AS BIGINT) // (SELECT count(*) FROM documents) AS avgdl_milli
      |  FROM dl),
      |tf AS (SELECT doc_id, w AS term, CAST(count(*) AS BIGINT) AS tf FROM tok
      |  WHERE w IN ($termList) GROUP BY 1, 2),
      |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
      |parts AS (
      |  SELECT tf.doc_id,
      |    22 * tf.tf * s.avgdl_milli AS a,
      |    10 * tf.tf * s.avgdl_milli + 3 * s.avgdl_milli + 9000 * dl.dl AS den,
      |    CAST((2 * (s.n_docs - df.df) + 1) * 1000000 AS BIGINT) // (2 * df.df + 1) AS idf_micro
      |  FROM tf JOIN dl USING (doc_id) JOIN df USING (term), stats s),
      |scored AS (
      |  SELECT doc_id, CAST(sum(
      |      (idf_micro // 1000000) * tfc
      |        + ((idf_micro % 1000000) * tfc) // 1000000) AS BIGINT) AS score_micro
      |  FROM (SELECT doc_id, idf_micro,
      |      (a // den) * 1000000 + ((a % den) * 1000000) // den AS tfc
      |    FROM parts) GROUP BY doc_id)
      |SELECT doc_id, score_micro, CAST(score_micro AS DOUBLE) / 1e6 AS score
      |FROM scored ORDER BY score_micro DESC, doc_id LIMIT 20
      |""".stripMargin.trim
    },
    (spark, dir) => {
      val tok = toks(spark, dir)
      val dl = tok.groupBy("doc_id").agg(count(lit(1)).as("dl"))
      val stats = dl.agg(sum(col("dl")).as("t_tok"))
        .crossJoin(broadcast(
          tbl(spark, dir, "documents").agg(count(lit(1)).as("n_docs"))))
        .select(col("n_docs"),
          expr("(t_tok * 1000L) div n_docs").as("avgdl_milli"))
      val tf = tok.filter(col("w").isin(searchTerms: _*))
        .groupBy(col("doc_id"), col("w").as("term"))
        .agg(count(lit(1)).as("tf"))
      val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
      tf.join(dl, "doc_id")
        .join(broadcast(df), "term")
        .crossJoin(broadcast(stats))
        .select(col("doc_id"),
          expr("22L * tf * avgdl_milli").as("a"),
          expr("10L * tf * avgdl_milli + 3L * avgdl_milli + 9000L * dl")
            .as("den"),
          expr("((2L * (n_docs - df) + 1L) * 1000000L) div (2L * df + 1L)")
            .as("idf_micro"))
        .withColumn("tfc",
          expr("(a div den) * 1000000L + ((a % den) * 1000000L) div den"))
        .groupBy("doc_id")
        .agg(sum(expr(
          "(idf_micro div 1000000L) * tfc + ((idf_micro % 1000000L) * tfc) div 1000000L"))
          .as("score_micro"))
        .select(col("doc_id"), col("score_micro"),
          (col("score_micro").cast("double") / lit(1e6)).as("score"))
        .orderBy(desc("score_micro"), asc("doc_id"))
        .limit(20)
    })

  // ---------------------------------------------------------------------
  // INCREMENTAL BM25 / SEARCH-INDEX MAINTENANCE (round 18) — the
  // retrieval stack's index kept current against a mutating document
  // table: the persisted state is the classic search index (per-doc
  // lengths + term postings for the query vocabulary + the corpus count),
  // and every quantity BM25 needs is a SIGNED AGGREGATE of per-(doc,
  // text-version) contributions — so a CDC batch (deletes, appends, and
  // text-rewriting updates: the q_stream_lsh_ivm lifecycle) maintains
  // the index by tokenizing ONLY the net-changed versions (an update's
  // old text signs out, its new text signs in) and ⊕-merging: dl' =
  // dl ⊕ Σ w·len, tf' = tf ⊕ Σ w·tf, N' = N + Σ w; df/avgdl recompute
  // from the maintained frames. The maintained top-20 must equal the
  // cold BM25 over the final table state, integer-exact.
  // ---------------------------------------------------------------------

  private[graft] val bm25IvmRecipe: String =
    s"bm25ivm-v1:lc=3/5/7,terms=${searchTerms.mkString(",")}"

  private def bm25BuildState(
      spark: SparkSession, base: DataFrame)(r: String): Unit = {
    val tok = base
      .select(col("doc_id"), explode(split(col("text"), "\\s+")).as("w"))
      .filter(col("w") =!= "")
    tok.groupBy("doc_id").agg(count(lit(1)).as("dl"))
      .write.mode("overwrite").parquet(s"$r/dl")
    tok.filter(col("w").isin(searchTerms: _*))
      .groupBy(col("doc_id"), col("w").as("term"))
      .agg(count(lit(1)).as("tf"))
      .write.mode("overwrite").parquet(s"$r/tf")
    base.agg(count(lit(1)).as("n_docs"))
      .coalesce(1).write.mode("overwrite").parquet(s"$r/meta")
  }

  /** q_bm25_ivm's builder. `mark`: "p1", "delta",
    * "apply:n=<net changed (doc, version) rows>". */
  private[graft] def bm25IvmBuild(
      spark: SparkSession, dir: String,
      mark: String => Unit = _ => ()): DataFrame = {
    val docs = tbl(spark, dir, "documents").select(col("doc_id"), col("text"))
    val base = docs.filter(col("doc_id") % 3 =!= 0)
    val stateRoot = ArtifactStore.ensure(spark, dir, "documents",
      "bm25ivm_state", bm25IvmRecipe)(bm25BuildState(spark, base))
    val nBase = spark.read.parquet(s"$stateRoot/meta").head().getLong(0)
    mark("p1")

    // the CDC lifecycle: snapshot → DELETE → append → text-rewriting
    // UPDATE (the q_stream_lsh_ivm exhibit, batch feed)
    val (dN, dl1, tf1) = IvmWindow.run(spark, dir, "bm25ivm",
        "doc_id BIGINT, text STRING", retain = 6) { w =>
      w.append(base)                                                // gen 1
      spark.sql(s"DELETE FROM ${w.sql} WHERE doc_id % 5 = 2")       // gen 2
      w.append(docs.filter(col("doc_id") % 3 === 0))                // gen 3
      spark.sql(
        s"UPDATE ${w.sql} SET text = concat(text, ' upd42') WHERE doc_id % 7 = 4"
      )                                                             // gen 4
      val net = w.delta(Seq("doc_id", "text"), "w")     // (doc_id, text, w)
      mark("delta")

      // tokenize ONLY the net-changed versions, signed — Σw over a
      // version's tokens = w·len, so the groupBys below are the ⊕ deltas
      val ntok = net
        .select(col("doc_id"), col("w"),
          explode(split(col("text"), "\\s+")).as("tkn"))
        .filter(col("tkn") =!= "")
      val ddl = ntok.groupBy("doc_id").agg(sum(col("w")).as("ddl"))
      val dtf = ntok.filter(col("tkn").isin(searchTerms: _*))
        .groupBy(col("doc_id"), col("tkn").as("term"))
        .agg(sum(col("w")).as("dtf"))
      val nr = net.agg(coalesce(sum(col("w")), lit(0L)).as("dn"),
        count(lit(1)).as("n"),
        coalesce(sum(when(col("w") < 0, 1L).otherwise(0L)), lit(0L)).as("neg"))
        .head()
      val (dN, nApplied, nNeg) = (nr.getLong(0), nr.getLong(1), nr.getLong(2))
      mark(s"apply:n=$nApplied:neg=$nNeg")

      // the maintained index frames: the result reads them, so they are
      // truncated but not held by the window
      val dl = graft.Checkpoints.truncate(
        spark.read.parquet(s"$stateRoot/dl")
          .join(ddl, Seq("doc_id"), "full_outer")
          .select(col("doc_id"),
            (coalesce(col("dl"), lit(0L)) + coalesce(col("ddl"), lit(0L)))
              .as("dl"))
          .filter(col("dl") > 0))
      val tf = graft.Checkpoints.truncate(
        spark.read.parquet(s"$stateRoot/tf")
          .join(dtf, Seq("doc_id", "term"), "full_outer")
          .select(col("doc_id"), col("term"),
            (coalesce(col("tf"), lit(0L)) + coalesce(col("dtf"), lit(0L)))
              .as("tf"))
          .filter(col("tf") > 0))
      (dN, dl, tf)
    }
    val nDocs = nBase + dN
    val stats = dl1.agg(sum(col("dl")).as("t_tok"))
      .select(lit(nDocs).as("n_docs"),
        expr(s"(t_tok * 1000L) div ${nDocs}L").as("avgdl_milli"))
    val df = tf1.groupBy("term").agg(count(lit(1)).as("df"))
    // the cold q_bm25_search scoring block, verbatim, over the
    // MAINTAINED index frames
    tf1.join(dl1, "doc_id")
      .join(broadcast(df), "term")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"),
        expr("22L * tf * avgdl_milli").as("a"),
        expr("10L * tf * avgdl_milli + 3L * avgdl_milli + 9000L * dl")
          .as("den"),
        expr("((2L * (n_docs - df) + 1L) * 1000000L) div (2L * df + 1L)")
          .as("idf_micro"))
      .withColumn("tfc",
        expr("(a div den) * 1000000L + ((a % den) * 1000000L) div den"))
      .groupBy("doc_id")
      .agg(sum(expr(
        "(idf_micro div 1000000L) * tfc + ((idf_micro % 1000000L) * tfc) div 1000000L"))
        .as("score_micro"))
      .select(col("doc_id"), col("score_micro"),
        (col("score_micro").cast("double") / lit(1e6)).as("score"))
      .orderBy(desc("score_micro"), asc("doc_id"))
      .limit(20)
  }

  /** The maintained-BM25 gate: the oracle is cold q_bm25_search over the
    * final table state (the CDC lifecycle's `live` reconstruction — kept
    * docs, updated text), so the hash gate proves the ⊕-maintained
    * postings, lengths, document frequencies, and corpus stats land on
    * the full-recompute scores integer-exactly. */
  private val qBm25Ivm = QueryDef(
    "q_bm25_ivm",
    Some {
      val termList = searchTerms.map("'" + _ + "'").mkString(", ")
      s"""
      |WITH live AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 7 = 4 THEN concat(text, ' upd42') ELSE text END AS text
      |  FROM documents
      |  WHERE (doc_id % 3 <> 0 AND doc_id % 5 <> 2) OR doc_id % 3 = 0),
      |tok AS (SELECT doc_id, w FROM (
      |  SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS w FROM live)
      |  WHERE w <> ''),
      |dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM tok GROUP BY doc_id),
      |stats AS (SELECT
      |    (SELECT CAST(count(*) AS BIGINT) FROM live) AS n_docs,
      |    CAST((CAST(sum(dl) AS BIGINT) * 1000) AS BIGINT) // (SELECT count(*) FROM live) AS avgdl_milli
      |  FROM dl),
      |tf AS (SELECT doc_id, w AS term, CAST(count(*) AS BIGINT) AS tf FROM tok
      |  WHERE w IN ($termList) GROUP BY 1, 2),
      |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
      |parts AS (
      |  SELECT tf.doc_id,
      |    22 * tf.tf * s.avgdl_milli AS a,
      |    10 * tf.tf * s.avgdl_milli + 3 * s.avgdl_milli + 9000 * dl.dl AS den,
      |    CAST((2 * (s.n_docs - df.df) + 1) * 1000000 AS BIGINT) // (2 * df.df + 1) AS idf_micro
      |  FROM tf JOIN dl USING (doc_id) JOIN df USING (term), stats s),
      |scored AS (
      |  SELECT doc_id, CAST(sum(
      |      (idf_micro // 1000000) * tfc
      |        + ((idf_micro % 1000000) * tfc) // 1000000) AS BIGINT) AS score_micro
      |  FROM (SELECT doc_id, idf_micro,
      |      (a // den) * 1000000 + ((a % den) * 1000000) // den AS tfc
      |    FROM parts) GROUP BY doc_id)
      |SELECT doc_id, score_micro, CAST(score_micro AS DOUBLE) / 1e6 AS score
      |FROM scored ORDER BY score_micro DESC, doc_id LIMIT 20
      |""".stripMargin.trim
    },
    (spark, dir) => bm25IvmBuild(spark, dir))

  /** Quality-classifier INFERENCE — the fastText-shaped learned gate real
    * curation pipelines run next to the heuristic filters
    * (q_doc_quality/q_lm_score): a linear model over hashed word-bigram
    * features, trained in-plan against the corpus's own length gate
    * (token count ≥ 32, the same threshold q_pipeline_curate uses) and
    * applied as a broadcast map lookup.
    *
    * Integer-exact end to end: feature = hash60('qc|'+bigram) mod 4096;
    * weight_micro[f] = (2·df_good+1)·10⁶ div (df_all+1) − 10⁶ — the
    * log-free odds-ratio in [−10⁶, 10⁶], zero when half the feature's
    * documents pass the gate; logit = Σ weights of the doc's DISTINCT
    * features; score = logit div n_features (both engines truncate
    * toward zero).
    *
    * Scale shape — why this is the 100 TB plan: the per-doc projection
    * dedups features INSIDE the row (array_distinct — no (doc, feature)
    * exchange exists anywhere), so the training aggregate's exchange is
    * bounded by 4096·partitions, not by tokens; the trained table
    * collapses to a ONE-ROW map (≤4096 entries) that broadcasts; and
    * inference is a map-only projection over the corpus — the
    * higher-order `aggregate` sums map lookups inside whole-stage
    * codegen. The only corpus-wide data movement is the presentation
    * sort. */
  private val qQualityClassifier = QueryDef(
    "q_quality_classifier",
    Some {
      val h = PortableHash.sqlHash60("concat('qc|', ws[i], '_', ws[i+1])")
      s"""
      |WITH w0 AS (SELECT doc_id,
      |    list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS ws
      |  FROM documents),
      |fd AS (SELECT doc_id, len(ws) >= 32 AS good,
      |    CASE WHEN len(ws) < 2 THEN []
      |         ELSE list_distinct(list_transform(range(1, len(ws)),
      |           i -> $h % 4096)) END AS fs
      |  FROM w0),
      |ex AS (SELECT doc_id, good, u.f AS f FROM fd, unnest(fs) AS u(f)),
      |tr AS (SELECT f,
      |    CAST(((2 * count(*) FILTER (WHERE good) + 1) * 1000000)
      |      // (count(*) + 1) - 1000000 AS BIGINT) AS w
      |  FROM ex GROUP BY f),
      |sc AS (SELECT e.doc_id, CAST(count(*) AS BIGINT) AS n_feats,
      |    CAST(sum(t.w) AS BIGINT) AS logit_micro
      |  FROM ex e JOIN tr t ON t.f = e.f GROUP BY e.doc_id)
      |SELECT d.doc_id,
      |  CAST(coalesce(sc.n_feats, 0) AS BIGINT) AS n_feats,
      |  CAST(coalesce(sc.logit_micro, 0) AS BIGINT) AS logit_micro,
      |  CAST(CASE WHEN coalesce(sc.n_feats, 0) = 0 THEN 0
      |       ELSE sc.logit_micro // sc.n_feats END AS BIGINT) AS score_micro,
      |  CAST(CASE WHEN coalesce(sc.n_feats, 0) = 0 THEN 0
      |       ELSE sc.logit_micro // sc.n_feats END AS DOUBLE) / 1e6 AS score
      |FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id
      |ORDER BY d.doc_id
      |""".stripMargin.trim
    },
    (spark, dir) => {
      // widen: one md5 per bigram is CPU-bound per-row work above a
      // single-row-group scan (the Tables.widen remedy). The feature
      // frame is checkpoint-truncated (the Dedup.scala shared-frame
      // pattern, via the Checkpoints seam so reliable mode routes it with
      // the loops): it feeds BOTH the training branch and the inference
      // branch, and the training explode would otherwise re-evaluate the
      // whole hash projection inside the Generate — measured 13.4 s →
      // ~2 s at sf0.1 with the barrier. At 100 TB the same trade holds
      // (features ≪ text — the frame is (id, bool, int-array), ~1/10 the
      // corpus), or recompute if preferred.
      val fd0 = tblWide(spark, dir, "documents")
        .select(col("doc_id"),
          expr("filter(split(text, '\\\\s+'), x -> x != '')").as("ws"))
        .select(col("doc_id"), (size(col("ws")) >= 32).as("good"),
          expr("""CASE WHEN size(ws) < 2 THEN CAST(array() AS ARRAY<BIGINT>)
            ELSE array_distinct(transform(sequence(1, size(ws) - 1),
              i -> graft_hash60(concat('qc|', element_at(ws, i), '_',
                element_at(ws, i + 1))) % 4096L)) END""").as("fs"))
      val fd = graft.Checkpoints.truncate(fd0)
      // the trained table collapses to ONE row and is re-shaped into a
      // DENSE 4096-slot array indexed by feature id: `element_at` on a
      // MapType is a LINEAR scan of the entries per lookup (measured 17 s
      // at sf0.1 — O(features·4096) per doc), while array indexing is
      // O(1); the 4096 map probes below run ONCE, on the 1-row frame
      val wmap = fd
        .select(col("good"), explode(col("fs")).as("f"))
        .groupBy("f")
        .agg(count(lit(1)).as("df_all"),
          sum(when(col("good"), 1L).otherwise(0L)).as("df_good"))
        .select(col("f"),
          expr("((2L * df_good + 1L) * 1000000L) div (df_all + 1L) - 1000000L")
            .as("w"))
        .agg(map_from_entries(collect_list(struct(col("f"), col("w"))))
          .as("wm"))
        .select(expr(
          "transform(sequence(0L, 4095L), i -> coalesce(try_element_at(wm, i), 0L))")
          .as("wa"))
      fd.crossJoin(broadcast(wmap))
        .select(col("doc_id"), size(col("fs")).cast("long").as("n_feats"),
          expr("aggregate(fs, 0L, (acc, f) -> acc + element_at(wa, CAST(f + 1L AS INT)))")
            .as("logit_micro"))
        .select(col("doc_id"), col("n_feats"), col("logit_micro"),
          expr("CASE WHEN n_feats = 0 THEN 0L ELSE logit_micro div n_feats END")
            .as("score_micro"))
        .withColumn("score", col("score_micro").cast("double") / lit(1e6))
        .orderBy("doc_id")
    })

  /** Heavy hitters via sketch-prune + exact recount (the two-pass pattern
    * that replaces a full-vocabulary groupBy at scale):
    *
    * pass 1 — a Misra–Gries summary (k=2048, mergeable O(k) state; see
    * [[graft.functions.Aggregators.MisraGries]]) runs as ONE global
    * aggregation whose map-side partials ship ≤ k rows per partition —
    * no per-word shuffle at all;
    * pass 2 — tokens broadcast-semi-join the ≤ k candidates and only
    * those rows reach the exact count, so the second shuffle carries the
    * candidate subset instead of the whole vocabulary.
    *
    * The MG guarantee (every word with count > n/(k+1) is a candidate)
    * makes the exact top-20 provably equal to the oracle's full groupBy
    * whenever the true 20th count clears n/(k+1) — HeavyHittersSpec
    * asserts a ≥4× margin on this corpus. At 100 TB the vocabulary is
    * billions of keys; this plan's shuffles stay O(k · partitions). */
  private val qHeavyHitters = QueryDef(
    "q_heavy_hitters",
    Some(s"""
      |WITH $tokSql,
      |c AS (SELECT w AS word, count(*) AS n FROM tok GROUP BY w)
      |SELECT word, n FROM c ORDER BY n DESC, word DESC LIMIT 20
      |""".stripMargin.trim),
    (spark, dir) => {
      val mg = udaf(new Aggregators.MisraGries(2048))
      val words = toks(spark, dir).select(col("w"))
      val cands = words.agg(mg(col("w")).as("s"))
        .select(explode(col("s.words")).as("w"))
      words.join(broadcast(cands), "w")
        .groupBy(col("w").as("word"))
        .agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), desc("word"))
        .limit(20)
    })

  /** The k-min fingerprint AGAIN, over the native Rabin–Karp ROLLING hash
    * (graft.plans.RollingHashes, the 4th custom codegen expression):
    * each char-8 window hashes in O(1) from its predecessor instead of an
    * md5 digest per window, and because the whole hash array comes back
    * from ONE projection, the fingerprint needs ZERO shuffles — distinct,
    * sort and take-3 are array ops inside the same whole-stage-codegen
    * span (q_fingerprint's collect_set formulation pays a hash exchange).
    * The oracle mirrors the polynomial per window (Σ ord·B^k mod P —
    * equal to the mod-at-each-step rolling value), so parity is exact on
    * this ASCII corpus, where DuckDB's code points == our UTF-8 bytes.
    * The oracle also mirrors RollingHashes' TRUNCATED-WINDOW convention:
    * a doc shorter than one window hashes over its L = least(len, Len)
    * bytes with exponents B^(L-1-j) — the inner range() sums only the
    * positions that exist and the power is looked up by L-j, so short or
    * empty docs hash identically in both engines (ADVICE r05: the old
    * static 8-term expansion read past the string and kept B^(7-j)). */
  private val qFingerprintRolling = QueryDef(
    "q_fingerprint_rolling", {
      import graft.plans.{RollingHashes => RH}
      // powsAsc(e) = B^e for e = 0..Len-1; the window term for position j
      // in an L-byte window needs B^(L-1-j) = list_extract(powsAsc, L-j)
      val powsAsc = (0 until RH.Len)
        .scanLeft(1L)((v, _) => v * RH.B).take(RH.Len)
        .mkString("[", ", ", "]")
      val winLen = s"least(length(text), ${RH.Len})"
      val winHash =
        s"""CAST(coalesce(list_sum(list_transform(range(0, $winLen),
           |      j -> CAST(ord(substr(text, CAST(i + j AS INT), 1)) AS BIGINT)
           |           * list_extract($powsAsc, CAST($winLen - j AS INT)))), 0) AS BIGINT)""".stripMargin
      Some(s"""
      |WITH h AS (
      |  SELECT doc_id, unnest(list_transform(range(1, greatest(length(text) - ${RH.Len - 2}, 2)),
      |    i -> $winHash % ${RH.P})) AS hp
      |  FROM documents),
      |d AS (SELECT DISTINCT doc_id, hp FROM h),
      |r AS (SELECT doc_id, hp, row_number() OVER (PARTITION BY doc_id ORDER BY hp) AS rn FROM d)
      |SELECT doc_id,
      |  md5(concat_ws('|', max(CASE WHEN rn=1 THEN hp END), max(CASE WHEN rn=2 THEN hp END), max(CASE WHEN rn=3 THEN hp END))) AS fingerprint
      |FROM r WHERE rn <= 3 GROUP BY doc_id ORDER BY doc_id
      |""".stripMargin.trim)
    },
    (spark, dir) =>
      tblWide(spark, dir, "documents") // widen: CPU-bound per-row work
        .select(col("doc_id"),
          expr("slice(array_sort(array_distinct(rolling_hashes(text))), 1, 3)")
            .as("h3"))
        // concat_ws + try_element_at: same degenerate-doc convention as
        // q_fingerprint (NULL slots skipped identically in both engines)
        .select(col("doc_id"), md5(concat_ws("|",
          try_element_at(col("h3"), lit(1)).cast("string"),
          try_element_at(col("h3"), lit(2)).cast("string"),
          try_element_at(col("h3"), lit(3)).cast("string"))).as("fingerprint"))
        .orderBy("doc_id"))

  /** Dataset profiling — the pre-training data-quality audit every corpus
    * ingest runs first: per-column null rate, cardinality, bounds, and
    * length stats, computed in ONE aggregation pass over the table (every
    * stat is an aggregate over the same scan; no per-column jobs). The
    * wide-and-flat output (one row) keeps it a single map-side-partial
    * HashAggregate at any corpus size; distinct counts are the only
    * non-O(1)-state stats and would switch to approx_count_distinct at
    * 100 TB (exact here so the oracle can check values). */
  private val qProfile = QueryDef(
    "q_profile",
    Some("""
      |SELECT count(*) AS n_rows,
      |  count(DISTINCT doc_id) AS n_ids,
      |  count(DISTINCT lang) AS n_langs,
      |  CAST(count(*) FILTER (WHERE text IS NULL OR text = '') AS BIGINT) AS n_empty_text,
      |  CAST(min(length(text)) AS BIGINT) AS min_len,
      |  CAST(max(length(text)) AS BIGINT) AS max_len,
      |  CAST(sum(length(text)) AS BIGINT) AS total_chars,
      |  min(lang) AS lang_lo, max(lang) AS lang_hi
      |FROM documents
      |""".stripMargin.trim),
    (spark, dir) =>
      tbl(spark, dir, "documents")
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("doc_id")).as("n_ids"),
          countDistinct(col("lang")).as("n_langs"),
          count(when(col("text").isNull || col("text") === "", 1))
            .as("n_empty_text"),
          min(length(col("text"))).cast("long").as("min_len"),
          max(length(col("text"))).cast("long").as("max_len"),
          sum(length(col("text"))).cast("long").as("total_chars"),
          min(col("lang")).as("lang_lo"), max(col("lang")).as("lang_hi")))

  /** Data-quality CONSTRAINT SUITE (the Deequ/Great-Expectations shape):
    * named assertions over the warehouse tables with a violation count
    * and a pass verdict per constraint — uniqueness (o_orderkey),
    * completeness (o_orderdate), domain membership (o_orderstatus),
    * value ranges (l_quantity, l_discount), and two referential-integrity
    * checks (orders→customer, lineitem→orders). The suite output is the
    * long-format report a pipeline gate consumes.
    *
    * Scale shape: every single-table constraint for a table computes in
    * ONE map-side-partial aggregation pass over that table's scan (three
    * scans total for six constraints); the FK checks are key-keyed
    * anti-join counts — broadcast when the parent's key set fits, plain
    * shuffle joins otherwise (AQE sizes them; nothing pinned). Violation
    * counts instead of booleans so the report quantifies damage. */
  private val qDqChecks = QueryDef(
    "q_dq_checks",
    Some("""
      |WITH r AS (
      |  SELECT 'orders.orderkey_unique' AS cname, CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS n_violations FROM orders
      |  UNION ALL
      |  SELECT 'orders.orderdate_complete', CAST(count(*) FILTER (o_orderdate IS NULL) AS BIGINT) FROM orders
      |  UNION ALL
      |  SELECT 'orders.status_domain', CAST(count(*) FILTER (o_orderstatus NOT IN ('O', 'F', 'P')) AS BIGINT) FROM orders
      |  UNION ALL
      |  SELECT 'lineitem.quantity_range', CAST(count(*) FILTER (l_quantity < 1 OR l_quantity > 50) AS BIGINT) FROM lineitem
      |  UNION ALL
      |  SELECT 'lineitem.discount_range', CAST(count(*) FILTER (l_discount < 0 OR l_discount > 0.1) AS BIGINT) FROM lineitem
      |  UNION ALL
      |  SELECT 'orders.custkey_fk', CAST(count(*) AS BIGINT) FROM orders o
      |    WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
      |  UNION ALL
      |  SELECT 'lineitem.orderkey_fk', CAST(count(*) AS BIGINT) FROM lineitem l
      |    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
      |SELECT cname AS "constraint", n_violations,
      |  CAST(n_violations = 0 AS BIGINT) AS passed
      |FROM r ORDER BY cname
      |""".stripMargin.trim),
    (spark, dir) => {
      val orders = tbl(spark, dir, "orders")
      val lineitem = tbl(spark, dir, "lineitem")
      val customer = tbl(spark, dir, "customer")
      val ordersAgg = orders.agg(
        (count(lit(1)) - countDistinct(col("o_orderkey"))).cast("long")
          .as("uniq"),
        count(when(col("o_orderdate").isNull, 1)).cast("long").as("compl"),
        count(when(!col("o_orderstatus").isin("O", "F", "P"), 1))
          .cast("long").as("dom"))
      val liAgg = lineitem.agg(
        count(when(col("l_quantity") < 1 || col("l_quantity") > 50, 1))
          .cast("long").as("qty"),
        count(when(col("l_discount") < 0 || col("l_discount") > 0.1, 1))
          .cast("long").as("disc"))
      val fkCust = orders.select(col("o_custkey"))
        .join(customer.select(col("c_custkey")),
          col("o_custkey") === col("c_custkey"), "left_anti")
        .agg(count(lit(1)).as("n"))
      val fkOrd = lineitem.select(col("l_orderkey"))
        .join(orders.select(col("o_orderkey").as("ok2")),
          col("l_orderkey") === col("ok2"), "left_anti")
        .agg(count(lit(1)).as("n"))
      // each 1-row agg frame EXPLODES into its constraint rows instead of
      // feeding one union branch per constraint — a branch-per-constraint
      // union replays the table scan per branch (exchange reuse does not
      // cross union branches; the q_cooccur_pmi lesson), which would
      // contradict the one-pass-per-table claim above
      val rows =
        ordersAgg.select(explode(expr(
            """array(struct('orders.orderkey_unique' as constraint, uniq as n_violations),
               |      struct('orders.orderdate_complete' as constraint, compl as n_violations),
               |      struct('orders.status_domain' as constraint, dom as n_violations))""".stripMargin))
            .as("r"))
          .select(col("r.constraint"), col("r.n_violations"))
          .unionByName(liAgg.select(explode(expr(
            """array(struct('lineitem.quantity_range' as constraint, qty as n_violations),
               |      struct('lineitem.discount_range' as constraint, disc as n_violations))""".stripMargin))
            .as("r"))
            .select(col("r.constraint"), col("r.n_violations")))
          .unionByName(fkCust.select(
            lit("orders.custkey_fk").as("constraint"),
            col("n").as("n_violations")))
          .unionByName(fkOrd.select(
            lit("lineitem.orderkey_fk").as("constraint"),
            col("n").as("n_violations")))
      rows.select(col("constraint"), col("n_violations"),
          (col("n_violations") === 0L).cast("long").as("passed"))
        .orderBy("constraint")
    })

  /** Exact equi-width histogram over integer cents (decimal-exact in both
    * engines — no double binning drift): bucket = (cents - lo) * NB div
    * (hi - lo + 1). One stat pass (1-row broadcast) + one map-only bucket
    * projection + one grouped count — the profile-time distribution
    * sketch, exact at any scale because the state is O(buckets). */
  private val qHistogram = QueryDef(
    "q_histogram",
    Some("""
      |WITH c AS (
      |  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM orders),
      |b AS (SELECT min(cents) AS lo, max(cents) AS hi FROM c)
      |SELECT ((cents - lo) * 16) // (hi - lo + 1) AS bucket,
      |  count(*) AS n, CAST(min(cents) AS BIGINT) AS lo_cents,
      |  CAST(max(cents) AS BIGINT) AS hi_cents
      |FROM c, b GROUP BY bucket ORDER BY bucket
      |""".stripMargin.trim),
    (spark, dir) => {
      val cents = tbl(spark, dir, "orders")
        .select((dec("o_totalprice") * 100).cast("long").as("cents"))
      val bounds = cents.agg(min("cents").as("lo"), max("cents").as("hi"))
      cents.crossJoin(broadcast(bounds))
        .select(expr("((cents - lo) * 16) div (hi - lo + 1)").as("bucket"),
          col("cents"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"), min("cents").as("lo_cents"),
          max("cents").as("hi_cents"))
        .orderBy("bucket")
    })

  /** Equi-DEPTH histogram (the DB-statistics companion to
    * [[qHistogram]]'s equi-width buckets): 8 buckets holding ~equal row
    * counts, with boundaries derived from the exact interpolated
    * percentiles whose cross-engine parity q_percentiles already proves.
    * Bucket assignment is `Σ [cents > b_i]` over the 7 broadcast
    * boundaries — a map-only projection; integer cents vs double
    * boundary comparisons are IEEE-deterministic.
    *
    * Scale shape: one boundary aggregate (the exact-percentile cost —
    * the KLL sketch is the documented 100 TB swap-in), a 1-row broadcast
    * back, then a map-side-partial 8-group count. NOT ntile: a global
    * ntile is a single-partition window over the corpus — the exact trap
    * the distributed rank in q_sorted_neighborhood exists to avoid — and
    * its tie placement at bucket edges is row-order-dependent. */
  private val qHistogramEqdepth = QueryDef(
    "q_histogram_eqdepth",
    Some("""
      |WITH c AS (
      |  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM orders),
      |b AS (SELECT quantile_cont(cents, [0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875]) AS bs FROM c)
      |SELECT
      |  CAST((cents > bs[1]) AS BIGINT) + CAST((cents > bs[2]) AS BIGINT)
      |  + CAST((cents > bs[3]) AS BIGINT) + CAST((cents > bs[4]) AS BIGINT)
      |  + CAST((cents > bs[5]) AS BIGINT) + CAST((cents > bs[6]) AS BIGINT)
      |  + CAST((cents > bs[7]) AS BIGINT) AS bucket,
      |  CAST(count(*) AS BIGINT) AS n,
      |  min(cents) AS lo_cents, max(cents) AS hi_cents
      |FROM c, b GROUP BY 1 ORDER BY bucket
      |""".stripMargin.trim),
    (spark, dir) => {
      val cents = tbl(spark, dir, "orders")
        .select((dec("o_totalprice") * 100).cast("long").as("cents"))
      val bounds = cents.agg(expr(
        "percentile(cents, array(0.125D, 0.25D, 0.375D, 0.5D, 0.625D, 0.75D, 0.875D))")
        .as("bs"))
      cents.crossJoin(broadcast(bounds))
        .select(col("cents"),
          (1 to 7).map(i =>
            (col("cents") > element_at(col("bs"), i)).cast("long"))
            .reduce(_ + _).as("bucket"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"), min("cents").as("lo_cents"),
          max("cents").as("hi_cents"))
        .orderBy("bucket")
    })

  /** PII SCRUBBING — redact emails and phone numbers before a corpus
    * ships to training, with per-doc accounting. The synthetic corpus
    * carries no PII, so the harness INJECTS a deterministic, per-doc-
    * varying amount (doc_id%3 emails, doc_id%2 phone numbers appended)
    * and then scrubs it — the exhibit is the regex count + global
    * replacement machinery, value-pinned by an md5 of every redacted
    * document against DuckDB running the same injection + scrub (dialect
    * note: DuckDB's regexp_replace needs the 'g' flag for global; Spark
    * is global by default). Scale shape: pure per-row map work — no
    * shuffle except the final sort; at 100 TB this pipelines with the
    * scan and the regex cost is the whole cost. */
  private val qPiiScrub = {
    val email = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
    val phone = """[0-9]{3}-[0-9]{3}-[0-9]{4}"""
    QueryDef(
      "q_pii_scrub",
      Some(s"""
        |WITH aug AS (SELECT doc_id,
        |    text || repeat(' mail u@example.com', CAST(doc_id % 3 AS INT))
        |         || repeat(' call 555-123-4567', CAST(doc_id % 2 AS INT)) AS text
        |  FROM documents),
        |red AS (SELECT doc_id,
        |    length(regexp_extract_all(text, '$email')) AS n_emails,
        |    length(regexp_extract_all(text, '$phone')) AS n_phones,
        |    regexp_replace(regexp_replace(text, '$email', '<EMAIL>', 'g'),
        |      '$phone', '<PHONE>', 'g') AS r
        |  FROM aug)
        |SELECT doc_id, n_emails, n_phones, length(r) AS len_after,
        |  md5(r) AS sig
        |FROM red ORDER BY doc_id
        |""".stripMargin.trim),
      (spark, dir) => {
        val aug = tbl(spark, dir, "documents").select(col("doc_id"),
          concat(col("text"),
            expr("repeat(' mail u@example.com', CAST(doc_id % 3 AS INT))"),
            expr("repeat(' call 555-123-4567', CAST(doc_id % 2 AS INT))"))
            .as("text"))
        val red = aug.select(col("doc_id"),
          regexp_count(col("text"), lit(email)).as("n_emails"),
          regexp_count(col("text"), lit(phone)).as("n_phones"),
          regexp_replace(regexp_replace(col("text"), lit(email), lit("<EMAIL>")),
            lit(phone), lit("<PHONE>")).as("r"))
        red.select(col("doc_id"),
          col("n_emails").cast("long").as("n_emails"),
          col("n_phones").cast("long").as("n_phones"),
          length(col("r")).cast("long").as("len_after"),
          md5(col("r")).as("sig"))
          .orderBy("doc_id")
      })
  }

  /** REPETITION FILTER (the Gopher/MassiveText-style repetition gate —
    * the quality dimension q_doc_quality does NOT measure): per document,
    * the duplicate-word fraction (1 − distinct/total) and the top-word
    * fraction (most frequent word's share), plus the keep/drop decision a
    * curation pipeline makes on them. Degenerate machine-generated text
    * (boilerplate loops, keyword stuffing, decode glitches) scores high
    * on exactly these two axes while passing length/stopword gates.
    *
    * Plan shape: MAP-ONLY — no explode, no shuffle, not even a doc_id
    * grouping. The whole computation is codegen'd array HOFs on the text
    * column: `array_distinct` (first-occurrence semantics) for the
    * distinct count and `aggregate` over `array_sort`ed words for the top
    * frequency (max equal-run in sorted order = max per-word count),
    * O(n log n) per doc with O(1) accumulator state. At 100 TB this runs
    * at scan speed with zero exchange — the contrast to the relational
    * tokenize→group→group shape (two shuffles) is the point, and the
    * oracle reconstructs the same numbers relationally in DuckDB. */
  private val qRepetitionFilter = QueryDef(
    "q_repetition_filter",
    Some(s"""
      |WITH $tokSql,
      |freq AS (SELECT doc_id, w, count(*) AS c FROM tok GROUP BY doc_id, w),
      |per AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
      |    CAST(count(*) AS BIGINT) AS n_distinct,
      |    CAST(max(c) AS BIGINT) AS top_count
      |  FROM freq GROUP BY doc_id)
      |SELECT doc_id, n_words, n_distinct, top_count,
      |  CAST(1 AS DOUBLE) - CAST(n_distinct AS DOUBLE) / n_words AS dup_ratio,
      |  CAST(top_count AS DOUBLE) / n_words AS top_ratio,
      |  CAST((CAST(1 AS DOUBLE) - CAST(n_distinct AS DOUBLE) / n_words) <= 0.55
      |    AND CAST(top_count AS DOUBLE) / n_words <= 0.12 AS INT) AS keep
      |FROM per ORDER BY doc_id
      |""".stripMargin.trim),
    (spark, dir) => {
      val words = filter(split(col("text"), "\\s+"), w => w =!= "")
      // max equal-run over the sorted words == max per-word frequency;
      // the accumulator carries (prev word, current run, best run)
      val top = aggregate(
        array_sort(words),
        struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
        (acc, x) => {
          val run = when(x === acc.getField("prev"),
            acc.getField("run") + lit(1L)).otherwise(lit(1L))
          struct(x.as("prev"), run.as("run"),
            greatest(acc.getField("best"), run).as("best"))
        },
        acc => acc.getField("best"))
      val nWords = size(words).cast("long")
      val nDistinct = size(array_distinct(words)).cast("long")
      val dupRatio = lit(1.0d) - nDistinct.cast("double") / nWords
      val topRatio = col("top_count").cast("double") / col("n_words")
      tbl(spark, dir, "documents")
        .select(col("doc_id"), nWords.as("n_words"),
          nDistinct.as("n_distinct"), top.as("top_count"),
          dupRatio.as("dup_ratio"))
        .select(col("*"), topRatio.as("top_ratio"))
        .select(col("*"),
          (col("dup_ratio") <= 0.55 && col("top_ratio") <= 0.12)
            .cast("int").as("keep"))
        .orderBy("doc_id")
    })

  /** Cross-document n-gram duplication profile — the distributed proxy
    * for exact-substring dedup (Lee et al. 2022 build suffix arrays; the
    * cluster-practical version fingerprints fixed-width token windows):
    * for every document, what fraction of its word-3-gram OCCURRENCES
    * also appears in at least one OTHER document? High-dup docs are
    * boilerplate/templated content a curation pass down-weights;
    * q_repetition_filter is the WITHIN-doc twin of this cross-doc
    * measure. Gram width 3 is corpus-tuned: this vocabulary gives a
    * ~64% corpus dup fraction with real per-doc variance (width 2
    * saturates at ~1.0, width 5 thins to ~0.09).
    *
    * Scale shape: grams are materialized as 60-bit md5 hashes (never the
    * strings — the shuffle carries 8 bytes per occurrence, same
    * discipline as the MinHash shingles), built in one scan by a
    * transform-over-sequence projection (no intermediate explode of
    * token positions). The rollup is TAIL-INVERTED (round 11; the first
    * cut joined the per-gram doc frequency back onto every occurrence,
    * and the 30× harness measured 42× shuffle bytes for 30× data once
    * the frequency frame outgrew its broadcast): a doc's total gram
    * count needs no join at all (`size(ws) − W + 1`, map-only), and its
    * DUPLICATED count is total − unique, where a df=1 gram's single
    * holder is recoverable from the gram aggregate itself
    * (min(doc_id) = the holder when n_docs = 1). So the plan is two
    * linear aggregates — (doc, gh, c) with map-side collapse of
    * within-doc repeats, then (gh → df, holder, occ) — followed by a
    * per-doc rollup over ONLY the df=1 rows and an O(docs) join. The
    * duplication tail now works FOR the plan: the heavier a boilerplate
    * gram, the more map-side collapse upstream and the fewer rows
    * downstream (a corpus-wide gram is one aggregate row and zero
    * rollup rows — never a hot partition, never re-joined). */
  private val NGramW = 3

  private val qCrossdocNgrams = QueryDef(
    "q_crossdoc_ngrams",
    Some(s"""
      |WITH ws AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(text, '\\s+'), w -> w <> '') AS ws
      |  FROM documents),
      |grams AS (
      |  SELECT doc_id, ${PortableHash.sqlHash60("g")} AS gh FROM (
      |    SELECT doc_id, unnest(list_transform(range(1, len(ws) - ${NGramW - 2}),
      |      i -> array_to_string(list_slice(ws, i, i + ${NGramW - 1}), ' '))) AS g
      |    FROM ws WHERE len(ws) >= $NGramW)),
      |gd AS (SELECT gh, count(DISTINCT doc_id) AS n_docs FROM grams GROUP BY gh)
      |SELECT g.doc_id, count(*) AS n_grams,
      |  CAST(count(*) FILTER (WHERE gd.n_docs >= 2) AS BIGINT) AS n_dup,
      |  CAST(count(*) FILTER (WHERE gd.n_docs >= 2) AS DOUBLE) / count(*) AS dup_frac
      |FROM grams g JOIN gd USING (gh)
      |GROUP BY g.doc_id ORDER BY g.doc_id
      |""".stripMargin.trim),
    (spark, dir) => {
      val docs = tblWide(spark, dir, "documents")
        .select(col("doc_id"),
          expr("filter(split(text, '\\\\s+'), w -> w <> '')").as("ws"))
        .filter(size(col("ws")) >= NGramW)
      val grams = docs
        .select(col("doc_id"), explode(expr(
          s"transform(sequence(1, size(ws) - ${NGramW - 1}), " +
            s"i -> concat_ws(' ', slice(ws, i, $NGramW)))")).as("g"))
        .select(col("doc_id"), PortableHash.hash60(col("g")).as("gh"))
      // (doc, gram) occurrence counts: a doc's grams never span input
      // partitions, so within-doc repeats collapse map-side and the
      // exchange carries ~distinct (doc, gh) rows
      val docGrams = grams.groupBy("doc_id", "gh")
        .agg(count(lit(1)).as("c"))
      // per-gram rollup; only df=1 rows survive, and for those the
      // single holder doc IS min(doc_id) and its count IS sum(c)
      val uniq = docGrams.groupBy("gh")
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("holder"),
          sum(col("c")).as("occ"))
        .filter(col("n_docs") === 1)
        .groupBy(col("holder").as("doc_id"))
        .agg(sum(col("occ")).as("n_uniq"))
      // n_grams is pure per-row arithmetic; n_dup = total − unique
      docs.select(col("doc_id"),
          (size(col("ws")) - (NGramW - 1)).cast("long").as("n_grams"))
        .join(uniq, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_grams"),
          (col("n_grams") - coalesce(col("n_uniq"), lit(0L))).as("n_dup"))
        .select(col("doc_id"), col("n_grams"), col("n_dup"),
          (col("n_dup").cast("double") / col("n_grams")).as("dup_frac"))
        .orderBy("doc_id")
    })

  /** Sequence packing — the training-batch construction step: documents
    * are concatenated into fixed-token-budget training sequences
    * ("packs") so the context window wastes nothing on padding. True
    * greedy packing (close a pack when the next doc would overflow) is
    * inherently sequential; the distributed form used here assigns doc d
    * to pack `cumsum_tokens_before(d) div B` — contiguous packing by
    * cumulative token count, which over-fills a pack by at most the one
    * document that straddles its boundary and never under-fills
    * (utilization ≥ 1 − max_doc/B per pack, with exact integer
    * arithmetic both engines agree on). Packing is per-language
    * (training streams are language-segregated) and SHARD-LOCAL: the
    * window key is (lang, shard) with shard = q_shard_export's
    * deterministic 16-way hash assignment, ordered by doc_id within the
    * shard — deterministic and reproducible, the same never-RAND()
    * discipline as the split/sample stages, and the same shards the
    * export actually writes, so a pack never spans shard files a
    * training loader reads independently. Pack ids are SALTED BY SHARD
    * (shard · 2⁴⁰ + local pack index — exact in BIGINT: before ≤ corpus
    * tokens « 2⁴⁰ per shard at any real scale, checked by the budget
    * math), so ids are globally unique without any cross-shard
    * coordination.
    *
    * Scale shape: this is the fix for the one single-task-at-scale plan
    * the engine used to have — a per-LANGUAGE unbounded window puts a
    * dominant language's entire stream through one window task; keying
    * the window by (lang, shard) bounds every window partition at
    * ~1/16th of a language (and the shard count is one constant at
    * 100 TB), while the hash assignment keeps each shard's token mass
    * balanced by construction. One window shuffle on (lang, shard),
    * map-side-partial final agg. */
  private val PackBudget = 512L // tokens per training sequence
  private val PackSalt = 1L << 40 // shard salt: local pack index < 2^40

  private val qSeqPacking = QueryDef(
    "q_seq_packing",
    Some(s"""
      |WITH $tokSql,
      |tc AS (SELECT doc_id, count(*) AS n_tok FROM tok GROUP BY doc_id),
      |sh AS (SELECT d.lang, d.doc_id, tc.n_tok,
      |    ${PortableHash.sqlHash60(77, "CAST(d.doc_id AS VARCHAR)")} % 16 AS shard
      |  FROM documents d JOIN tc ON tc.doc_id = d.doc_id),
      |c AS (SELECT lang, shard, doc_id, n_tok,
      |    sum(n_tok) OVER (PARTITION BY lang, shard ORDER BY doc_id
      |      ROWS UNBOUNDED PRECEDING) - n_tok AS before
      |  FROM sh),
      |packed AS (SELECT lang, shard, doc_id, n_tok,
      |  CAST(shard * $PackSalt + (before // $PackBudget) AS BIGINT) AS pack_id
      |  FROM c)
      |SELECT lang, CAST(shard AS BIGINT) AS shard, pack_id,
      |  count(*) AS n_docs,
      |  CAST(sum(n_tok) AS BIGINT) AS sum_tokens,
      |  CAST(min(doc_id) AS BIGINT) AS first_doc
      |FROM packed GROUP BY lang, shard, pack_id ORDER BY lang, pack_id
      |""".stripMargin.trim),
    (spark, dir) => {
      val tc = toks(spark, dir).groupBy("doc_id")
        .agg(count(lit(1)).as("n_tok"))
      val w = Window.partitionBy("lang", "shard").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      tbl(spark, dir, "documents").select("doc_id", "lang")
        .withColumn("shard",
          PortableHash.hash60(77, col("doc_id").cast("string")) % 16)
        .join(tc, "doc_id")
        .withColumn("before", sum(col("n_tok")).over(w) - col("n_tok"))
        .withColumn("pack_id",
          expr(s"shard * $PackSalt + (before div $PackBudget)"))
        .groupBy("lang", "shard", "pack_id")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("sum_tokens"),
          min(col("doc_id")).as("first_doc"))
        .orderBy("lang", "pack_id")
    })

  /** Per-source characteristic terms — TF-IDF's ranking semantics with
    * NO floats anywhere: terms rank by (source term frequency DESC,
    * corpus document frequency ASC, term ASC), the exact order
    * tf·log(N/df) induces when tf dominates, expressed purely over
    * integers so the oracle gate is bit-exact by construction rather
    * than quantization (the q_multimodal_features lesson). Top-3 per
    * source.
    *
    * Scale shape: tf aggregates in the SAME pass as tokenization
    * (source rides the scan — no doc join), df is a second term-keyed
    * aggregation, and the only join is term-keyed M:1 onto the compact
    * df frame; the per-source window runs over ≤ |vocab| rows per
    * source. At 100 TB both aggregations are map-side partial first —
    * the heavy-tail term skew lands on the df agg, which is exactly the
    * salted-agg shape (q_salted_agg) if a term ever hot-spots. */
  private val qTopTerms = QueryDef(
    "q_top_terms",
    Some(s"""
      |WITH $tokSql,
      |df AS (SELECT w, count(DISTINCT doc_id) AS df FROM tok GROUP BY w),
      |st AS (SELECT source, w, count(*) AS tf FROM (
      |    SELECT d.source, unnest(string_split_regex(d.text, '\\s+')) AS w
      |    FROM documents d)
      |  WHERE w <> '' GROUP BY source, w),
      |r AS (SELECT st.source, st.w, st.tf, df.df,
      |    row_number() OVER (PARTITION BY st.source
      |      ORDER BY st.tf DESC, df.df ASC, st.w ASC) AS rk
      |  FROM st JOIN df USING (w))
      |SELECT source, w AS term, CAST(tf AS BIGINT) AS tf,
      |  CAST(df AS BIGINT) AS df, CAST(rk AS INTEGER) AS rk
      |FROM r WHERE rk <= 3 ORDER BY source, rk
      |""".stripMargin.trim),
    (spark, dir) => {
      val tokS = tbl(spark, dir, "documents")
        .select(col("source"), col("doc_id"),
          explode(split(col("text"), "\\s+")).as("w"))
        .filter(col("w") =!= "")
      val df = tokS.groupBy("w")
        .agg(countDistinct(col("doc_id")).as("df"))
      val st = tokS.groupBy("source", "w").agg(count(lit(1)).as("tf"))
      val rk = row_number().over(Window.partitionBy("source")
        .orderBy(col("tf").desc, col("df").asc, col("w").asc))
      st.join(df, "w")
        .withColumn("rk", rk)
        .filter(col("rk") <= 3)
        .select(col("source"), col("w").as("term"), col("tf"), col("df"),
          col("rk"))
        .orderBy("source", "rk")
    })

  /** Domain mixture reweighting — the data-mixing step every multi-source
    * training corpus needs: allocate a global token budget (half the
    * corpus here) across sources by SQRT-PROPORTIONAL weighting (the
    * standard temperature-style rebalancing that upweights small domains
    * without letting a huge one dominate). All arithmetic is exact:
    * token counts are integers, floor(sqrt(bigint)) is the correctly
    * rounded IEEE sqrt of an exactly representable integer (identical in
    * every engine), and the quota split is overflow-safe integer
    * division (quotient-plus-remainder decomposition, never a
    * budget×weight product) — so the
    * allocation is bit-reproducible, which a production pipeline needs
    * to make reshuffled reruns emit the same mixture.
    *
    * Scale shape: one tokenize+agg pass keyed by source (map-side
    * partial), a 1-row total frame broadcast back — the corpus is read
    * once and nothing but the per-source summary ever moves. */
  private val qDomainMix = QueryDef(
    "q_domain_mix",
    Some("""
      |WITH src AS (
      |  SELECT source, count(DISTINCT doc_id) AS n_docs,
      |    CAST(count(*) AS BIGINT) AS n_tokens,
      |    CAST(floor(sqrt(count(*))) AS BIGINT) AS sqrt_w
      |  FROM (SELECT doc_id, source,
      |          unnest(string_split_regex(text, '\s+')) AS w FROM documents)
      |  WHERE w <> '' GROUP BY source),
      |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total,
      |    CAST(sum(sqrt_w) AS BIGINT) AS sw FROM src),
      |q AS (SELECT source, n_docs, n_tokens, sqrt_w,
      |    CAST(sqrt_w * ((tot.total // 2) // tot.sw)
      |      + (sqrt_w * ((tot.total // 2) % tot.sw)) // tot.sw
      |      AS BIGINT) AS quota_tokens
      |  FROM src CROSS JOIN tot)
      |SELECT source, n_docs, n_tokens, sqrt_w, quota_tokens,
      |  CAST((quota_tokens * 100) // n_tokens AS BIGINT) AS pct_of_source
      |FROM q ORDER BY source
      |""".stripMargin.trim),
    (spark, dir) => {
      val src = tbl(spark, dir, "documents")
        .select(col("source"), col("doc_id"),
          explode(split(col("text"), "\\s+")).as("w"))
        .filter(col("w") =!= "")
        .groupBy("source")
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_tokens"))
        .withColumn("sqrt_w", expr("CAST(floor(sqrt(n_tokens)) AS BIGINT)"))
      val tot = src.agg(sum(col("n_tokens")).as("total"),
        sum(col("sqrt_w")).as("sw"))
      src.crossJoin(broadcast(tot))
        .withColumn("quota_tokens",
          // ⌊B·s/S⌋ = s·⌊B/S⌋ + ⌊s·(B mod S)/S⌋ exactly — the direct
          // (B div 2)·s product overflows BIGINT at the 100 TB corpus
          // this query's reproducibility claim covers (B ~ 1e13 tokens ×
          // s ~ 4.5e6), while s·(B mod S) is bounded by s·S (< 1e14)
          expr("sqrt_w * ((total div 2) div sw)" +
            " + (sqrt_w * ((total div 2) % sw)) div sw"))
        .withColumn("pct_of_source",
          expr("(quota_tokens * 100) div n_tokens"))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          col("sqrt_w"), col("quota_tokens"), col("pct_of_source"))
        .orderBy("source")
    })

  /** Language-model-style quality scoring (the CCNet/KenLM filtering
    * step's shape) with NO floats: the corpus's own top-16 tokens form a
    * ranked vocabulary (deliberately smaller than this corpus's ~31-word
    * vocabulary so the OOV path carries signal), and each document scores by its out-of-vocabulary
    * per-mille and the mean frequency-rank of its in-vocabulary tokens
    * (per-mille, integer `div`). A document full of common tokens scores
    * low mean-rank/low OOV — the same ordering a unigram LM's perplexity
    * induces, computed in exactly reproducible integer arithmetic
    * (a real deployment swaps the rank table for its KenLM scores; the
    * Spark shape — broadcast vocabulary, single doc-keyed aggregation —
    * is identical).
    *
    * Scale shape: the vocabulary is a bounded TakeOrdered broadcast; the
    * corpus pays one tokenize pass and one doc-keyed aggregation (the
    * corpus is laid out by doc, so the agg is scan-local) — linear,
    * no term-keyed shuffle of the token stream. */
  private val qLmScore = QueryDef(
    "q_lm_score",
    Some(s"""
      |WITH $tokSql,
      |vc AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
      |vocab AS (
      |  SELECT w, CAST(row_number() OVER (ORDER BY c DESC, w) AS BIGINT) AS rnk
      |  FROM vc QUALIFY rnk <= 16),
      |per AS (
      |  SELECT t.doc_id, count(*) AS n_tok,
      |    count(*) FILTER (WHERE v.w IS NULL) AS n_oov,
      |    coalesce(sum(v.rnk), 0) AS sum_rank,
      |    count(*) FILTER (WHERE v.w IS NOT NULL) AS n_in
      |  FROM tok t LEFT JOIN vocab v USING (w) GROUP BY t.doc_id)
      |SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
      |  CAST(n_oov AS BIGINT) AS n_oov,
      |  CAST((n_oov * 1000) // n_tok AS BIGINT) AS oov_permille,
      |  CAST((sum_rank * 1000) // greatest(n_in, 1) AS BIGINT) AS mean_rank_milli
      |FROM per ORDER BY doc_id
      |""".stripMargin.trim),
    (spark, dir) => {
      val tok = toks(spark, dir)
      val wv = Window.orderBy(desc("c"), asc("w"))
      val vocab = tok.groupBy("w").agg(count(lit(1)).as("c"))
        .orderBy(desc("c"), asc("w")).limit(16)
        .select(col("w"), row_number().over(wv).cast("long").as("rnk"))
      tok.join(broadcast(vocab), Seq("w"), "left_outer")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tok"),
          count(when(col("rnk").isNull, lit(1))).as("n_oov"),
          coalesce(sum(col("rnk")), lit(0L)).as("sum_rank"),
          count(col("rnk")).as("n_in"))
        .select(col("doc_id"), col("n_tok"), col("n_oov"),
          expr("(n_oov * 1000) div n_tok").as("oov_permille"),
          expr("(sum_rank * 1000) div greatest(n_in, 1)").as("mean_rank_milli"))
        .orderBy("doc_id")
    })

  /** Count-based bigram language model — the LM-building job that is to
    * this engine what word count is to the reference: per-context
    * next-word counts, integer-scaled conditional probabilities
    * (p_micro = c(w1,w2)·1e6 div Σ_w c(w1,w)), and the top-3
    * continuations per context under a float-free ordering (count desc,
    * word asc). The denominators are the CONTEXT occurrences (row sums
    * of the bigram matrix), so each context's distribution sums to ~1e6
    * by construction.
    *
    * Scale shape: bigram generation is a map-only array zip inside the
    * scan partition (no posexplode self-join, no window over the token
    * stream); the (w1, w2) count is the canonical map-side-partial LM
    * count job; everything after operates on vocab²-bounded frames. At
    * 100 TB this is exactly the n-gram-count MapReduce pipeline
    * (Brants et al., large LM training) in one declarative plan. */
  private val qNgramLm = QueryDef(
    "q_ngram_lm",
    Some("""
      |WITH arr AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS a
      |  FROM documents),
      |bi AS (
      |  SELECT a[i] AS w1, a[i + 1] AS w2
      |  FROM arr, unnest(range(1, len(a))) AS t(i)),
      |c2 AS (SELECT w1, w2, count(*) AS c FROM bi GROUP BY w1, w2),
      |c1 AS (SELECT w1, CAST(sum(c) AS BIGINT) AS n FROM c2 GROUP BY w1),
      |r AS (
      |  SELECT c2.w1, c2.w2, c2.c, c1.n,
      |    row_number() OVER (PARTITION BY c2.w1
      |      ORDER BY c2.c DESC, c2.w2 ASC) AS rk
      |  FROM c2 JOIN c1 USING (w1))
      |SELECT w1 AS context, w2 AS next_word, CAST(c AS BIGINT) AS c_bigram,
      |  n AS c_context, CAST(rk AS INTEGER) AS rk,
      |  CAST((c * 1000000) // n AS BIGINT) AS p_micro
      |FROM r WHERE rk <= 3 ORDER BY context, rk
      |""".stripMargin.trim),
    (spark, dir) => {
      val bi = tbl(spark, dir, "documents")
        .select(expr("filter(split(text, '\\\\s+'), x -> x != '')").as("a"))
        .select(
          expr("slice(a, 1, greatest(size(a) - 1, 0))").as("l"),
          expr("slice(a, 2, greatest(size(a) - 1, 0))").as("r"))
        .select(explode(arrays_zip(col("l"), col("r"))).as("p"))
        .select(col("p.l").as("w1"), col("p.r").as("w2"))
      val c2 = bi.groupBy("w1", "w2").agg(count(lit(1)).as("c"))
      val c1 = c2.groupBy("w1").agg(sum(col("c")).as("n"))
      val w = Window.partitionBy("w1").orderBy(desc("c"), asc("w2"))
      c2.join(c1, "w1")
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("w1").as("context"), col("w2").as("next_word"),
          col("c").as("c_bigram"), col("n").as("c_context"), col("rk"),
          expr("(c * 1000000) div n").as("p_micro"))
        .orderBy("context", "rk")
    })

  /** Span-level exact-substring dedup accounting — the "remove duplicated
    * 50-token spans" job of Lee et al. (Deduplicating Training Data Makes
    * Language Models Better, 2022), at window k=8 for this corpus: every
    * k-token window is keyed by the md5 of its separator-joined tokens, a
    * GLOBAL keep-first order (doc_id, position) marks every later
    * occurrence of a repeated window as a duplicate span, and the per-doc
    * result is exact token-position coverage (distinct positions under
    * any flagged window), i.e. precisely how many tokens span-trimming
    * would cut from each document.
    *
    * Scale shape: window generation is a map-only `transform` over the
    * token array inside the scan partition (one row per window, no
    * self-join); the ONLY corpus-sized shuffle is the window rank by gram
    * key — the same single exchange an exact-dedup groupBy pays, carrying
    * (digest, doc, pos). The digest is the md5 packed to its 16 raw bytes
    * (`unhex`), not the 32-char hex string: equal md5 ⟺ equal binary, so
    * the ranking — and the oracle's hex form — are unchanged, and the
    * exchange shrinks (SCALE.md §57: 1.02 → 0.71 MB at sf0.01). Coverage
    * is doc-local (the flagged windows shuffle back on doc_id — a frame
    * bounded by the duplicated tail, not the corpus). Production at
    * 100 TB would feed `dup_tokens > 0` docs to a rewrite pass; the
    * dataflow is identical. */
  private val qSpanDedup = QueryDef(
    "q_span_dedup",
    Some("""
      |WITH arr AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS a
      |  FROM documents),
      |win AS (
      |  SELECT doc_id, i, md5(array_to_string(a[i:i+7], chr(31))) AS g
      |  FROM arr, unnest(range(1, len(a) - 6)) AS t(i)),
      |rk AS (
      |  SELECT doc_id, i,
      |    row_number() OVER (PARTITION BY g ORDER BY doc_id, i) AS rk
      |  FROM win),
      |dup AS (SELECT doc_id, i FROM rk WHERE rk > 1),
      |dw AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dup_windows
      |  FROM dup GROUP BY doc_id),
      |cov AS (
      |  SELECT doc_id, CAST(count(DISTINCT p) AS BIGINT) AS dup_tokens
      |  FROM dup, unnest(range(i, i + 8)) AS u(p) GROUP BY doc_id),
      |base AS (
      |  SELECT doc_id, CAST(len(a) AS BIGINT) AS n_tok,
      |    CAST(greatest(len(a) - 7, 0) AS BIGINT) AS n_windows
      |  FROM arr)
      |SELECT b.doc_id, b.n_tok, b.n_windows,
      |  coalesce(dw.dup_windows, 0) AS dup_windows,
      |  coalesce(cov.dup_tokens, 0) AS dup_tokens,
      |  CASE WHEN b.n_tok = 0 THEN 0
      |    ELSE CAST((coalesce(cov.dup_tokens, 0) * 100) // b.n_tok AS BIGINT)
      |  END AS dup_pct
      |FROM base b
      |LEFT JOIN dw ON dw.doc_id = b.doc_id
      |LEFT JOIN cov ON cov.doc_id = b.doc_id
      |ORDER BY b.doc_id
      |""".stripMargin.trim),
    (spark, dir) => {
      val arr = tbl(spark, dir, "documents")
        .select(col("doc_id"),
          expr("filter(split(text, '\\\\s+'), x -> x != '')").as("a"))
      // slice(sequence(1, max(n,1)), 1, max(n,0)) is an always-ascending
      // index range that degrades to empty below one window (sequence(1,0)
      // would count DOWN and fabricate windows on 7-token docs).
      val win = arr
        .select(col("doc_id"), explode(expr(
          """transform(
             |  slice(sequence(1, greatest(size(a) - 7, 1)),
             |        1, greatest(size(a) - 7, 0)),
             |  i -> struct(i as i,
             |    unhex(md5(array_join(slice(a, i, 8), chr(31)))) as g))""".stripMargin
        )).as("w"))
        .select(col("doc_id"), col("w.i").as("i"), col("w.g").as("g"))
      val dup = win
        .withColumn("rk",
          row_number().over(Window.partitionBy("g").orderBy("doc_id", "i")))
        .filter(col("rk") > 1)
        .select("doc_id", "i")
      val dw = dup.groupBy("doc_id").agg(count(lit(1)).as("dup_windows"))
      val cov = dup
        .select(col("doc_id"), explode(expr("sequence(i, i + 7)")).as("p"))
        .groupBy("doc_id").agg(countDistinct(col("p")).as("dup_tokens"))
      arr
        .select(col("doc_id"), size(col("a")).cast("long").as("n_tok"),
          expr("CAST(greatest(size(a) - 7, 0) AS BIGINT)").as("n_windows"))
        .join(dw, Seq("doc_id"), "left")
        .join(cov, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tok"), col("n_windows"),
          coalesce(col("dup_windows"), lit(0L)).as("dup_windows"),
          coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
          expr("CASE WHEN n_tok = 0 THEN 0L " +
            "ELSE (coalesce(dup_tokens, 0L) * 100) div n_tok END").as("dup_pct"))
        .orderBy("doc_id")
    })

  /** Skip-gram co-occurrence counts + float-free PMI-style association —
    * the GloVe/word2vec preprocessing job: unordered token pairs within
    * distance ≤ 2, endpoint marginals, and an integer lift score
    * lift_micro = ((c_xy·1e6) div c_x · n_pairs) div c_y — the
    * p(x,y)/(p(x)p(y)) ratio under two explicit floor divisions, so both
    * engines compute bit-identical values and no intermediate exceeds
    * 1e6·n_pairs (BIGINT-safe past 10^12 pairs, where the naive
    * c_xy·n_pairs·1e6 product overflows).
    *
    * Scale shape: pair generation is two map-only array zips (distance 1
    * and 2) — no doc-local self-join, no window over the token stream —
    * and the corpus is read ONCE: the (w1,w2) count `c` is the only
    * corpus-sized aggregate (map-side partial), and both the endpoint
    * marginals and the pair total are DERIVED from `c` (explode each pair
    * into its two weighted endpoints / sum the counts), so they are
    * vocab²-bounded re-aggregations whose shuffle reuses c's exchange
    * (AQE ReusedExchange — one tokenize pass total). The marginal joins
    * carry no broadcast hint: a marginal frame is O(vocab), which a real
    * 100 TB corpus can push past any broadcast ceiling — AQE picks the
    * build side from runtime sizes instead. Only the 1-row total is an
    * explicit broadcast-cross. Top-30 is TakeOrdered. */
  private val qCooccurPmi = QueryDef(
    "q_cooccur_pmi",
    Some("""
      |WITH arr AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS a
      |  FROM documents),
      |pr AS (
      |  SELECT least(a[i], a[i + d]) AS w1, greatest(a[i], a[i + d]) AS w2
      |  FROM arr, (VALUES (1), (2)) dd(d),
      |    unnest(range(1, len(a) - d + 1)) AS t(i)),
      |c AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_xy
      |  FROM pr GROUP BY w1, w2),
      |m AS (SELECT w, CAST(count(*) AS BIGINT) AS c_w FROM (
      |    SELECT w1 AS w FROM pr UNION ALL SELECT w2 FROM pr)
      |  GROUP BY w),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs FROM pr)
      |SELECT c.w1, c.w2, c.c_xy, mx.c_w AS c_x, my.c_w AS c_y,
      |  CAST((((c.c_xy * 1000000) // mx.c_w) * n.n_pairs) // my.c_w
      |    AS BIGINT) AS lift_micro
      |FROM c
      |JOIN m mx ON mx.w = c.w1
      |JOIN m my ON my.w = c.w2, n
      |WHERE c.c_xy >= 3
      |ORDER BY lift_micro DESC, w1, w2 LIMIT 30
      |""".stripMargin.trim),
    (spark, dir) => {
      val arr = tbl(spark, dir, "documents")
        .select(expr("filter(split(text, '\\\\s+'), x -> x != '')").as("a"))
      def pairsAt(d: Int): DataFrame = arr
        .select(
          expr(s"slice(a, 1, greatest(size(a) - $d, 0))").as("l"),
          expr(s"slice(a, 1 + $d, greatest(size(a) - $d, 0))").as("r"))
        .select(explode(arrays_zip(col("l"), col("r"))).as("p"))
        .select(least(col("p.l"), col("p.r")).as("w1"),
          greatest(col("p.l"), col("p.r")).as("w2"))
      val pr = pairsAt(1).unionAll(pairsAt(2))
      // c is localCheckpoint'ed (the Dedup.scala:225 pattern): three
      // consumers read it (output join, marginals, total) and Spark does
      // not reuse the aggregation exchange across probe sides — the
      // static plan without the materialization carries SIX corpus scans
      // (each marginal side replays tokenize+zip+explode). The frame is
      // vocab²-bounded — corpus-independent under Heaps' law — so the
      // blocks are cheap at any corpus size.
      val c = pr.groupBy("w1", "w2").agg(count(lit(1)).as("c_xy"))
        .localCheckpoint()
      // marginals and the total are exact re-aggregations of c itself
      // (a w1==w2 pair contributes its count to w's marginal twice —
      // the array carries both endpoints): vocab²-bounded.
      val m = c
        .select(explode(expr(
          "array(struct(w1 as w, c_xy), struct(w2 as w, c_xy))")).as("e"))
        .groupBy(col("e.w").as("w")).agg(sum(col("e.c_xy")).as("c_w"))
      val n = c.agg(sum(col("c_xy")).as("n_pairs"))
      c.filter(col("c_xy") >= 3)
        .join(m.withColumnRenamed("w", "w1")
          .withColumnRenamed("c_w", "c_x"), "w1")
        .join(m.withColumnRenamed("w", "w2")
          .withColumnRenamed("c_w", "c_y"), "w2")
        .crossJoin(broadcast(n))
        .select(col("w1"), col("w2"), col("c_xy"), col("c_x"), col("c_y"),
          expr("(((c_xy * 1000000) div c_x) * n_pairs) div c_y")
            .as("lift_micro"))
        .orderBy(desc("lift_micro"), asc("w1"), asc("w2"))
        .limit(30)
    })

  /** Inverted-index BUILD — the index-construction half of q_text_search
    * (which is the probe path): per term, document frequency, collection
    * frequency, and the full posting list `doc:tf` sorted by doc_id,
    * flattened to one string so the gate is value-exact across engines.
    *
    * Scale shape: one tokenize pass → (doc, term) tf agg riding the doc
    * layout → one term-keyed exchange where collect_list builds each
    * posting list. Per-term posting lists are the classic MapReduce
    * indexing output (one reducer call per term); at 100 TB the postings
    * column becomes the term-partitioned index files the probe path
    * reads, and a df cap (stopword tail) bounds the widest rows. */
  private val qInvertedIndex = QueryDef(
    "q_inverted_index",
    Some(s"""
      |WITH $tokSql,
      |tf AS (SELECT doc_id, w AS term, CAST(count(*) AS BIGINT) AS tf
      |  FROM tok GROUP BY 1, 2)
      |SELECT term, CAST(count(*) AS BIGINT) AS df,
      |  CAST(sum(tf) AS BIGINT) AS cf,
      |  string_agg(doc_id || ':' || tf, ' ' ORDER BY doc_id) AS postings
      |FROM tf GROUP BY term ORDER BY term
      |""".stripMargin.trim),
    (spark, dir) => {
      toks(spark, dir)
        .groupBy(col("doc_id"), col("w").as("term"))
        .agg(count(lit(1)).as("tf"))
        .groupBy("term")
        .agg(count(lit(1)).as("df"), sum(col("tf")).as("cf"),
          array_join(
            expr("transform(array_sort(collect_list(struct(doc_id, tf)))," +
              " x -> concat(x.doc_id, ':', x.tf))"),
            " ").as("postings"))
        .orderBy("term")
    })

  /** BPE tokenizer-training pair counts — the dominant inner-loop cost of
    * byte-pair-encoding training (Sennrich et al. 2016): count adjacent
    * symbol pairs over the word vocabulary, weighted by word frequency,
    * with the `</w>` end-of-word marker as the final symbol (so the top
    * pair is what the first merge would fuse). Top 50 by weighted count.
    *
    * Scale shape — THE property that makes BPE training feasible on
    * 100 TB: the corpus is touched exactly once, for the word-frequency
    * aggregate (map-side partial, vocab-bounded exchange); the symbol-pair
    * explosion runs over the VOCABULARY (≪ corpus under Heaps' law, ~word
    * length pairs per DISTINCT word), and the pair aggregate is
    * alphabet²-bounded. Every subsequent merge iteration in a real
    * trainer re-runs only the vocab-sized stages — never the corpus. */
  private val qBpePairs = QueryDef(
    "q_bpe_pairs",
    Some(s"""
      |WITH $tokSql,
      |wc AS (SELECT w, CAST(count(*) AS BIGINT) AS n_w FROM tok GROUP BY w),
      |sym AS (
      |  SELECT substring(w, i, 1) AS p1,
      |    CASE WHEN i = length(w) THEN '</w>'
      |         ELSE substring(w, i + 1, 1) END AS p2,
      |    n_w
      |  FROM wc, unnest(range(1, length(w) + 1)) AS t(i))
      |SELECT p1, p2, CAST(sum(n_w) AS BIGINT) AS cnt
      |FROM sym GROUP BY p1, p2
      |ORDER BY cnt DESC, p1, p2 LIMIT 50
      |""".stripMargin.trim),
    (spark, dir) => {
      toks(spark, dir)
        .groupBy("w").agg(count(lit(1)).as("n_w"))
        .select(col("n_w"), explode(expr(
          """transform(sequence(1, length(w)), i -> struct(
             |  substring(w, i, 1) as p1,
             |  CASE WHEN i = length(w) THEN '</w>'
             |       ELSE substring(w, i + 1, 1) END as p2))""".stripMargin
        )).as("p"))
        .groupBy(col("p.p1").as("p1"), col("p.p2").as("p2"))
        .agg(sum(col("n_w")).as("cnt"))
        .orderBy(desc("cnt"), asc("p1"), asc("p2"))
        .limit(50)
    })

  /** BPE merge-training parameters. 16 merges keeps the bench cost
    * proportionate while exercising every regime the loop has (letter
    * pairs, end-of-word fusions, merged-symbol-as-operand). */
  private val BpeMerges = 16
  private val BpeFpSeed = 91

  /** Symbol sequences live as ONE space-joined string per word. Tokens
    * are whitespace-split, so no symbol can ever contain a space — which
    * makes applying a merge a pure string fold: append `x` WITHOUT the
    * separator to fuse it into the accumulator's last symbol, WITH the
    * separator to start a new one. Both engines run the identical fold
    * (Spark `aggregate`, DuckDB `list_reduce`), so greedy left-to-right
    * merge semantics (Sennrich et al. 2016, the canonical BPE trainer)
    * can never drift between the query and the oracle. */
  private def bpeMergeFold(p1: String, p2: String): Column = {
    val sl = split(col("symstr"), " ")
    aggregate(
      slice(sl, lit(2), size(sl) - 1),
      element_at(sl, 1),
      (acc, x) =>
        when(x === lit(p2) && (acc === lit(p1) || acc.endsWith(lit(" " + p1))),
          concat(acc, x))
          .otherwise(concat(acc, lit(" "), x)))
  }

  /** BPE TOKENIZER TRAINING — the full merge loop, not just one pair
    * count (q_bpe_pairs is the inner-loop kernel; this iterates it):
    * repeat [[BpeMerges]] times { count adjacent symbol pairs over the
    * word vocabulary weighted by word frequency; take the top pair
    * (count desc, pair asc — fully deterministic); fuse it through every
    * word's symbol sequence greedy-left-to-right }. Result = the ordered
    * merge table (the tokenizer artifact a trainer ships) plus two
    * final-vocabulary gate rows: an order-independent fingerprint
    * (bit_xor of per-word hashes — proves every word's final
    * segmentation) and the distinct-symbol count (the learned vocab
    * size).
    *
    * Convergence-kernel discipline (q_pagerank_converged lineage): the
    * corpus is touched EXACTLY ONCE (the word-frequency aggregate);
    * every round runs over the vocabulary frame, checkpoint-truncated
    * per round ([[graft.Checkpoints.truncate]]) so round N's argmax
    * action replans nothing from round N−1 and the corpus scan never
    * re-runs; superseded checkpoints are released; an empty pair frame
    * before the last merge fails loudly rather than returning a short
    * merge list. Scale shape — why this trains on 100 TB: the per-round
    * work is vocabulary-bounded (Heaps' law: |vocab| ≪ corpus), the
    * pair aggregate is map-side partial with a symbol-inventory²-bounded
    * exchange, the merge application is map-only, and the argmax is a
    * 1-row TakeOrdered action.
    *
    * The oracle replays the SAME 16 deterministic merges as an unrolled
    * CTE chain (MATERIALIZED per round — each round references its
    * predecessor twice, and inlined CTEs would expand 2^16 corpus
    * scans), with the identical list_reduce fold and tie-break. */
  /** The unrolled 16-merge training recursion as a DuckDB CTE chain
    * (v0 → v16, MATERIALIZED per round — each round references its
    * predecessor twice, and inlined CTEs would expand 2^16 corpus scans).
    * Shared by q_bpe_train's merge-table oracle and q_bpe_encode's
    * encoding oracle, so the two gates can never train differently. */
  private val bpeSqlChain: String = {
    val steps = (1 to BpeMerges).map { k =>
      s"""p$k AS (
  SELECT p1, p2, CAST(sum(n_w) AS BIGINT) AS cnt FROM (
    SELECT sl[i] AS p1, sl[i + 1] AS p2, n_w FROM
      (SELECT string_split(symstr, ' ') AS sl, n_w FROM v${k - 1}),
      unnest(range(1, len(sl))) AS t(i))
  GROUP BY 1, 2),
m$k AS (SELECT p1, p2, cnt FROM p$k ORDER BY cnt DESC, p1, p2 LIMIT 1),
v$k AS MATERIALIZED (
  SELECT w, list_reduce(string_split(symstr, ' '), (acc, x) ->
    CASE WHEN x = m.p2 AND (acc = m.p1 OR suffix(acc, ' ' || m.p1))
         THEN acc || x ELSE acc || ' ' || x END) AS symstr, n_w
  FROM v${k - 1}, m$k m)"""
    }.mkString(",\n")
    s"""wc AS MATERIALIZED (
  SELECT w, CAST(count(*) AS BIGINT) AS n_w FROM tok GROUP BY w),
v0 AS MATERIALIZED (SELECT w,
  array_to_string(list_transform(range(1, length(w) + 1), i -> w[i]), ' ')
    || ' </w>' AS symstr, n_w FROM wc),
$steps"""
  }

  /** The engine-side training loop shared by q_bpe_train and the stored
    * tokenizer artifact ([[ensureBpeMerges]]): one corpus pass for word
    * frequencies, then the vocabulary-bounded merge rounds
    * (checkpoint-truncated; fail-loud on early exhaustion). Returns the
    * ordered merge table and the FINAL vocabulary frame — the caller
    * must `Checkpoints.release` the returned frame when done with it.
    *
    * Runs [[bpeTrainLoopBatched]] (OPTIMIZATION r20, VERDICT r19 #3):
    * provably merge-for-merge BIT-IDENTICAL to the sequential
    * [[bpeTrainLoopOver]] (BpeBatchSpec pins it on this corpus and on an
    * adversarial vocabulary; SCALE.md §51 measured 1.28-1.39× at 1-4M
    * types), at a fraction of the rounds — each round pays a full
    * vocabulary aggregate + argmax action, so fewer rounds is the win. */
  private def bpeTrainLoop(spark: SparkSession, dir: String)
      : (Seq[(Long, String, String, Long)], DataFrame) =
    bpeTrainLoopBatched(spark,
      toks(spark, dir).groupBy("w").agg(count(lit(1)).as("n_w")),
      BpeMerges)

  /** [[bpeTrainLoop]] over ANY weighted vocabulary frame (w, n_w) — the
    * gate trains on the corpus word counts; a ≥10⁶-type synthetic
    * vocabulary showed the loop's driver state stays O(merges) when the
    * vocabulary is far past driver-collect territory (SCALE.md §42, §51).
    * Per round: one vocabulary-bounded distributed pair aggregate, a 1-ROW
    * argmax collect, one map-only merge fold — the driver never holds more
    * than the merge list. */
  private[graft] def bpeTrainLoopOver(
      spark: SparkSession, wc: DataFrame, nMerges: Int)
      : (Seq[(Long, String, String, Long)], DataFrame) = {
    val v0 = wc
      .select(col("w"),
        concat(
          array_join(
            expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))"),
            " "),
          lit(" </w>")).as("symstr"),
        col("n_w"))
    var vocab = graft.Checkpoints.truncate(v0)
    var vocabCk = vocab
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var step = 1
    while (step <= nMerges) {
      // zip the sequence against its own tail — yields ZERO pairs for a
      // fully-merged single-symbol word (sequence(1, size-1) would throw)
      val sl = split(col("symstr"), " ")
      val top = vocab
        .select(col("n_w"), explode(
          zip_with(slice(sl, lit(1), size(sl) - 1),
            slice(sl, lit(2), size(sl) - 1),
            (a, b) => struct(a.as("p1"), b.as("p2")))).as("p"))
        .groupBy(col("p.p1").as("p1"), col("p.p2").as("p2"))
        .agg(sum(col("n_w")).as("cnt"))
        .orderBy(desc("cnt"), asc("p1"), asc("p2"))
        .limit(1).collect().headOption.getOrElse(
          throw new IllegalStateException(
            s"bpe train loop: vocabulary fully merged after ${step - 1} " +
              s"of $nMerges merges — no adjacent pairs left; lower the " +
              "merge count or widen the corpus"))
      val (p1, p2) = (top.getString(0), top.getString(1))
      merges += ((step.toLong, p1, p2, top.getLong(2)))
      val nxt = graft.Checkpoints.truncate(
        vocab.withColumn("symstr", bpeMergeFold(p1, p2)))
      graft.Checkpoints.release(vocabCk)
      vocabCk = nxt
      vocab = nxt
      step += 1
    }
    (merges.toSeq, vocab)
  }

  /** ADAPTIVE ROUND BATCHING for the distributed trainer (the r17
    * frontier item): per round, merge SEVERAL top pairs at once when —
    * and only when — doing so is PROVABLY equivalent to the sequential
    * trainer, merge for merge. The exact rule, derived from two
    * invariants of symbol-disjoint merges (a merge neither creates nor
    * destroys occurrences of a pair sharing none of its symbols; every
    * pair a merge CREATES involves the fused symbol and its count is
    * bounded by an existing pair ADJACENT to the merge):
    *
    *  - take the rank-ordered (cnt desc, p1, p2) pair list's maximal
    *    NO-SKIP prefix whose members are pairwise symbol-disjoint — the
    *    first pair sharing a symbol with an earlier member ends the
    *    prefix (skipping it would let sequential training pick it next);
    *  - a self-pair (p1 = p2) ends the prefix AFTER itself (its fused
    *    symbol can re-pair with its own parts at up to its own count,
    *    which would outrank later members);
    *  - drop members (beyond the unconditional global top) whose count
    *    is ≤ the first excluded pair's count: every pair a batch merge
    *    creates is bounded by SOME adjacent existing pair, and adjacency
    *    means sharing a symbol, which means ranked at/past the exclusion
    *    point — so strictly-greater members stay the strict argmax at
    *    their sequential turn, ties and all.
    *
    * The batch applies as one chained map-only fold (disjoint merges
    * commute), recorded counts are the round aggregate's (invariant
    * under earlier batch merges), so the merge table is BIT-IDENTICAL
    * to [[bpeTrainLoopOver]]'s — spec-pinned — while the round count
    * (each paying a full vocabulary aggregate + argmax action) drops
    * by the average batch width. */
  private[graft] def bpeTrainLoopBatched(
      spark: SparkSession, wc: DataFrame, nMerges: Int, batchK: Int = 64)
      : (Seq[(Long, String, String, Long)], DataFrame) = {
    val v0 = wc
      .select(col("w"),
        concat(
          array_join(
            expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))"),
            " "),
          lit(" </w>")).as("symstr"),
        col("n_w"))
    var vocab = graft.Checkpoints.truncate(v0)
    var vocabCk = vocab
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    while (merges.size < nMerges) {
      val want = math.min(batchK, nMerges - merges.size)
      val sl = split(col("symstr"), " ")
      val top = vocab
        .select(col("n_w"), explode(
          zip_with(slice(sl, lit(1), size(sl) - 1),
            slice(sl, lit(2), size(sl) - 1),
            (a, b) => struct(a.as("p1"), b.as("p2")))).as("p"))
        .groupBy(col("p.p1").as("p1"), col("p.p2").as("p2"))
        .agg(sum(col("n_w")).as("cnt"))
        .orderBy(desc("cnt"), asc("p1"), asc("p2"))
        .limit(want + 1).collect()
      if (top.isEmpty)
        throw new IllegalStateException(
          s"bpe batched train loop: vocabulary fully merged after " +
            s"${merges.size} of $nMerges merges — no adjacent pairs left; " +
            "lower the merge count or widen the corpus")
      val used = scala.collection.mutable.Set.empty[String]
      val prefix =
        scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
      var excl = 0L
      var open = true
      for (r <- top) {
        val (p1, p2, c) = (r.getString(0), r.getString(1), r.getLong(2))
        if (open && prefix.size < want && !used(p1) && !used(p2)) {
          prefix += ((p1, p2, c))
          used += p1; used += p2
          if (p1 == p2) open = false // self-pair ends the prefix after it
        } else if (excl == 0L) { excl = c; open = false }
      }
      // the global top merges unconditionally; later members only above
      // the exclusion bound (ties with a created pair could flip)
      val batch = prefix.head +: prefix.tail.takeWhile(_._3 > excl)
      batch.foreach { case (p1, p2, c) =>
        merges += ((merges.size + 1L, p1, p2, c))
      }
      val folded = batch.foldLeft(vocab) { case (df, (p1, p2, _)) =>
        df.withColumn("symstr", bpeMergeFold(p1, p2))
      }
      val nxt = graft.Checkpoints.truncate(folded)
      graft.Checkpoints.release(vocabCk)
      vocabCk = nxt
      vocab = nxt
    }
    (merges.toSeq, vocab)
  }

  private val qBpeTrain = QueryDef(
    "q_bpe_train",
    Some {
      val sels = (1 to BpeMerges).map(k =>
        s"SELECT CAST($k AS BIGINT) AS step, p1, p2, cnt FROM m$k")
        .mkString("\nUNION ALL ")
      s"""WITH $tokSql,
$bpeSqlChain
SELECT * FROM (
$sels
UNION ALL SELECT CAST(${BpeMerges + 1} AS BIGINT), '<vocab_fp>', '',
  CAST(bit_xor(${PortableHash.sqlHash60(BpeFpSeed, "w || ':' || symstr")}) AS BIGINT)
  FROM v$BpeMerges
UNION ALL SELECT CAST(${BpeMerges + 2} AS BIGINT), '<n_symbols>', '',
  count(DISTINCT s)
  FROM (SELECT unnest(string_split(symstr, ' ')) AS s FROM v$BpeMerges)
) ORDER BY step"""
    },
    (spark, dir) => {
      import spark.implicits._
      val (merges, vocab) = bpeTrainLoop(spark, dir)
      val fp = vocab
        .select(PortableHash.hash60(BpeFpSeed,
          concat(col("w"), lit(":"), col("symstr"))).as("h"))
        .agg(expr("bit_xor(h)")).head().getLong(0)
      val nsym = vocab
        .select(explode(split(col("symstr"), " ")).as("s"))
        .agg(countDistinct(col("s"))).head().getLong(0)
      graft.Checkpoints.release(vocab)
      (merges :+
        ((BpeMerges + 1L, "<vocab_fp>", "", fp)) :+
        ((BpeMerges + 2L, "<n_symbols>", "", nsym)))
        .toDF("step", "p1", "p2", "cnt")
        .orderBy("step")
    })

  /** Stored tokenizer artifact: the ordered merge table written once per
    * corpus signature ([[ArtifactStore]], the same lifecycle as the IVF
    * index), read back by q_bpe_encode. Train once, encode everywhere. */
  private def ensureBpeMerges(spark: SparkSession, dir: String)
      : Seq[(String, String)] = {
    // recipe token: merge count + trainer version — a BpeMerges (or fold
    // semantics) change keys a fresh artifact root instead of serving a
    // stale merge table trained by old code (ADVICE r14)
    val root = ArtifactStore.ensure(spark, dir, "documents", "bpe_merges",
      s"bpe:v1:$BpeMerges") { r =>
        import spark.implicits._
        val (merges, vocab) = bpeTrainLoop(spark, dir)
        graft.Checkpoints.release(vocab)
        merges.toDF("step", "p1", "p2", "cnt")
          .coalesce(1).write.mode("overwrite").parquet(s"$r/merges")
    }
    spark.read.parquet(s"$root/merges")
      .orderBy("step").collect()
      .map(r => (r.getAs[String]("p1"), r.getAs[String]("p2"))).toSeq
  }

  /** BPE ENCODING — the tokenizer's SERVING path: apply the stored,
    * already-trained merge table (train once, encode everywhere — the
    * artifact lifecycle q_ivf_build/q_ivf_probe exhibit for ANN indexes,
    * here for the tokenizer). Per language: word occurrences, char-level
    * symbol mass (chars + the `</w>` marker), BPE token mass after the 16
    * merges, and the integer compression ratio — the fertility/efficiency
    * numbers a tokenizer change is judged by.
    *
    * Scale shape: one tokenize pass (the lang join rides the doc layout);
    * encoding runs over the (lang, word) VOCABULARY — Heaps' law ≪
    * corpus — as ONE partition-wise pass against the rank-ordered merge
    * table carried as a per-partition hash map (BpeOps.encode: the
    * canonical lowest-rank-first iteration, O(len²) lookups per word
    * INDEPENDENT of table size — r14's 16 chained literal-folds were
    * all-codegen but grew the plan one projection per RULE, which cracks
    * at production merge counts: measured 256/1024-merge rows in
    * SCALE.md §26; equivalence to the training segmentation argued and
    * spec-pinned in BpeOps/BpeOpsSpec); the rollup is a lang-keyed
    * map-side-partial aggregate. The corpus itself is never re-touched
    * after the word-count pass. The oracle re-trains via the shared
    * unrolled CTE chain and encodes by joining the final vocabulary —
    * training determinism makes stored-artifact encoding ≡
    * retrain-and-encode, which is exactly the property the gate proves. */
  private val qBpeEncode = QueryDef(
    "q_bpe_encode",
    Some(s"""WITH $tokSql,
$bpeSqlChain,
lw AS (SELECT d.lang, t.w, CAST(count(*) AS BIGINT) AS n_w
  FROM tok t JOIN documents d USING (doc_id) GROUP BY 1, 2),
enc AS (SELECT lang, lw.w, lw.n_w AS n_w,
    CAST(length(lw.w) + 1 AS BIGINT) AS n_sym0,
    CAST(len(string_split(v.symstr, ' ')) AS BIGINT) AS n_bpe
  FROM lw JOIN v$BpeMerges v ON v.w = lw.w)
SELECT lang, CAST(sum(n_w) AS BIGINT) AS n_words,
  CAST(sum(n_w * n_sym0) AS BIGINT) AS n_char_symbols,
  CAST(sum(n_w * n_bpe) AS BIGINT) AS n_bpe_tokens,
  CAST(sum(n_w * n_sym0) AS BIGINT) * 1000000
    // CAST(sum(n_w * n_bpe) AS BIGINT) AS compression_micro
FROM enc GROUP BY lang ORDER BY lang"""),
    (spark, dir) => {
      import spark.implicits._
      val merges = ensureBpeMerges(spark, dir)
      val lw = toks(spark, dir)
        .join(tbl(spark, dir, "documents").select("doc_id", "lang"), "doc_id")
        .groupBy("lang", "w").agg(count(lit(1)).as("n_w"))
      val enc = lw.select(col("lang"), col("w"), col("n_w"))
        .as[(String, String, Long)]
        .mapPartitions { it =>
          // one rank table per partition, shared across the vocabulary
          val ranks = graft.operators.BpeOps.rankTable(merges)
          it.map { case (lang, w, n) =>
            (lang, w, n, graft.operators.BpeOps.encode(w, ranks).length.toLong)
          }
        }
        .toDF("lang", "w", "n_w", "n_bpe")
      enc
        .select(col("lang"), col("n_w"),
          (length(col("w")) + 1).cast("long").as("n_sym0"),
          col("n_bpe"))
        .groupBy("lang")
        .agg(sum(col("n_w")).as("n_words"),
          sum(col("n_w") * col("n_sym0")).as("n_char_symbols"),
          sum(col("n_w") * col("n_bpe")).as("n_bpe_tokens"))
        .select(col("lang"), col("n_words"), col("n_char_symbols"),
          col("n_bpe_tokens"),
          expr("(n_char_symbols * 1000000L) div n_bpe_tokens")
            .as("compression_micro"))
        .orderBy("lang")
    })

  /** RAG-style document CHUNKING — fixed-size overlapping token windows
    * (size 64, stride 48 → 16-token overlap), the retrieval-corpus
    * construction step between curation and embedding. Each chunk carries
    * its start offset, token count, and a portable content fingerprint;
    * the gate hashes the per-doc rollup (chunk count, token mass
    * including overlap, xor of chunk fingerprints — order-independent,
    * and the fingerprints pin every chunk's exact text).
    *
    * Scale shape: the whole computation is ONE map-only projection —
    * chunk starts via `sequence`, per-chunk slices, hashes and the xor
    * fold all run as array HOFs inside a single codegen span; no explode,
    * no shuffle beyond the presentation sort. At 100 TB chunking runs at
    * scan speed, and the real export (one row per chunk) is the same
    * projection followed by the writer. */
  private val qChunking = QueryDef(
    "q_chunking",
    Some(s"""
      |WITH w0 AS (SELECT doc_id,
      |    list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS ws
      |  FROM documents),
      |ch AS (SELECT doc_id, len(ws) AS n_tok,
      |    list_transform(range(1, len(ws) + 1, 48), st -> struct_pack(
      |      sz := least(64, len(ws) - st + 1),
      |      fp := ${PortableHash.sqlHash60(
                 "concat('chk|', array_to_string(list_slice(ws, st, " +
                 "st + least(64, len(ws) - st + 1) - 1), ' '))")})) AS chunks
      |  FROM w0)
      |SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
      |  CAST(len(chunks) AS BIGINT) AS n_chunks,
      |  CAST(coalesce(list_sum(list_transform(chunks, c -> c.sz)), 0) AS BIGINT)
      |    AS sum_chunk_tokens,
      |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
      |    list_transform(chunks, c -> c.fp)), (a, x) -> xor(a, x)) AS BIGINT)
      |    AS chunks_fp
      |FROM ch ORDER BY doc_id
      |""".stripMargin.trim),
    (spark, dir) => {
      tbl(spark, dir, "documents")
        .select(col("doc_id"),
          expr("filter(split(text, '\\\\s+'), x -> x != '')").as("ws"))
        .select(col("doc_id"), size(col("ws")).cast("long").as("n_tok"),
          expr("""CASE WHEN size(ws) = 0
              THEN CAST(array() AS ARRAY<STRUCT<sz: BIGINT, fp: BIGINT>>)
              ELSE transform(sequence(1, size(ws), 48), st -> struct(
                CAST(least(64, size(ws) - st + 1) AS BIGINT) AS sz,
                graft_hash60(concat('chk|', array_join(
                  slice(ws, st, least(64, size(ws) - st + 1)), ' '))) AS fp))
              END""").as("chunks"))
        .select(col("doc_id"), col("n_tok"),
          size(col("chunks")).cast("long").as("n_chunks"),
          expr("aggregate(chunks, 0L, (a, c) -> a + c.sz)")
            .as("sum_chunk_tokens"),
          expr("aggregate(chunks, 0L, (a, c) -> a ^ c.fp)").as("chunks_fp"))
        .orderBy("doc_id")
    })

  /** Training-shard export manifest — the last job of a curation
    * pipeline: assign every document to one of 16 shards by a
    * deterministic portable hash (reproducible across engines, runs, and
    * cluster sizes — never a random or round-robin writer), and emit the
    * per-shard manifest a training loader checks before reading: doc
    * count, token mass, an order-independent content fingerprint
    * (bit_xor of the per-doc hashes — commutative, so the aggregate is
    * partition-order-proof), and the doc-id range.
    *
    * Scale shape: shard assignment is a map-only projection; the
    * manifest is one 16-group map-side-partial aggregate. The real
    * export writes `partitionBy(shard)` with this exact assignment —
    * the manifest is the writer's commit summary, and at 100 TB the
    * fingerprint column is what makes a re-export byte-verifiable
    * without re-reading the data. */
  private val qShardExport = QueryDef(
    "q_shard_export",
    Some(s"""
      |WITH d AS (
      |  SELECT doc_id,
      |    CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS BIGINT) AS n_tok,
      |    ${PortableHash.sqlHash60(77, "CAST(doc_id AS VARCHAR)")} AS hp
      |  FROM documents)
      |SELECT hp % 16 AS shard, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_tok) AS BIGINT) AS sum_tokens,
      |  CAST(bit_xor(hp) AS BIGINT) AS fp,
      |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
      |FROM d GROUP BY 1 ORDER BY shard
      |""".stripMargin.trim),
    (spark, dir) => {
      tbl(spark, dir, "documents")
        .select(col("doc_id"),
          expr("CAST(size(filter(split(text, '\\\\s+'), x -> x != '')) AS BIGINT)")
            .as("n_tok"),
          PortableHash.hash60(77, col("doc_id").cast("string")).as("hp"))
        .groupBy(expr("hp % 16").as("shard"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("sum_tokens"),
          expr("bit_xor(hp)").as("fp"),
          min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
        .orderBy("shard")
    })

  val defs: Seq[QueryDef] =
    Seq(qTokenStats, qDocQuality, qLangId, qFingerprint, qFingerprintUdaf,
      qFingerprintRolling, qPipelineCurate, qStratifiedSample, qTextSearch, qBm25Search, qBm25Ivm, qQualityClassifier,
      qHeavyHitters, qProfile, qDqChecks, qHistogram, qHistogramEqdepth,
      qPiiScrub, qRepetitionFilter,
      qCrossdocNgrams, qSeqPacking, qImportanceSample, qTopTerms, qDomainMix,
      qLmScore, qNgramLm, qSpanDedup, qCooccurPmi, qInvertedIndex, qBpePairs,
      qBpeTrain, qBpeEncode, qChunking, qShardExport)
}
