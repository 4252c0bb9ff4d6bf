package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main. Prints ONE JSON line:
  * {"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}
  *
  * ARCHITECTURE (round 15): the suite is split into
  * [[Bench.defaultForks]] contiguous slices, each measured in its own
  * FORKED fresh JVM (`graft.Bench slice <namesFile> <out>` — the slice's
  * query names travel explicitly in a file, one per line), because a
  * 200-query single-JVM run accumulates block-manager/AQE/allocator
  * pressure that inflates shuffle-heavy queries 30-50% while scan-light
  * ones stay flat (SCALE.md §23) — a trend artifact, not a plan signal.
  * Each query also records its SHUFFLE-WRITE BYTES (stage-completed
  * listener, flushed exactly via GraftPlanBridge.flushListenerBus), the
  * repo's trustworthy cross-round signal: wall-clock drifts ±30-60% with
  * host load, bytes don't (SCALE.md §13). After the slices, the top-10
  * most expensive queries are re-measured ONE PER FRESH JVM
  * (`graft.Bench one <name> <out>`) — true isolation, replacing the r14
  * end-of-suite "isolated" re-measure that inherited the suite's own
  * pressure. Any fork failure falls back to in-process measurement and
  * labels the result, so a broken fork path degrades the measurement,
  * never the round.
  *
  * Within a slice, every query runs once untimed first (JIT +
  * whole-stage-codegen compilation + classloading dominate a cold first
  * query), then once timed, in sorted name order.
  */
object Bench {
  /** The stdout JSON line is captured through a bounded tail buffer
    * (observed 2000 chars: rounds 3-4 grew the catalog past it and the
    * line was truncated mid-JSON → unparseable). So stdout carries a
    * HEADLINE subset — one-per-operator-family coverage plus every
    * historically slow query, measured ~1.9k chars worst-case against the
    * 2000-char bound (family-redundant fast queries trimmed each time an
    * addition grows the set: round 6 sources/streaming, round 9 the outer
    * stream join, round 10 the DML/maintenance verbs displacing
    * q_window_frames/q_simhash/q_csv_source/q_dsv2_partitioned, then the
    * changes feed displacing q_dsv2_sink, whose commit path
    * q_stream_dsv2_sink already exercises, then the clustering/graph/CDC
    * additions displacing q_token_stats/q_langid/q_fingerprint (family
    * kept via q_doc_quality/q_fingerprint_rolling) and q_dsv2_update
    * (same rewrite path as q_dsv2_merge), then round 12's fuzzy-join/BFS
    * kernels displacing q_tumbling_window (batch windowing kept via
    * q_session_window, streaming via q_stream_tumbling) and
    * q_stream_join_right (kept via q_stream_join_outer — same
    * outer-side watermark machinery), plus q_pq_topk displacing
    * q_interval_bin_join (range-family kept via q_range_join/q_asof_join),
    * then q_span_dedup displacing q_crossdoc_ngrams — the span job
    * supersedes its dataflow: map-only gram generation, one gram-keyed
    * global exchange, doc-keyed rollup — while q_ngram_lm /
    * q_cooccur_pmi / q_inverted_index stay full-bench-only (their
    * count-job shapes are already represented by q_wordcount /
    * q_text_search), and q_prefix_join (a distinct JOIN ALGORITHM —
    * df-ordered prefix filter + exact verify) displacing
    * q_minhash_signatures, whose one-agg dataflow q_jaccard_pairs
    * recomputes internally; q_bpe_pairs stays full-bench-only
    * (vocab-bounded agg, the q_wordcount shape); round 13's
    * q_pagerank_converged and q_label_prop_converged stay
    * full-bench-only too — their per-round plans ARE
    * q_pagerank's/q_label_prop's, and the convergence-loop shape is
    * already headline-represented by q_dedup_components; round 14's
    * q_ivf_probe displaces q_ivf_topk — identical probe/rerank dataflow,
    * plus the stored-index read that is the new exhibit — while
    * q_ivf_build / q_bm25_search / q_quality_classifier / q_stream_ivm
    * stay full-bench-only: the build's write path is measured through
    * the probe's ensure step, BM25 shares q_text_search's shape, the
    * classifier's map-only inference q_doc_quality's, and the streaming
    * IVM q_stream_dsv2_sink's commit/stream fixed cost) — plus
    * any ERRORED query (sentinel -1, so a failure is
    * visible in the tail capture even when it's not a headline query).
    * The full per-query map is written to BENCH_FULL.json next to the
    * repo docs. */
  private[graft] val headline: Set[String] = Set(
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier",
    "q9_product_profit", "q18_large_volume", "q21_waiting_supplier",
    "q_wordcount", "q_stopword_wordcount", "q_topk_common_max",
    "q_join_agg", "q_broadcast_join", "q_asof_join",
    "q_range_join",
    "q_cube", "q_window_rank", "q_percentiles", "q_pivot",
    "q_salted_agg",
    "q_sessionize_native", "q_session_window",
    "q_scalar_funcs", "q_json_extract",
    "q_partitioned_sink", "q_upsert",
    "q_heavy_hitters", "q_bucketed_join", "q_pagerank", "q_schema_evolution",
    "q_zorder_layout", "q_compact_small_files", "q_federated_join",
    "q_incremental_agg", "q_stats_moments", "q_gap_fill",
    "q_dedup_exact", "q_prefix_join", "q_fuzzy_join",
    "q_lsh_candidates", "q_jaccard_pairs", "q_simhash_pairs",
    "q_dedup_components",
    "q_cosine_topk", "q_ann_buckets", "q_neardup_bucketed", "q_ivf_probe",
    "q_ann_recall", "q_pq_topk", "q_kmeans_profile", "q_semdedup", "q_triangles", "q_bfs_hops",
    "q_doc_quality", "q_fingerprint_rolling", "q_span_dedup",
    "q_pipeline_curate", "q_stratified_sample", "q_text_search",
    "q_stream_tumbling", "q_stream_sessionize", "q_stream_join",
    "q_stream_join_outer", "q_stream_enrich",
    "q_stream_dedup", "q_stream_dsv2_sink",
    "q_blob_stats", "q_lateral_explode", "q_approx_quantiles",
    "q_dpp_prune", "q_dsv2_source", "q_dsv2_runtime_join",
    "q_dsv2_stats_skip",
    "q_dsv2_merge", "q_dsv2_compact", "q_dsv2_changes", "q_dsv2_ivm",
    "q_funnel")

  private def fmt(v: Double): String = f"$v%.3f"

  /** Default slice count: 8 JVMs of ~25 queries each — small enough that
    * cumulative in-JVM pressure stays bounded (the §23 artifact built up
    * over hundreds of heavy stages), large enough that the ~10 s
    * JVM+session startup per slice stays <10% of bench wall. Override
    * with SPARK_GRAFT_BENCH_FORKS (0 = single in-process JVM, the r14
    * behavior). */
  private val defaultForks = 8

  private def sfDir: String =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  private def session(): SparkSession = Measure.session("graft-bench")

  /** One measured query: in-suite seconds, success, shuffle-write bytes
    * of the rep that produced the recorded time. */
  private final case class QRes(
      name: String, secs: Double, ok: Boolean, shuffleBytes: Long)

  /** Measure `names` (already sorted) in this JVM: untimed warmup pass,
    * then the timed pass with isolation between reps and a second rep
    * (min kept) for anything above [[RepeatAbove]]. */
  private val RepeatAbove = 0.5
  private def measure(spark: SparkSession, names: Seq[String]): Seq[QRes] = {
    val dir = sfDir
    val tally = new Measure.Tally(spark)
    names.foreach { n =>
      try Measure.consume(SparkEntry.queries(n)(spark, dir))
      catch { case _: Throwable => () }
    }
    // Isolate BETWEEN reps so the previous query's footprint is not
    // attributed to this one: localCheckpoint blocks (dedup components'
    // loop state, the jaccard doc-set frame) stay registered in the
    // block manager until their RDDs are GC'd, and the accumulated
    // memory pressure was observed as a 4x spike on whichever
    // checkpoint-heavy query drew the eviction (q_jaccard_pairs 1.9s
    // isolated vs 8.3s mid-suite). Drop them eagerly, gc so the
    // ContextCleaner's weak refs enqueue (shuffle-file and broadcast
    // removal is GC-driven), and give the cleaner a beat to issue the
    // removals before the next timer window opens.
    def isolate(): Unit = { Measure.isolate(spark); Thread.sleep(50) }
    names.map { name =>
      isolate()
      // A failed query must be VISIBLE (a silent catch once hid a consumer
      // overflow that aborted every result stage) — but one bad query must
      // not zero the whole round, so: log to stderr (stdout stays
      // parseable) and keep timing the rest.
      def rep(): (Double, Boolean, Long) = {
        val b0 = tally.snap()
        val t0 = System.nanoTime()
        val ok =
          try { Measure.consume(SparkEntry.queries(name)(spark, dir)); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            false
          }
        val secs = (System.nanoTime() - t0) / 1e9
        (secs, ok, (tally.snap() - b0).shuffleBytes)
      }
      // Single-shot timings kept producing false trend signals (r09's
      // q_jaccard_pairs artifact read 6.0s vs 1.4s re-measured) — so any
      // query whose first rep exceeds RepeatAbove runs a SECOND rep and
      // records the MIN (min, not mean: one-off JIT / GC / page-cache
      // interference only ever inflates) with THAT rep's bytes (AQE can
      // plan the two reps differently, so time and bytes must come from
      // the same rep).
      val (t1, ok1, b1) = rep()
      if (ok1 && t1 > RepeatAbove) {
        isolate()
        val (t2, ok2, b2) = rep()
        if (ok2 && t2 < t1) QRes(name, t2, ok = true, b2)
        else QRes(name, t1, ok = true, b1)
      } else QRes(name, t1, ok1, b1)
    }
  }

  // ------------------------------------------------------------------
  // Child-process plumbing. Fragments are TSV (name, secs, ok, bytes):
  // trivially parseable, no JSON library needed.
  // ------------------------------------------------------------------

  private def writeFragment(path: String, rs: Seq[QRes]): Unit = {
    val body = rs.map(r =>
      s"${r.name}\t${r.secs}\t${if (r.ok) 1 else 0}\t${r.shuffleBytes}\n")
      .mkString
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    ()
  }

  private def readFragment(path: String): Option[Seq[QRes]] = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) None
    else Some(
      scala.jdk.CollectionConverters.ListHasAsScala(
        java.nio.file.Files.readAllLines(p)).asScala.toSeq
        .filter(_.nonEmpty).map { l =>
          val f = l.split('\t')
          QRes(f(0), f(1).toDouble, f(2) == "1", f(3).toLong)
        })
  }

  /** Fork a fresh `graft.Bench <args>` JVM, stdout+stderr to a log file
    * (the parent's stdout must stay one parseable JSON line). Returns true
    * on a clean exit. */
  private def fork(args: Seq[String], log: String): Boolean =
    try {
      val p = Measure.forkMain("graft.Bench", args)
        .redirectErrorStream(true).redirectOutput(new java.io.File(log))
        .start()
      // generous ceiling — a hung child must not hang the round
      val done = p.waitFor(45, java.util.concurrent.TimeUnit.MINUTES)
      if (!done) { p.destroyForcibly(); p.waitFor() }
      done && p.exitValue() == 0
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] fork failed: $e")
      false
    }

  private def tailLog(log: String, n: Int): Unit =
    try scala.jdk.CollectionConverters.ListHasAsScala(
        java.nio.file.Files.readAllLines(java.nio.file.Paths.get(log)))
      .asScala.takeRight(n).foreach(l => System.err.println(s"[child] $l"))
    catch { case _: Throwable => () }

  def main(args: Array[String]): Unit = args.toSeq match {
    // child: measure EXACTLY the query names the parent wrote to
    // `namesFile` (one per line). The names travel explicitly — the r17
    // form passed [lo,hi) indices and had the child re-derive them from
    // the SORTED list while the parent sliced the STRIDED one (ADVICE
    // r18): striding was silently inert for forked slices, and a mixed
    // fork-success/fallback run double-measured some queries and skipped
    // others. With the names on disk, parent fallback and child slice
    // the same list by construction.
    case Seq("slice", namesFile, out) =>
      val names = scala.jdk.CollectionConverters.ListHasAsScala(
        java.nio.file.Files.readAllLines(
          java.nio.file.Paths.get(namesFile))).asScala.toSeq
        .filter(_.nonEmpty)
      val spark = session()
      writeFragment(out, measure(spark, names))
      spark.stop()
    // child: measure ONE query in a truly fresh JVM, under the same
    // protocol as a slice entry (warmup rep, then timed with a second
    // rep above the threshold) so in-suite vs fresh is apples-to-apples
    case Seq("one", name, out) =>
      val spark = session()
      writeFragment(out, measure(spark, Seq(name)))
      spark.stop()
    case _ => parent()
  }

  private def parent(): Unit = {
    val sortedNames = SparkEntry.queries.keys.toSeq.sorted
    val forks = sys.env.get("SPARK_GRAFT_BENCH_FORKS").flatMap(_.toIntOption)
      .getOrElse(defaultForks)
    // STRIDE the sorted list across slices (VERDICT r17 task 2):
    // contiguous alphabetical slices packed every q_p* convergence
    // kernel — pagerank_converged, pagerank_ivm, pipeline_*,
    // prefix_join, pq_topk — into ONE slice JVM, and that slice's
    // cumulative block-manager/codegen pressure produced the 1.4-1.7×
    // in-suite-vs-fresh gaps r16 flagged (shuffle bytes identical — pure
    // JVM pressure, the §23/§28 artifact). Striding gives every slice
    // ~1/forks of each alphabetical region, so no JVM stacks the whole
    // heavy family; per-query protocol (untimed warmup, isolate()
    // between queries) is unchanged.
    val ordered =
      if (forks <= 1) sortedNames
      else (0 until forks).flatMap(s =>
        sortedNames.indices.filter(_ % forks == s).map(sortedNames))
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_bench_").toString
    // session for fallback paths only — created lazily so the common
    // all-forks-succeed run never spins up executors in the parent
    lazy val fallback = session()
    var forkedOk = true

    val results: Seq[QRes] =
      if (forks <= 0) measure(session(), ordered)
      else {
        val per = math.max(1, math.ceil(ordered.size.toDouble / forks).toInt)
        val slices = ordered.indices.by(per)
          .map(lo => (lo, math.min(lo + per, ordered.size)))
        slices.flatMap { case (lo, hi) =>
          // the slice's names travel EXPLICITLY (file, one per line): the
          // child must never re-derive them from an ordering of its own
          val names = ordered.slice(lo, hi)
          val namesFile = s"$tmp/slice_$lo.names"
          java.nio.file.Files.write(java.nio.file.Paths.get(namesFile),
            names.mkString("", "\n", "\n")
              .getBytes(java.nio.charset.StandardCharsets.UTF_8))
          val out = s"$tmp/slice_$lo.tsv"
          val log = s"$tmp/slice_$lo.log"
          System.err.println(s"[bench] slice [$lo,$hi) → fresh JVM")
          val ok = fork(Seq("slice", namesFile, out), log)
          val frag = if (ok) readFragment(out) else None
          frag match {
            case Some(rs) if rs.size == hi - lo => rs
            case _ =>
              forkedOk = false
              System.err.println(
                s"[bench] slice [$lo,$hi) fork failed — in-process fallback")
              tailLog(log, 30)
              measure(fallback, names)
          }
        }
      }

    val errored = results.filter(!_.ok).map(_.name)
    // Totals and per-query timings cover SUCCESSFUL queries only: a
    // time-to-failure is not a runtime, and recording it (r08 lesson) made
    // failures read as speedups in per-query trend tooling. An errored
    // entry appears as the sentinel -1 plus its name in `errored`.
    val total = results.collect { case r if r.ok => r.secs }.sum
    def qmap(rs: Seq[QRes]): String =
      rs.map(r => "\"" + r.name + "\":" + (if (r.ok) fmt(r.secs) else "-1"))
        .mkString("{", ",", "}")
    def jsonLine(rs: Seq[QRes], extra: String): String =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":${qmap(rs)}$extra,"sf":"$sfDir"}"""
    val errTag = if (errored.nonEmpty)
      s""","errors":${errored.size},"errored":${
        errored.map("\"" + _ + "\"").mkString("[", ",", "]")}"""
    else ""

    // FRESH-JVM re-measure of the top-10 in-suite times: every
    // cross-round regression call so far has started by hand-re-measuring
    // exactly these, and the r14 end-of-suite "isolated" numbers were
    // confounded by the suite's own JVM pressure — one fresh JVM per
    // query answers in-suite-vs-isolated directly. BENCH_FULL-only:
    // the headline line's bounded tail capture stays untouched.
    val top = results.filter(_.ok).sortBy(-_.secs).take(10)
    val freshMode = forks > 0
    val fresh: Seq[(QRes, Double)] = top.map { r =>
      val out = s"$tmp/one_${r.name}.tsv"
      val log = s"$tmp/one_${r.name}.log"
      val v: Option[Double] =
        if (freshMode) {
          System.err.println(s"[bench] isolated ${r.name} → fresh JVM")
          if (fork(Seq("one", r.name, out), log))
            readFragment(out).flatMap(_.headOption).filter(_.ok).map(_.secs)
          else { tailLog(log, 30); None }
        } else None
      val secs = v.getOrElse {
        if (freshMode) forkedOk = false
        measure(fallback, Seq(r.name))
          .filter(_.ok).map(_.secs).minOption.getOrElse(-1.0)
      }
      (r, secs)
    }
    val isoTag = s""","isolated_top5":${fresh.take(5).map { case (r, v) =>
      "\"" + r.name + "\":" + fmt(v) }.mkString("{", ",", "}")}"""
    // in-suite vs fresh-JVM gap, the §23-pressure adjudication artifact
    val gapTag = s""","fresh_top10":${fresh.map { case (r, v) =>
      s"""{"q":"${r.name}","in_suite":${fmt(r.secs)},"fresh":${fmt(v)},"gap":${
        if (v > 0) fmt(r.secs / v) else "-1"}}""" }.mkString("[", ",", "]")}"""
    val shufTag = s""","shuffle_mb":${results.map(r =>
      "\"" + r.name + "\":" + f"${r.shuffleBytes / 1e6}%.2f")
      .mkString("{", ",", "}")}"""
    val modeTag =
      s""","forks":$forks,"isolation":"${
        if (forks > 0 && forkedOk) "fresh_jvm"
        else if (forks > 0) "fresh_jvm_partial" else "in_suite_jvm"}""""

    // Full per-query breakdown → file (the judge reads it from the repo).
    val fullName = sys.env.getOrElse("SPARK_GRAFT_BENCH_FULL", "BENCH_FULL.json")
    val fullPath = java.nio.file.Paths.get(fullName)
    val fullLine = (jsonLine(results,
      s""","n_queries":${results.size}$errTag$isoTag$gapTag$shufTag$modeTag""") + "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    java.nio.file.Files.write(fullPath, fullLine)
    // ALSO keep a core-count-suffixed copy (VERDICT r19 #9): the driver
    // re-runs the bench at a lower core count for the scaling block and
    // its BENCH_FULL.json overwrite erased the only 32-core per-query
    // record of the full-bench-only queries (the IVM kernels). The
    // suffixed artifacts survive a full driver cycle side by side.
    // Measure.cpus is the value every session of this run was built
    // with, so the tag cannot mislabel the record
    val cpusTag = Measure.cpus
    val byCores = fullPath.resolveSibling(
      fullPath.getFileName.toString
        .replaceFirst("\\.json$", "") + s"_c$cpusTag.json")
    java.nio.file.Files.write(byCores, fullLine)
    // Headline subset → stdout (must fit the driver's bounded tail capture).
    // It names the record file this run wrote, JSON-escaped.
    val fullJson = fullName.replace("\\", "\\\\").replace("\"", "\\\"")
    println(jsonLine(results.filter(r => headline(r.name) || !r.ok),
      s""","n_queries":${results.size}$errTag,"full":"$fullJson""""))
  }
}
