package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** Dev/reporting tool: dump the FORMATTED physical plan of a representative
  * query per operator family to PLANS.md, so the plan-hygiene claims made
  * in SCALE.md (pushdown reaching the scan, broadcast build sides, SMJ
  * full outer, WindowGroupLimit, TakeOrderedAndProject, the custom
  * Sessionize operator) are inspectable without running anything.
  * PlanAuditSpec enforces the properties mechanically; this artifact is
  * the human-readable evidence.
  *
  *   sbt "runMain graft.Plans [sfDir] [outFile]"
  *
  * FINAL mode runs each named query once and writes its final AQE plan,
  * followed by every exchange's `shuffleBytesWritten`, the shuffle-write
  * total of all the query's jobs and that total split by job (each
  * writing job's bytes with its description or call site), to
  * `<outDir>/<q>.txt` — the before/after evidence a plan-changing
  * optimization lands with:
  *
  *   sbt "runMain graft.Plans final <sfDir> <outDir> <queries...>"
  */
object Plans {
  private val representative = Seq(
    "q_filter_project"   -> "pushdown + column pruning at the parquet scan",
    "q1_pricing_summary" -> "partial/final decimal aggregation",
    "q_broadcast_join"   -> "dimension broadcast hash join",
    "q5_local_supplier"  -> "multi-join TPC-H chain (broadcast dims + shuffled facts)",
    "q_full_outer"       -> "full outer = shuffle-both-sides sort-merge join",
    "q_interval_bin_join" -> "large-x-large interval join via binning (no nested loop)",
    "q_asof_join"        -> "as-of join as union + window (one shuffle)",
    "q_sort_limit"       -> "TakeOrderedAndProject (per-partition heap)",
    "q_window_rank"      -> "WindowGroupLimit rank pushdown",
    "q_sessionize_native" -> "custom Sessionize logical/physical operator",
    "q_minhash_signatures" -> "one-pass MinHash (widened scan, single HashAggregate)",
    "q_jaccard_pairs"    -> "LSH + capped rerank with pinned broadcast joins",
    "q_ann_buckets"      -> "hyperplane LSH scoring as literal-weight projections",
    "q_ivf_assign"       -> "zero-shuffle IVF assignment (broadcast centroid array)",
    "q_stratified_sample" -> "deterministic sampling = map-only filter",
    "q_heavy_hitters"    -> "MG sketch-prune (O(k) partials) + broadcast-semi exact recount",
    "q_upsert"           -> "MERGE INTO: delta-key anti-join + upsert union",
    "q_bucketed_join"    -> "bucketed co-located SMJ (one Exchange total: the final agg)",
    "q_pagerank"         -> "iterative graph: one shuffle per unrolled iteration",
    "q_zorder_layout"    -> "Morton z-value as a pure codegen projection (1-row stat broadcasts)",
    "q_compact_small_files" -> "compaction read-back aggregate (coalesce rewrite upstream)",
    "q_fingerprint_rolling" -> "zero-shuffle k-min fingerprint (rolling-hash array in one codegen span)",
    "q_dpp_prune"        -> "dynamic partition pruning (runtime dim values reuse the broadcast)",
    "q_dsv2_source"      -> "custom DSv2 connector (in-reader pushdown + pruned read schema)",
    "q_dsv2_runtime_join" -> "runtime V2 filtering (realized join keys dropped in-reader)",
    "q_dsv2_partitioned"  -> "hive-partitioned TSV read (partition predicates prune files at planning)",
    "q_dsv2_changes"      -> "changes feed (each diff side lists only the other endpoint's missing files — DiffExcludeGeneration on the scan; changed files under the broadcast threshold net out in one partition, no exchange)",
    "q_dsv2_zorder"       -> "z-order rewrite read-back (2-dim box predicate over the clustered table)",
    "q_kmeans_assign"     -> "Lloyd k-means: broadcast-centroid assignment + (cid, dim)-keyed update aggregate",
    "q_semdedup"          -> "semantic dedup: two-level k-means, (cid, scid)-local pair join bounds the quadratic at any corpus size",
    "q_triangles"         -> "degree-ordered triangle counting (adjacency-intersection close, O(E) shuffled rows)",
    "q_crossdoc_ngrams"   -> "cross-doc n-gram duplication (hashed grams, co-partitioned agg + join)",
    "q_salted_join"       -> "salted skew join: hot key spread 8 ways, dim replicated, SMJ on (key, salt)",
    "q_dsv2_ivm"          -> "incremental view maintenance: changes-feed delta scans only the diff files",
    "q_seq_packing"       -> "sequence packing: shard-local window cumsum (bounded partitions), integer pack assignment",
    "q_fuzzy_join"        -> "deletion-neighborhood fuzzy join (variant-keyed candidates, exact levenshtein verify)",
    "q_bfs_hops"          -> "frontier BFS over the raw pair multiset (no distinct): per-wave materialized frontier, O(V) anti-join, edges never move",
    "q_pq_topk"           -> "product quantization ANN: broadcast codebooks/ADC tables, one 3-long-per-row shuffle",
    "q_domain_mix"        -> "domain mixture reweighting: one tokenize+agg pass, 1-row budget frame broadcast back",
    "q_span_dedup"        -> "span-level exact-substring dedup: map-only window generation, ONE rank exchange keyed on the 16-byte binary digest, dup-tail-bounded doc rollup",
    "q_prefix_join"       -> "prefix-filtered exact set-similarity join: scan rows straight into one hp-keyed dedup + df window, only shared (df ≥ 2) elements regrouped, prefix-only candidate equi-join, SHJ verify over shared arrays (pair side builds)",
    "q_sorted_neighborhood" -> "sorted-neighborhood dedup: distributed global rank (range partition + offset cumsum), rank-equi-join window pairs",
    "q_label_prop"        -> "label propagation: per-round (dst,lbl) vote exchange + struct-argmin hash agg, no window sort",
    "q_bpe_pairs"         -> "BPE pair counts: corpus touched once (word-freq agg), symbol explosion over the VOCABULARY",
    "q_histogram_eqdepth" -> "equi-depth histogram: percentile boundaries broadcast back, map-only bucket assignment (no global ntile)",
    "q_dq_checks"         -> "DQ constraint suite: one agg pass per table + AQE-sized FK anti-joins, long-format report",
    "q_ivf_probe"         -> "stored-index ANN probe: centroids + cell-partitioned inverted file read from parquet, ZERO training work in-plan",
    "q_bm25_search"       -> "BM25 ranking: 3-term broadcast tf, doc-length join, integer-exact rational scoring",
    "q_quality_classifier" -> "learned quality gate: 4096-bounded training exchange, one-row weight-map broadcast, map-only inference",
    "q_chunking"          -> "RAG chunking: overlapping token windows + fingerprints as ONE map-only codegen projection, zero shuffle",
    "q_hard_negatives"    -> "triplet mining: broadcast anchors, both directions in one window pass (sign-flipped sort key)",
    "q_dsv2_manifest_delta" -> "delta/checkpoint manifest read path: scan resolves one _mseg segment + #del/inline delta lines",
    "q_embed_decontam"    -> "embedding-space decontamination: fixed broadcast benchmark list, map-only integer threshold audit",
    "q_blob_neardup"      -> "perceptual blob near-dup: aHash fingerprints from the decode seam, banded-Hamming bucket pairs, bit_count(xor) rerank",
    "q_ann_recall_clustered" -> "clustered-corpus ANN recall: derived jittered copies unioned in-plan, LSH + IVF candidate paths vs broadcast exact top-k")

  def main(args: Array[String]): Unit =
    if (args.headOption.contains("final")) finalPlans(args(1), args(2), args.drop(3))
    else formatted(args)

  /** The executed (final) AQE plan of the query `build` returns, in
    * formatted mode, then one line per distinct shuffle exchange (its
    * partitioning, origin and shuffle-write bytes), their total, and the
    * shuffle-write total of EVERY job the query ran — building it
    * (checkpoints, loop rounds) included, which the final plan does not
    * show — followed by one line per job that wrote shuffle bytes.
    * Builds and runs the query. */
  private def finalPlan(tally: Measure.Tally, build: => DataFrame): String = {
    val before = tally.snap()
    val firstJob = tally.nextJob()
    val df = build
    df.collect()
    val allJobs = (tally.snap() - before).shuffleBytes
    val jobs = tally.jobsSince(firstJob)
    val plan = df.queryExecution.explainString(FormattedMode)
    val exchanges = new AdaptiveSparkPlanHelper {}
      .collect(df.queryExecution.executedPlan) { case e: ShuffleExchangeExec => e }
      .distinct
    val lines = exchanges.map { e =>
      s"Exchange ${e.outputPartitioning}, ${e.shuffleOrigin}: " +
        s"shuffleBytesWritten = ${e.metrics("shuffleBytesWritten").value}"
    }
    val total = exchanges.map(_.metrics("shuffleBytesWritten").value).sum
    plan + "\n== Exchanges ==\n" + lines.mkString("", "\n", "\n") +
      s"total shuffleBytesWritten = $total\n" +
      s"all jobs shuffleBytesWritten = $allJobs\n" +
      "== Jobs ==\n" + jobs.filter(_.shuffleBytes > 0L).map { j =>
        f"job ${j.jobId}%d: shuffleBytesWritten = ${j.shuffleBytes}%d, ${j.label}\n"
      }.mkString +
      s"${jobs.size} jobs, ${jobs.count(_.shuffleBytes == 0L)} without shuffle writes\n"
  }

  private def finalPlans(sfDir: String, outDir: String, names: Seq[String]): Unit = {
    val spark = Measure.session("graft-plans", cpus = 4)
    spark.sparkContext.setLogLevel("ERROR")
    val tally = new Measure.Tally(spark)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      val out = java.nio.file.Paths.get(outDir, s"$name.txt")
      java.nio.file.Files.write(out,
        finalPlan(tally, SparkEntry.queries(name)(spark, sfDir))
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"[plans] wrote $out")
    }
    spark.stop()
  }

  private def formatted(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val out = if (args.length > 1) args(1) else "PLANS.md"
    // a fixed core count, so the plans' partition counts do not depend
    // on the host that regenerates the artifact
    val spark = Measure.session("graft-plans", cpus = 4)
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of representative queries\n\n")
    sb.append(s"Generated by `graft.Plans` over `$sfDir`. One query per operator\n")
    sb.append("family; the full catalog is plan-audited by PlanAuditSpec (no\n")
    sb.append("cartesian products, nested-loop joins only on 1-row/query-set\n")
    sb.append("broadcast builds, pinned pushdown/broadcast/top-k shapes).\n")
    representative.foreach { case (name, why) =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(FormattedMode)
      sb.append(s"\n## $name — $why\n\n```\n$plan```\n")
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(s"[plans] wrote ${representative.size} plans to $out")
    spark.stop()
  }
}
