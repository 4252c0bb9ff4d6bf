package graft

import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.types.BinaryType

/** Automated physical-plan guard for EVERY catalog query: no accidental
  * cartesian products, and nested-loop joins only where the operator's
  * semantics require one (tiny broadcast build sides). A regression that
  * turns an equi-join into a cross product at 100 TB is fatal — this
  * catches it at plan-build time, before any driver round. */
class PlanAuditSpec extends SparkSuite with AdaptiveSparkPlanHelper {

  /** Queries whose plans legitimately contain BroadcastNestedLoopJoin:
    * range join (5-row range dim), cosine top-k (broadcast query set,
    * non-equi self-exclusion predicate), the ANN bucket family and the IVF
    * family (corpus-adaptive parameters / packed centroid arrays are 1-ROW
    * aggregate frames cross-joined in as broadcasts — the build side is a
    * single row by construction), and q22/q11 (1-row above-average stats
    * frames, same pattern). */
  private val bnljAllowed = Set("q_range_join", "q_cosine_topk",
    "q_hard_negatives", // broadcast anchor set, non-equi self-exclusion

    "q_ann_buckets", "q_ann_bucket_stats", "q_neardup_bucketed",
    "q_ivf_assign", "q_ivf_topk", "q_ann_recall", "q_ann_recall_clustered",
    "q_ivf_recall", "q_ivf_recall_clustered",
    "q_ann_multiprobe", // 1-row band-width params frame broadcast-crossed in
    "q22_global_sales",
    "q11_important_stock", "q_text_search", "q_pagerank",
    "q_zorder_layout", // 1-row dims/zmax stat frames broadcast-crossed in
    "q_histogram",     // 1-row min/max bounds frame, same pattern
    "q_histogram_eqdepth", // 1-row percentile-boundary frame, same pattern
    "q_dsv2_zorder",   // 1-row key-bounds frame for the box predicate
    // the k-means family: packed-centroid and adaptive-K frames are
    // 1-row aggregates broadcast-crossed in (the IVF pattern)
    "q_kmeans_assign", "q_kmeans_profile", "q_semdedup",
    "q_domain_mix",    // 1-row (total, sqrt-mass) budget frame, same pattern
    "q_cooccur_pmi",   // 1-row n_pairs total frame for the lift denominator
    "q_ivf_build", "q_ivf_probe", // 1-row packed-centroid frames (IVF pattern)
    "q_ivf_ivm",       // 1-row frozen-centroid array frame (IVF pattern)
    "q_bm25_search",   // 1-row (n_docs, avgdl) corpus-stats frame
    "q_bm25_ivm",      // 1-row maintained corpus-stats frame, same pattern
    "q_quality_classifier", // 1-row trained weight-map frame broadcast-crossed in
    "q_embed_decontam") // 1-row packed-benchmark frame (IVF pattern)

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"$name plan has no cartesian product / unexpected nested loop") {
      val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$name plans a CartesianProduct:\n$plan")
      if (!bnljAllowed(name)) {
        assert(!plan.contains("BroadcastNestedLoopJoin"),
          s"$name plans an unexpected BroadcastNestedLoopJoin:\n$plan")
      }
    }
  }

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString

  test("q_filter_project pushes its predicates and prunes columns at the scan") {
    val p = plan("q_filter_project")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      s"shipdate filter must reach the parquet reader:\n$p")
    assert(!p.contains("l_returnflag"),
      s"untouched columns must be pruned from the scan:\n$p")
  }

  test("q_broadcast_join builds the dimension side as a broadcast hash join") {
    val p = plan("q_broadcast_join")
    assert(p.contains("BroadcastHashJoin"), s"expected BHJ:\n$p")
    assert(p.contains("BroadcastExchange"), s"expected broadcast build:\n$p")
  }

  test("q_sort_limit plans as TakeOrderedAndProject (per-partition heap)") {
    assert(plan("q_sort_limit").contains("TakeOrderedAndProject"))
  }

  test("q_dpp_prune injects a dynamic partition-pruning subquery, not a literal filter") {
    val p = plan("q_dpp_prune")
    assert(p.contains("dynamicpruningexpression"),
      s"fact scan must carry a runtime partition-pruning subquery:\n$p")
    // the pruning values must come from the dim at runtime — the static
    // plan may not have inlined the matching priorities
    assert(!p.contains("1-URGENT"),
      s"partition values must not be statically inlined:\n$p")
  }

  test("q_dsv2_runtime_join hands the runtime key set to the graft-tsv scan") {
    val p = plan("q_dsv2_runtime_join")
    assert(p.contains("GraftTsvScan"), s"fact side must be the connector:\n$p")
    assert(p.contains("RuntimeFilters: [dynamicpruningexpression"),
      s"the realized dim key set must reach the v2 scan at runtime:\n$p")
  }

  test("q_topk_common_max scans the corpus exactly once (single-pass form)") {
    val scans = "Scan parquet".r.findAllIn(plan("q_topk_common_max")).size
    assert(scans == 1, s"expected one documents scan, found $scans")
  }

  test("q_window_rank plans a partial/final WindowGroupLimit (rank pushdown)") {
    val p = plan("q_window_rank")
    assert(p.contains("WindowGroupLimit"), s"rank-limit pushdown missing:\n$p")
  }

  test("q_bucketed_join joins bucket-to-bucket: one Exchange total (the final agg), none on the join") {
    val p = plan("q_bucketed_join")
    assert(p.contains("SortMergeJoin"), s"expected SMJ over bucketed scans:\n$p")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1,
      s"bucketed join must not shuffle either side (only the final agg may):\n$p")
  }

  test("q_stopword_wordcount plans the stopword filter as a broadcast anti-join") {
    val p = plan("q_stopword_wordcount")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"expected broadcast left-anti (the DistributedCache analog):\n$p")
  }

  test("q4_order_priority plans the EXISTS as a semi-join (never a rewrite to inner+distinct)") {
    assert(plan("q4_order_priority").contains("LeftSemi"))
  }

  test("q18_large_volume keeps the HAVING membership as a semi-join and the top-100 as TakeOrdered") {
    val p = plan("q18_large_volume")
    assert(p.contains("LeftSemi") && p.contains("TakeOrderedAndProject"), p)
  }

  test("q_ivf_assign selects seeds via TakeOrderedAndProject, not a global sort") {
    val p = plan("q_ivf_assign")
    assert(p.contains("TakeOrderedAndProject(limit=64"),
      s"seed pool must be a per-partition heap:\n$p")
  }

  test("q21_waiting_supplier is one fact shuffle: no (l_orderkey, l_suppkey) distinct exchange") {
    val p = plan("q21_waiting_supplier")
    assert(!"hashpartitioning\\(l_orderkey#\\d+L, l_suppkey#".r.findFirstIn(p).isDefined,
      s"the supplier count must not expand into a distinct-key exchange:\n$p")
    assert("hashpartitioning\\(l_orderkey#".r.findAllIn(p).size == 1,
      s"expected exactly one fact exchange, on l_orderkey:\n$p")
  }

  test("q_span_dedup ranks its windows on a 16-byte binary digest") {
    val exec = SparkEntry.queries("q_span_dedup")(spark, sfDir).queryExecution.executedPlan
    val windows = collect(exec) { case w: WindowExec => w }
    assert(windows.nonEmpty, s"expected the gram-keyed rank window:\n$exec")
    windows.foreach { w =>
      assert(w.partitionSpec.map(_.dataType) == Seq(BinaryType),
        s"rank key must be the packed digest:\n$w")
    }
    val gramKeyed = collect(exec) { case e: ShuffleExchangeLike => e.outputPartitioning }
      .collect { case HashPartitioning(Seq(a: AttributeReference), _) if a.name == "g" => a }
    assert(gramKeyed.nonEmpty && gramKeyed.forall(_.dataType == BinaryType),
      s"gram exchange key:\n$exec")
  }

  test("q_sessionize_native runs through the custom Sessionize operator") {
    assert(plan("q_sessionize_native").contains("Sessionize "))
  }
}
