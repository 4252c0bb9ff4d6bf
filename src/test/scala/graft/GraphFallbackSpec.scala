package graft

import org.apache.spark.sql.Row

/** The graph kernels' size-adaptive broadcast strategy (GraphAdaptive):
  * q_pagerank and q_triangles carry explicit `broadcast()` hints on their
  * O(V) per-node frames ONLY below `spark.graft.graph.broadcastVMax`; above
  * it they switch to a SHUFFLE_HASH build so the kernel degrades to a
  * shuffle join instead of failing at the broadcast ceiling. This spec
  * FORCES the large-V path (threshold 0 + auto-broadcast disabled, so
  * neither the hints nor AQE can smuggle a broadcast back in) and asserts
  * (a) the physical plan joins with no broadcast hash join anywhere, and
  * (b) the results are IDENTICAL to the default (broadcast-hinted) path.
  */
class GraphFallbackSpec extends SparkSuite {

  private def collectSorted(name: String): Array[Row] =
    queries.Catalog.queries(name)(spark, sfDir).collect()

  private def planOf(name: String): String =
    queries.Catalog.queries(name)(spark, sfDir)
      .queryExecution.executedPlan.toString

  private def forcingFallback[A](body: => A): A = {
    val keys = Seq(
      queries.GraphAdaptive.ConfKey -> "0",
      queries.GraphAdaptive.EdgeConfKey -> "0", // triangles' close joins
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val saved = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  // q_label_prop's per-round joins run during the loop's lineage
  // truncation (materialized eagerly under the forced conf, like
  // q_bfs_hops' waves), so the returned-plan assertions witness its
  // final community-size join while the result equality covers the
  // rounds themselves.
  for (q <- Seq("q_pagerank", "q_triangles", "q_label_prop")) {
    test(s"$q: forced no-broadcast path joins by shuffle and matches the default path") {
      val default = collectSorted(q)
      val (fallback, plan) = forcingFallback((collectSorted(q), planOf(q)))
      // the O(V)-frame joins must all have degraded to shuffle joins; the
      // only broadcast left is the 1-row stat frame's nested-loop cross
      // join (BroadcastNestedLoopJoin), which is size-independent
      assert(!plan.contains("BroadcastHashJoin"),
        s"$q fallback plan still broadcast-joins:\n$plan")
      assert(plan.contains("ShuffledHashJoin") || plan.contains("SortMergeJoin"),
        s"$q fallback plan has no shuffle join:\n$plan")
      assert(fallback.toSeq == default.toSeq,
        s"$q fallback result diverged from the broadcast path")
    }
  }

  // The CONVERGENCE-LOOP kernels (r13), and q_bfs_hops' fixed waves:
  // every per-round join runs during the loop's eager checkpoint
  // materialization, so the returned plan is just the final fold over the
  // last round's LogicalRDD — it may contain no join at all. The
  // forced-path witness is therefore (a) the returned plan never
  // broadcast-hash-joins and (b) the RESULT — including the converged
  // round count column, which any per-round plan divergence would shift —
  // is identical to the default path.
  for (q <- Seq("q_pagerank_converged", "q_label_prop_converged", "q_bfs_full",
      "q_bfs_hops")) {
    test(s"$q: forced no-broadcast loop converges to the identical result") {
      val default = collectSorted(q)
      // build ONCE under the forced conf: the builder itself runs the
      // whole multi-round loop, so a separate planOf() call would re-run
      // it a third time just to stringify the plan
      val (fallback, plan) = forcingFallback {
        val df = queries.Catalog.queries(q)(spark, sfDir)
        (df.collect(), df.queryExecution.executedPlan.toString)
      }
      assert(!plan.contains("BroadcastHashJoin"),
        s"$q fallback plan still broadcast-joins:\n$plan")
      assert(fallback.toSeq == default.toSeq,
        s"$q fallback result diverged from the broadcast path")
    }
  }

  // The incremental kernel: phase-1 convergence, state patch off the
  // changes feed, resumed phase-2. The oracle gate proves the
  // maintenance arithmetic bit-exact; THIS test pins the exhibit's two
  // qualitative claims — the resume is much cheaper than the cold run
  // (r2 << r1), and the maintained rank is ε-close to a cold full
  // recompute on the final graph (exact equality is NOT claimed:
  // ε-stopped integer trajectories from different seeds legitimately
  // differ in trailing digits — the class doc's warm-vs-cold argument).
  test("q_pagerank_ivm: resumed loop is short and ε-close to cold recompute") {
    val rows = collectSorted("q_pagerank_ivm")
    assert(rows.length == 50, s"expected top-50, got ${rows.length}")
    val (r1, r2) = (rows.head.getLong(2), rows.head.getLong(3))
    assert(r1 >= 5 && r2 >= 1 && r2 < r1,
      s"sparse resume should be far shorter than cold convergence " +
        s"(r1 = $r1, r2 = $r2)")
    // ε-closeness vs a COLD recompute on the SAME final (mutated) graph
    // (pagerankIvmColdFinal reconstructs `ef − dels` with the builder's
    // held-out arithmetic): two ε-stopped trajectories of the same
    // damped fixpoint each sit within α/(1−α)·ε ≈ 5.7ε of it (α = 0.85),
    // so their gap is bounded by ~12ε — the principled bound the old
    // comparison against q_pagerank_converged's UNSPLIT graph never had.
    val warm = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val (coldRows, eps) = queries.Graph.pagerankIvmColdFinal(spark, sfDir)
    val cold = coldRows.toMap
    val bound = 12L * eps
    warm.foreach { case (n, a) =>
      val b = cold.getOrElse(n,
        fail(s"node $n in ivm top-50 missing from the cold final graph"))
      assert(math.abs(a - b) <= bound,
        s"node $n: ivm pr $a vs cold-final pr $b diverge by " +
          s"${math.abs(a - b)} > 12ε = $bound — the maintained rank drifted")
    }
  }

  // The served maintenance path (persisted state + edge-set artifacts,
  // patch off the changes feed, NO base-table rescan) must be
  // BIT-IDENTICAL to the gate: same persisted state, same net delta,
  // same patch arithmetic, same final edge multiset ⇒ the same resumed
  // integer trajectory, including the round count.
  test("q_pagerank_ivm: served path is bit-identical to the gate") {
    val gate = collectSorted("q_pagerank_ivm")
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSeq
    val served = queries.Graph.pagerankIvmServe(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSeq
    assert(served == gate,
      "served maintenance path diverged from the gate's (node, pr, r2)")
  }

  // Incremental components: the oracle already proves the maintained
  // labeling equals the cold fixpoint (unique for min-propagation); this
  // pins the INCREMENTAL property itself — the resume runs and takes no
  // more rounds than the cold converge did.
  test("q_components_ivm: adds-only resume reaches the fixpoint within cold rounds") {
    val marks = scala.collection.mutable.ArrayBuffer.empty[String]
    val df = queries.Graph.componentsIvmBuild(spark, sfDir, marks += _)
    assert(df.count() > 0, "empty component labeling")
    val kv = phaseCounts(marks, "resume")
    assert(kv("r2") >= 1 && kv("r2") <= kv("r1"),
      s"resume rounds ${kv("r2")} exceed cold rounds ${kv("r1")}")
  }

  // Delete side: the recompute must be scoped to the AFFECTED components
  // (the mark carries the affected-component count), and the spliced
  // labeling is oracle-proven equal to the cold fixpoint of the final
  // edge set — this pins the scoping property the oracle can't see.
  test("q_components_ivm_del: delete batch recomputes only affected components") {
    val marks = scala.collection.mutable.ArrayBuffer.empty[String]
    val df = queries.Graph.componentsIvmDelBuild(spark, sfDir, marks += _)
    assert(df.count() > 0, "empty component labeling")
    val kv = phaseCounts(marks, "recompute")
    // a non-empty delta must touch at least one component; a regenerated
    // fixture whose held-out hash yields ZERO deletes legitimately takes
    // the no-op branch (aff=0, r2=0) — don't fail spuriously on it
    assert(kv("aff") >= 1 || kv("r2") == 0,
      s"a real delta produced an empty affected set: $kv")
    assert(kv("r2") <= kv("r1"),
      s"affected-subgraph recompute took more rounds than the full cold " +
        s"converge: $kv")
  }

  // Incremental BFS: oracle proves the resumed distances equal the cold
  // fixpoint; this pins the incremental property (the relaxation resumes
  // and converges within the cold round count).
  test("q_bfs_ivm: adds-only relaxation resumes within cold rounds") {
    val marks = scala.collection.mutable.ArrayBuffer.empty[String]
    val df = queries.Graph.bfsIvmBuild(spark, sfDir, marks += _)
    assert(df.count() > 0, "empty distance frame")
    val kv = phaseCounts(marks, "resume")
    assert(kv("r2") <= kv("r1") + 1,
      s"resume took materially more rounds than the cold converge: $kv")
  }

  // Delete side of BFS maintenance: the oracle proves the spliced
  // distances equal the cold fixpoint of the final graph; this pins the
  // three properties the oracle can't see — the dirty set is the deleted
  // edges' SP-subtrees (non-empty for a real delta), no node's hop ever
  // SHORTENS under deletes, and the exhibit delete genuinely LENGTHENS
  // at least one node's hop (or disconnects it) vs the persisted base.
  test("q_bfs_ivm_del: dirty-subtree recompute lengthens a hop, shortens none") {
    val marks = scala.collection.mutable.ArrayBuffer.empty[String]
    val df = queries.Graph.bfsIvmDelBuild(spark, sfDir, marks += _)
    val res = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(res.nonEmpty, "empty maintained distance frame")
    val kv = phaseCounts(marks, "recompute")
    assert(kv("dirty") >= 1 || kv("r2") == 0,
      s"a real delta produced an empty dirty set: $kv")
    val root = queries.Graph.bfsIvmDelStateRoot(spark, sfDir)
    val base = spark.read.parquet(s"$root/dist")
      .filter(org.apache.spark.sql.functions.col("dist") <
        queries.Graph.BfsInfBound)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val shortened = base.filter { case (n, d) => res.get(n).exists(_ < d) }
    assert(shortened.isEmpty,
      s"deletes SHORTENED hops for ${shortened.take(5).mkString(", ")}")
    val lengthened = base.count { case (n, d) => res.get(n).forall(_ > d) }
    assert(lengthened >= 1,
      "the exhibit delete lengthened no hop — the delete side is untested")
  }

  // Incremental triangle counting: the oracle proves the spliced counts
  // equal the cold kernel on the final graph; this pins that the exhibit
  // batch contributes REAL delta triangles (the min-delta-edge
  // attribution path actually runs) and that the maintained top-20
  // equals the cold Spark kernel's row-for-row.
  test("q_triangles_ivm: delta-attributed counts splice to the cold kernel") {
    val marks = scala.collection.mutable.ArrayBuffer.empty[String]
    val ivm = queries.Graph.trianglesIvmBuild(spark, sfDir, marks += _)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val cold = collectSorted("q_triangles")
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(ivm == cold,
      s"maintained triangle top-20 diverged from the cold kernel:\n$ivm\nvs\n$cold")
    val kv = phaseCounts(marks, "apply")
    assert(kv("dt") >= 1, s"the exhibit adds produced no delta triangle: $kv")
  }

  // Delete side: pure count subtraction — the removed-triangle tally
  // must be non-trivial and no node's count may rise vs the base state.
  test("q_triangles_ivm_del: subtraction removes real triangles, raises none") {
    val marks = scala.collection.mutable.ArrayBuffer.empty[String]
    val ivm = queries.Graph.trianglesIvmDelBuild(spark, sfDir, marks += _)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val kv = phaseCounts(marks, "apply")
    assert(kv("dt") >= 1, s"the exhibit deletes removed no triangle: $kv")
    val base = collectSorted("q_triangles")
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val raised = ivm.filter { case (n, c) => base.get(n).exists(_ < c) }
    assert(raised.isEmpty,
      s"deletes RAISED triangle counts for ${raised.take(5)}")
  }

  // Each triangle window seeds from its persisted artifact: a warm run
  // (artifact reused) must return the cold run's rows and apply mark
  // while shuffling less — the pair prologue runs only in the cold build.
  for ((q, build, artifact, recipe) <- Seq(
      ("q_triangles_ivm", queries.Graph.trianglesIvmBuild _,
        "triivm_state", queries.Graph.triIvmRecipe),
      ("q_triangles_ivm_del", queries.Graph.trianglesIvmDelBuild _,
        "triivm_del_state", queries.Graph.triIvmDelRecipe)))
    test(s"$q: a warm window returns the cold window's rows and shuffles less") {
      val root = new org.apache.hadoop.fs.Path(
        queries.ArtifactStore.root(sfDir, "lineitem", artifact, recipe))
      root.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(root, true)
      val tally = new Measure.Tally(spark)
      def run(): (Seq[Row], Seq[String], Long) = {
        val marks = scala.collection.mutable.ArrayBuffer.empty[String]
        val s0 = tally.snap()
        val rows = build(spark, sfDir, marks += _).collect().toSeq
        (rows, marks.filter(_.startsWith("apply:")).toSeq,
          (tally.snap() - s0).shuffleBytes)
      }
      try {
        val (coldRows, coldApply, coldBytes) = run()
        val (warmRows, warmApply, warmBytes) = run()
        assert(warmRows == coldRows,
          s"warm rows diverged:\n$warmRows\nvs\n$coldRows")
        assert(warmApply == coldApply && warmApply.size == 1,
          s"$warmApply vs $coldApply")
        assert(warmBytes < coldBytes,
          s"warm window shuffled $warmBytes bytes, cold $coldBytes")
      } finally spark.sparkContext.removeSparkListener(tally)
    }

  // Incremental label propagation: the oracle proves the spliced
  // labeling equals the cold global fixpoint (component locality); this
  // pins the SCOPING — the recompute touches a real, proper subset of
  // the final components, so the splice path actually ran.
  test("q_label_prop_ivm: recompute is scoped to the affected components") {
    val marks = scala.collection.mutable.ArrayBuffer.empty[String]
    val df = queries.Graph.labelPropIvmBuild(spark, sfDir, marks += _)
    assert(df.count() > 0, "empty labeling")
    val kv = phaseCounts(marks, "resume")
    // total final components on the same exhibit subgraph — from the
    // components gate, which runs on the identical edge set
    val totalComps = queries.Catalog.queries("q_components_ivm")(spark, sfDir)
      .select("component_id").distinct().count()
    assert(kv("aff") >= 1 || kv("r2") == 0,
      s"a real delta touched no component: $kv")
    assert(kv("aff") < totalComps,
      s"recompute was NOT scoped: affected ${kv("aff")} of $totalComps " +
        s"final components — the splice path never ran ($kv)")
  }

  // The IVM gates return the FULL per-node labeling/distance set. r17
  // collected it to the driver (to sequence checkpoint release) and
  // returned a parallelize(rows, 1) frame — O(V) driver memory and a
  // single-partition result, both scale-killers. The builders now spill
  // to parquet and return the read-back scan: this pins that the
  // returned plan is a DISTRIBUTED file scan with no driver-side
  // materialization left in it.
  // Mixed add+delete batch: both verbs must genuinely fire in the one
  // feed pass — deletes dirty a subtree AND adds activate endpoints.
  test("q_bfs_ivm_mixed: one batch applies both deletes and adds") {
    val marks = scala.collection.mutable.ArrayBuffer.empty[String]
    val df = queries.Graph.bfsIvmMixedBuild(spark, sfDir, marks += _)
    assert(df.count() > 0, "empty maintained distance frame")
    val kv = phaseCounts(marks, "recompute")
    assert(kv("dirty") >= 1,
      s"the delete side of the mixed batch touched nothing: $kv")
    assert(kv("addv") >= 1,
      s"the add side of the mixed batch activated nothing: $kv")
    assert(kv("r2") >= 1, s"the mixed resume never relaxed: $kv")
  }

  // The dirty-walk joins of the BFS delete/mixed maintenance (VERDICT r18
  // #1): the dirty SP-subtree approaches O(V) for a root-adjacent delete,
  // so every dirty/frontier/activation frame is size-gated through
  // GraphAdaptive.pick. This forces the SHUFFLE_HASH arm of that gate and
  // pins (a) the maintained result is identical to the broadcast path and
  // (b) the maintenance still fires (dirty >= 1, a real resume).
  for ((q, build) <- Seq[(String,
      (org.apache.spark.sql.SparkSession, String, String => Unit) =>
        org.apache.spark.sql.DataFrame)](
      "q_bfs_ivm_del" -> (queries.Graph.bfsIvmDelBuild(_, _, _)),
      "q_bfs_ivm_mixed" -> (queries.Graph.bfsIvmMixedBuild(_, _, _)))) {
    test(s"$q: forced no-broadcast dirty walk matches the broadcast path") {
      val default = build(spark, sfDir, _ => ()).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      val marks = scala.collection.mutable.ArrayBuffer.empty[String]
      val fallback = forcingFallback {
        build(spark, sfDir, marks += _).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSeq
      }
      val kv = phaseCounts(marks, "recompute")
      assert(kv("dirty") >= 1,
        s"forced run degenerated to a no-op delta: $kv")
      assert(fallback == default,
        s"$q: shuffle-hash dirty walk diverged from the broadcast path")
    }
  }

  for (q <- Seq("q_components_ivm", "q_components_ivm_del", "q_bfs_ivm",
      "q_bfs_ivm_del", "q_bfs_ivm_mixed")) {
    test(s"$q: returned plan is a distributed file scan, no driver round-trip") {
      val df = queries.Catalog.queries(q)(spark, sfDir)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Scan ExistingRDD") &&
        !plan.contains("LocalTableScan"),
        s"$q still returns a driver-materialized frame:\n$plan")
      assert(plan.contains("FileScan parquet") || plan.contains("BatchScan"),
        s"$q returned plan reads no parquet spill:\n$plan")
      assert(df.count() > 0, s"$q: empty result")
    }
  }

  test("default path keeps the broadcast hints below the ceiling") {
    // q_pagerank: its hinted rank/contrib joins live in the RETURNED
    // plan (the loop is unrolled declaratively). q_triangles' hinted deg
    // joins sit BEHIND the `d` checkpoint — materialized during build, so
    // the returned plan starts at a LogicalRDD and can't witness them —
    // but its CLOSE joins come after the checkpoint: below the edge
    // ceiling the adjacency side must broadcast (both close exchanges
    // vanish — the bench-SF plan the edge-adaptive strategy exists to
    // keep).
    assert(planOf("q_pagerank").contains("BroadcastHashJoin"),
      "q_pagerank default plan lost its broadcast hints")
    assert(planOf("q_triangles").contains("BroadcastHashJoin"),
      "q_triangles default close plan lost its adjacency broadcast")
  }
}
