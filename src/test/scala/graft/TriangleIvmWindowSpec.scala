package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions.col

/** The triangle IVM windows after their artifact is served: the delta
  * window moves O(delta) bytes (the changes-feed diff and the adjacency no
  * longer shuffle the pair set) and the splice onto the artifact's counts
  * exchanges neither side. Every IVM window drops its fresh table, also
  * when it throws. */
class TriangleIvmWindowSpec extends SparkSuite with AdaptiveSparkPlanHelper {

  private val windows
      : Seq[(String, (SparkSession, String, String => Unit) => DataFrame,
        String, String)] = Seq(
    ("q_triangles_ivm", queries.Graph.trianglesIvmBuild _,
      "triivm_state", queries.Graph.triIvmRecipe),
    ("q_triangles_ivm_del", queries.Graph.trianglesIvmDelBuild _,
      "triivm_del_state", queries.Graph.triIvmDelRecipe))

  for ((q, build, artifact, recipe) <- windows)
    test(s"$q: the window after p1 shuffles less than one copy of the pair set") {
      build(spark, sfDir, _ => ()).collect() // the artifact is served below
      val tally = new Measure.Tally(spark)
      try {
        var atP1: Option[Measure.Snap] = None
        build(spark, sfDir, m => if (m == "p1") atP1 = Some(tally.snap()))
          .collect()
        val window = (tally.snap() - atP1.getOrElse(fail("no p1 mark")))
          .shuffleBytes
        // one copy of the pair set: the artifact's pairs through one
        // hash exchange
        val root = queries.ArtifactStore.root(sfDir, "lineitem", artifact, recipe)
        val c0 = tally.snap()
        spark.read.parquet(s"$root/edges").repartition(4, col("u"), col("v"))
          .write.format("noop").mode("overwrite").save()
        val copy = (tally.snap() - c0).shuffleBytes
        assert(copy > 0L)
        assert(window < copy,
          s"the delta window shuffled $window bytes, one pair-set copy is $copy")
      } finally spark.sparkContext.removeSparkListener(tally)
    }

  /** Shuffle bytes the warm q_triangles_ivm_del window over `dir` writes
    * from its "delta" mark (the net delta read) to its "apply" mark (the
    * endpoint broadcast, the per-node delta count and its sum), and the
    * window's top-20 rows; the artifact is served by a first run. */
  private def delWindow(session: SparkSession, dir: String): (Long, Seq[String]) = {
    queries.Graph.trianglesIvmDelBuild(session, dir, _ => ()).collect()
    val tally = new Measure.Tally(session)
    try {
      var atDelta, atApply: Option[Measure.Snap] = None
      val rows = queries.Graph.trianglesIvmDelBuild(session, dir, m =>
          if (m == "delta") atDelta = Some(tally.snap())
          else if (m.startsWith("apply")) atApply = Some(tally.snap()))
        .collect().map(_.toString).toSeq
      val bytes = (atApply.getOrElse(fail("no apply mark")) -
        atDelta.getOrElse(fail("no delta mark"))).shuffleBytes
      (bytes, rows)
    } finally session.sparkContext.removeSparkListener(tally)
  }

  /** The sf0.01 data dir, a sibling of the suite's sf0.001 `sfDir`. */
  private val sf001 = sfDir.stripSuffix("0.001") + "0.01"

  test("q_triangles_ivm_del at sf0.01: a one-partition delta counts its " +
      "triangles with no exchange") {
    val (bytes, rows) = delWindow(spark, sf001)
    assert(rows.nonEmpty)
    assert(bytes == 0L,
      s"the endpoint and delta-count jobs wrote $bytes shuffle bytes")
  }

  test("q_triangles_ivm_del at sf0.01: a delta of several partitions keeps " +
      "its exchanges and the same rows") {
    val (_, rows) = delWindow(spark, sf001)
    // no broadcast threshold: the changes-feed diff keeps its hash
    // exchange, so the delta arrives in more than one partition
    val wide = spark.newSession()
    wide.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val (bytes, wideRows) = delWindow(wide, sf001)
    assert(bytes > 0L, "a delta of several partitions planned no exchange")
    assert(wideRows === rows)
  }

  test("IvmWindow: a one-partition delta is declared one partition, a wider " +
      "one is returned as it is") {
    def window(session: SparkSession): (Int, Int) =
      queries.IvmWindow.run(session, sfDir, "ivmrule", "k BIGINT, v BIGINT") { w =>
        w.append(session.range(0, 40).select(col("id").as("k"),
          (col("id") % 7).as("v")))
        w.append(session.range(40, 80).select(col("id").as("k"),
          (col("id") % 7).as("v")))
        val d = w.delta(Seq("k", "v"))
        val agg = d.groupBy("v").count()
        assert(agg.collect().map(_.getLong(1)).sum == 40L)
        val exchanges = collect(agg.queryExecution.executedPlan) {
          case e: ShuffleExchangeExec => e
        }
        (d.rdd.getNumPartitions, exchanges.size)
      }
    val (parts, exchanges) = window(spark)
    assert(parts == 1 && exchanges == 0,
      s"one-partition delta: $parts partitions, $exchanges exchanges")
    val wide = spark.newSession()
    wide.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    wide.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    val (wparts, wexchanges) = window(wide)
    assert(wparts > 1 && wexchanges == 1,
      s"wide delta: $wparts partitions, $wexchanges exchanges")
  }

  /** Every window over a fresh table: (query, table prefix, a run that
    * reports its phases to `mark`). */
  private val freshWindows: Seq[(String, String, (String => Unit) => DataFrame)] = {
    import queries.{Catalog, Graph, TextAnalysis}
    Seq(
      ("q_pagerank_ivm", "privm", Graph.pagerankIvmBuild(spark, sfDir, _)),
      ("q_pagerank_ivm served", "privm",
        m => Graph.pagerankIvmServe(spark, sfDir, m)),
      ("q_components_ivm", "civm", Graph.componentsIvmBuild(spark, sfDir, _)),
      ("q_components_ivm_del", "civmd",
        Graph.componentsIvmDelBuild(spark, sfDir, _)),
      ("q_bfs_ivm", "bfsivm", Graph.bfsIvmBuild(spark, sfDir, _)),
      ("q_bfs_ivm_del", "bfsivmd", Graph.bfsIvmDelBuild(spark, sfDir, _)),
      ("q_bfs_ivm_mixed", "bfsivmmx", Graph.bfsIvmMixedBuild(spark, sfDir, _)),
      ("q_triangles_ivm", "triivm", Graph.trianglesIvmBuild(spark, sfDir, _)),
      ("q_triangles_ivm_del", "triivmd",
        Graph.trianglesIvmDelBuild(spark, sfDir, _)),
      ("q_label_prop_ivm", "lpivm", Graph.labelPropIvmBuild(spark, sfDir, _)),
      ("q_bm25_ivm", "bm25ivm", TextAnalysis.bm25IvmBuild(spark, sfDir, _)),
      ("q_pipeline_multimodal_ivm", "pmm",
        Catalog.pipelineMultimodalIvmBuild(spark, sfDir, _)))
  }

  /** The stateful parity exhibits that run in a window: (query, table
    * prefix, work-dir prefix or ""). */
  private val parityWindows = Seq(("q_dsv2_manifest_delta", "cust_mfd", ""),
    ("q_stream_ivm", "cust_sivm", "sivm"), ("q_stream_lsh_ivm", "docs_slsh", "slsh"))

  /** The fresh tables of `prefixes` over `sfDir`, and the work dirs of
    * `dirPrefixes`, that exist now. */
  private def leftovers(prefixes: Seq[String],
      dirPrefixes: Seq[String] = Nil): Set[String] = {
    val h = queries.ArtifactStore.dirDigest(sfDir)
    def names(d: java.io.File, stems: Seq[String]): Set[String] =
      Option(d.listFiles()).getOrElse(Array.empty).map(_.getName)
        .filter(n => stems.exists(n.startsWith)).toSet
    val tmp = new java.io.File(sys.props("java.io.tmpdir"))
    names(new java.io.File(tmp, "graft_parity_catalog/db"),
      prefixes.map(p => s"${p}_${h}_")) ++
      names(tmp, dirPrefixes.map(p => s"graft_${p}_${h}_"))
  }

  test("IVM windows leave no fresh table or work dir behind") {
    val prefixes = freshWindows.map(_._2) ++ parityWindows.map(_._2)
    val dirPrefixes = parityWindows.map(_._3).filter(_.nonEmpty)
    val before = leftovers(prefixes, dirPrefixes)
    for (_ <- 1 to 2) {
      for ((_, _, run) <- freshWindows) run(_ => ()).collect()
      for ((q, _, _) <- parityWindows)
        queries.Catalog.queries(q)(spark, sfDir).collect()
    }
    val left = leftovers(prefixes, dirPrefixes) -- before
    assert(left.isEmpty, s"windows left ${left.mkString(", ")}")
  }

  // a window that throws mid-way (here from its own phase callback, after
  // the table has taken its generations) must still drop its table, and
  // the caller must see the window's exception, not a cleanup error
  for ((q, prefix, run) <- freshWindows)
    test(s"$q: a window that throws still drops its table") {
      val at = if (q.endsWith("served")) "setup" else "delta"
      val boom = new IllegalStateException(s"$q: thrown at $at")
      val before = leftovers(Seq(prefix))
      val e = intercept[IllegalStateException] {
        run(m => if (m == at) throw boom).collect()
      }
      assert(e eq boom, s"the caller saw $e instead of the window's exception")
      val left = leftovers(Seq(prefix)) -- before
      assert(left.isEmpty, s"the failed window left ${left.mkString(", ")}")
    }

  test("triSplice: base counts plus signed delta counts, with no exchange") {
    import spark.implicits._
    val base = Seq(1L -> 3L, 2L -> 1L, 3L -> 2L, 5L -> 4L)
    // the full outer join the splice replaces, node by node
    def reference(delta: Seq[(Long, Long)], sign: Long): Set[(Long, Long)] = {
      val (b, d) = (base.toMap, delta.toMap)
      (b.keySet ++ d.keySet)
        .map(n => n -> (b.getOrElse(n, 0L) + sign * d.getOrElse(n, 0L)))
        .filter(_._2 > 0L)
    }
    for ((delta, sign) <- Seq(
        // adds: nodes 4 and 6 have no base triangle
        (Seq(2L -> 1L, 3L -> 2L, 4L -> 2L, 6L -> 1L), 1L),
        // deletes: node 2 loses its only triangle
        (Seq(2L -> 1L, 3L -> 1L), -1L))) {
      val out = queries.Graph.triSplice(base.toDF("node", "n_tri"),
        delta.toDF("node", "dn"), sign)
      val rows = out.collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(rows.toSet == reference(delta, sign), s"sign $sign")
      assert(rows.length == rows.toSet.size, s"sign $sign: a node twice")
      val exchanges = collect(out.queryExecution.executedPlan) {
        case e: ShuffleExchangeExec => e
      }
      assert(exchanges.isEmpty, s"sign $sign splice exchanged:\n$exchanges")
    }
  }
}
