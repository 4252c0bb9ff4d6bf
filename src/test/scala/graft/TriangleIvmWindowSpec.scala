package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions.col

/** The triangle IVM windows after their artifact is served: the delta
  * window moves O(delta) bytes (the changes-feed diff and the adjacency no
  * longer shuffle the pair set), the splice onto the artifact's counts
  * exchanges neither side, and each window drops its fresh table. */
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

  test("triangle windows leave no fresh table behind") {
    val db = new java.io.File(sys.props("java.io.tmpdir"),
      "graft_parity_catalog/db")
    val h = queries.ArtifactStore.dirDigest(sfDir)
    def tables: Set[String] = Option(db.listFiles()).getOrElse(Array.empty)
      .map(_.getName)
      .filter(n => n.startsWith(s"triivm_${h}_") || n.startsWith(s"triivmd_${h}_"))
      .toSet
    val before = tables
    for (_ <- 1 to 2; (_, build, _, _) <- windows)
      build(spark, sfDir, _ => ()).collect()
    assert(tables -- before == Set.empty[String],
      s"windows left ${(tables -- before).mkString(", ")}")
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
