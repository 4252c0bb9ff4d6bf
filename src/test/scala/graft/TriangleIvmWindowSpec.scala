package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The triangle IVM windows after their artifact is served: the delta
  * window moves O(delta) bytes (the changes-feed diff and the adjacency no
  * longer shuffle the pair set), and each window drops its fresh table. */
class TriangleIvmWindowSpec extends SparkSuite {

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
}
