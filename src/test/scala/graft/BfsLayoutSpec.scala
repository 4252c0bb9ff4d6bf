package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** The BFS kernels lay out lineitem's raw (part, supplier) pair multiset:
  * a wave's reached set does not depend on edge multiplicity, so no O(E)
  * distinct runs before the waves. */
class BfsLayoutSpec extends SparkSuite {

  // the kernels' supplier id shift (Graph.Off): parts and suppliers are
  // disjoint node spaces
  private val Off = 10000000L

  // parts 1-6, suppliers 1-4, most pairs repeated: a path p1 - s1 - p2 -
  // s2 - p3 - s3 - {p4, p5} (hops 0..6) plus the unreachable p6 - s4
  private val lines = Seq(
    1L -> 1L, 1L -> 1L, 2L -> 1L, 2L -> 2L, 2L -> 2L, 2L -> 2L,
    3L -> 2L, 3L -> 3L, 3L -> 3L, 4L -> 3L, 4L -> 3L, 5L -> 3L,
    6L -> 4L, 6L -> 4L)

  /** Textbook BFS from the smallest part over the distinct pair set. */
  private def reference(maxHop: Long): Set[(Long, Long)] = {
    val adj = lines.distinct
      .flatMap { case (p, s) => Seq(p -> (s + Off), (s + Off) -> p) }
      .groupBy(_._1).map { case (n, es) => n -> es.map(_._2) }
    var dist = Map(lines.map(_._1).min -> 0L)
    var frontier = dist.keySet
    var h = 0L
    while (frontier.nonEmpty && h < maxHop) {
      h += 1
      frontier = frontier.flatMap(adj).filterNot(dist.contains)
      dist ++= frontier.map(_ -> h)
    }
    dist.toSet
  }

  private def hops(df: DataFrame): Seq[(Long, Long)] =
    df.collect().toSeq.map(r => (r.getLong(0), r.getLong(1)))

  for ((name, kernel, maxHop) <- Seq(
      ("q_bfs_hops", queries.Graph.bfsHops _, 4L),
      ("q_bfs_full", queries.Graph.bfsFull _, Long.MaxValue)))
    test(s"$name: BFS over a multigraph's raw pairs equals BFS over its distinct pairs") {
      import spark.implicits._
      val raw = lines.toDF("p", "s")
      assert(raw.count() > raw.distinct().count()) // the duplicates are real
      val overRaw = hops(kernel(raw))
      assert(overRaw == hops(kernel(raw.distinct())))
      assert(overRaw.toSet == reference(maxHop))
      assert(overRaw.size == overRaw.toSet.size, s"$name emitted a node twice")
    }

  test("q_bfs_hops: the edge layout writes no shuffle bytes on the broadcast path") {
    val tally = new Measure.Tally(spark)
    try {
      val j0 = tally.nextJob()
      queries.Catalog.queries("q_bfs_hops")(spark, sfDir).collect()
      val jobs = tally.jobsSince(j0)
      val layout = jobs.filter(_.label.contains(".edgeLayout("))
      val stats = jobs.filter(_.label.contains(".nodeStats("))
      assert(layout.nonEmpty && stats.nonEmpty, s"jobs: $jobs")
      assert(layout.map(_.shuffleBytes).sum == 0L,
        s"the edge layout shuffled: $layout")
      // the stats job (source and V) ships per-partition distinct node
      // ids, far below one hash-exchanged copy of the pair multiset
      val c0 = tally.snap()
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select(col("l_partkey"), col("l_suppkey"))
        .repartition(4, col("l_partkey"), col("l_suppkey"))
        .write.format("noop").mode("overwrite").save()
      val copy = (tally.snap() - c0).shuffleBytes
      val statsBytes = stats.map(_.shuffleBytes).sum
      assert(copy > 0L)
      assert(statsBytes < copy / 2,
        s"the edge-layout stats shuffled $statsBytes bytes, one pair copy is $copy")
    } finally spark.sparkContext.removeSparkListener(tally)
  }
}
