package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Checkpoints.{TruncateOps, truncateObserved}

import Parity._

/** Size-adaptive handling of the O(V) per-node frames both kernels join
  * against their O(E) edge lists. Below the threshold the frame carries an
  * explicit `broadcast()` hint (checkpoint-backed edge statistics
  * otherwise bait Catalyst into broadcasting the O(E) side — observed
  * BuildLeft on the 1M-row side); above it the hint would FAIL OUTRIGHT
  * at the broadcast ceiling, so the kernels switch to the co-partitioned
  * form instead: the edge list is hash-partitioned on its join key ONCE
  * (at checkpoint time, so the partitioning is baked into the
  * materialized blocks and every iteration reuses it), and the per-node
  * frame arrives via a SHUFFLE_HASH build — one O(V) exchange per join,
  * the edge list never moves. The threshold is exact, not estimated: V
  * is counted off an already-materialized checkpoint (a metadata-cheap
  * job), and `spark.graft.graph.broadcastVMax` (rows) makes the
  * crossover point tunable per session — the forced-fallback spec in
  * GraphFallbackSpec sets it to 0 and asserts the shuffle-join plan AND
  * identical results. */
private[graft] object GraphAdaptive {
  val ConfKey = "spark.graft.graph.broadcastVMax"
  /** ~128 MB of (node, long) rows — comfortably under Spark's broadcast
    * ceiling with headroom for row overhead. */
  val DefaultVMax = 8000000L

  def broadcastOk(spark: SparkSession, v: Long): Boolean =
    v <= spark.conf.get(ConfKey, DefaultVMax.toString).toLong

  /** Separate, tighter ceiling for EDGE-sized frames (q_triangles'
    * adjacency lists total O(E) array cells regardless of their O(V) row
    * count — a V-based test would wave through a multi-GB broadcast).
    * Crossover tuned on the 30× harness: below it AQE's broadcast of the
    * adjacency side erases both close exchanges (the right call at bench
    * SF); above it the build side no longer fits and the kernel switches
    * to the co-partitioned SHUFFLE_HASH form. */
  val EdgeConfKey = "spark.graft.graph.broadcastEMax"
  val DefaultEMax = 4000000L

  def broadcastEdgesOk(spark: SparkSession, e: Long): Boolean =
    e <= spark.conf.get(EdgeConfKey, DefaultEMax.toString).toLong

  /** The strategy both kernels apply to a frame joined against their
    * big co-partitioned side: explicit broadcast under the relevant
    * ceiling, SHUFFLE_HASH build above it (exchange the small side,
    * stream the big one — never sort it, never move it). */
  def pick(bcast: Boolean)(df: DataFrame): DataFrame =
    if (bcast) broadcast(df) else df.hint("shuffle_hash")
}

/** Iterative graph analytics beyond connected components (q_dedup_components
  * is the convergence-loop variant with checkpoint truncation; this module
  * is the fixed-iteration variant whose whole computation stays ONE
  * declarative plan).
  *
  * q_pagerank runs damped PageRank over the bipartite part↔supplier graph
  * induced by lineitem (edges both directions, so no node is a universal
  * sink). All arithmetic is scaled-integer (`div`, never `/`) so the
  * result is bit-identical across engines — the same discipline as
  * q_text_search's tf-idf and the quantized cosine queries.
  *
  * Scale shape: each iteration is exactly one shuffle (the contribution
  * sum on dst); the out-degree is pre-joined onto the edge list ONCE and
  * reused by every iteration, and the per-node rank frame stays (node, pr)
  * — O(V) rows, never O(E). At 100 TB you run the loop form with a
  * convergence test and `localCheckpoint` lineage truncation exactly as
  * q_dedup_components does; 3 iterations are unrolled here so the plan is
  * static and oracle-comparable. Skewed in-degree (celebrity nodes) salts
  * the contribution aggregation the same way q_salted_agg does. */
object Graph {

  private val Scale = 1000000000000L // rank mass ×1e12, integer-exact
  private val Off = 10000000L        // supplier ids shifted into their own space
  private val Iters = 3

  private val pagerankSql: String = {
    val base = s"($Scale * 15) // (100 * nn.cnt)"
    val iters = (1 to Iters).map { i =>
      val prev = s"pr${i - 1}"
      s"""c$i AS (
  SELECT e.dst, CAST(sum(p.pr // d.outdeg) AS BIGINT) AS cin
  FROM edges e JOIN deg d ON d.src = e.src JOIN $prev p ON p.node_id = e.src
  GROUP BY e.dst),
pr$i AS (
  SELECT n2.node_id, $base + (85 * coalesce(c$i.cin, 0)) // 100 AS pr
  FROM nodes n2 CROSS JOIN nn LEFT JOIN c$i ON c$i.dst = n2.node_id)"""
    }.mkString(",\n")
    s"""WITH e0 AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
edges AS (SELECT p AS src, s + $Off AS dst FROM e0
          UNION ALL SELECT s + $Off AS src, p AS dst FROM e0),
deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
nodes AS (SELECT DISTINCT src AS node_id FROM edges),
nn AS (SELECT count(*) AS cnt FROM nodes),
pr0 AS (SELECT node_id, $Scale // nn.cnt AS pr FROM nodes CROSS JOIN nn),
$iters
SELECT node_id, pr FROM pr$Iters ORDER BY pr DESC, node_id LIMIT 50"""
  }

  /** The smallest part id (None = no pairs) and V of a (p, s) pair frame,
    * off ONE distinct over the node ids: both are the same over a
    * multiset and its set, V counts each node space once (they are
    * disjoint by the Off shift), and the min is a part's (parts sit below
    * Off). Not `countDistinct(p)` + `countDistinct(s)`: Spark plans two
    * distinct groups through an Expand that numbers them in the hash
    * order of their attributes' exprIds, which change with every query a
    * session plans, so that job's shuffle bytes flipped between runs. */
  private def nodeStats(pairs: DataFrame): (Option[Long], Long) = {
    val r = pairs.select(explode(array(col("p"), col("s") + Off)).as("n"))
      .distinct().agg(min(col("n")), count(col("n"))).head()
    (if (r.isNullAt(0)) None else Some(r.getLong(0)), r.getLong(1))
  }

  /** Shared PageRank graph layout: the distinct bipartite pair set
    * materialized once, both edge directions with the out-degree
    * pre-joined (co-partitioned on src in the fallback), the node set,
    * and the O(V)-frame join-strategy picker. Both the fixed-iteration
    * and the convergence-loop kernels build on exactly this frame, so
    * the pinned plan shape (edges never move; only O(V) frames exchange)
    * is shared by construction. */
  private final case class PrGraph(
      edgesW: DataFrame, nodes: DataFrame, pv: DataFrame => DataFrame)

  private def prGraph(spark: SparkSession, dir: String): PrGraph =
    prGraphFromPairs(spark, tbl(spark, dir, "lineitem")
      .select(col("l_partkey").as("p"), col("l_suppkey").as("s")))

  /** [[prGraph]] generalized to ANY (p, s) bipartite pair frame — the
    * incremental kernel builds its base and final graphs from a mutating
    * connector table, so the graph constructor cannot be welded to the
    * lineitem read. Checkpoints eagerly: the returned frames are
    * MATERIALIZED blocks, decoupled from whatever `pairs` read (a table
    * about to be mutated stays safe to snapshot this way). */
  /** `dstLayout` (broadcast path only): lay the edge blocks out by DST so
    * every loop round's contribution aggregate is partition-local — one
    * O(E) exchange at build buys exchange-free rounds. Measured shuffle
    * bytes at sf0.1: q_pagerank_converged 58.1 → 31.1 MB,
    * q_label_prop 44.6 → 21.8 MB. TRUE for the PageRank kernels (many
    * rounds of O(V·partitions)+O(touched-dst) exchanges amortize the
    * layout); FALSE for the BFS builders — their per-wave aggregates are
    * frontier-sized, so the O(E) layout costs more than all waves save
    * (measured q_bfs_full 8.0 → 16.7 MB when laid out — reverted). */
  private def prGraphFromPairs(spark: SparkSession, pairs: DataFrame,
      dstLayout: Boolean = true): PrGraph = {
    // materialize the distinct pair set ONCE — both edge directions,
    // the degree count, and the node set all derive from these blocks
    val e0 = pairs
      .select(col("p"), col("s"))
      .distinct()
      .truncateLineage
    // V exactly, off the materialized pair set — one job that decides
    // the join strategy BEFORE the edge list is laid down, so the
    // fallback can bake its co-partitioning into the checkpoint
    val bcast = GraphAdaptive.broadcastOk(spark, nodeStats(e0)._2)
    val edges0 = e0
      .select(col("p").as("src"), (col("s") + Off).as("dst"))
      .unionByName(e0.select((col("s") + Off).as("src"), col("p").as("dst")))
    // fallback pre-partitions the edge list on the per-iteration join
    // key (src — the SHUFFLE_HASH probes need it) so the partitioning is
    // baked into the checkpointed blocks (LogicalRDD preserves
    // outputPartitioning) and NO iteration ever exchanges it. On the
    // broadcast path the per-iteration src join is map-side (the O(V)
    // frames broadcast), so the edge blocks are laid out by DST instead
    // (OPTIMIZATION r20, guide §2.4 exchange reuse): the only exchange
    // the loops still paid per round was the contribution aggregate's
    // O(V·partitions) partial exchange on dst — with hash(dst) baked into
    // the checkpoint, groupBy(dst) is partition-local and a round runs
    // with NO exchange at all. One O(E) exchange at build time buys
    // exchange-free rounds for every consumer (the 3-iteration kernel,
    // the ~30-round converged loop, the push-loop state builds).
    val edges = if (!bcast) edges0.repartition(col("src"))
                else if (dstLayout) edges0.repartition(col("dst"))
                else edges0
    val deg = edges.groupBy("src").agg(count(lit(1)).as("outdeg"))
    // O(V) frames: [[GraphAdaptive.pick]] against the V ceiling
    val pv = GraphAdaptive.pick(bcast) _
    // degree rides the edge list from here on — joined once, reused by
    // every iteration (materialized so the distinct+union subtree does
    // not re-run per iteration); in the fallback deg is already
    // co-partitioned with edges (it aggregates them on src), so the
    // join is exchange-free even before the checkpoint.
    // truncateLineagePartitioned where a layout was applied, NOT plain
    // truncateLineage (OPTIMIZATION r20): under AQE the checkpoint
    // recorded UnknownPartitioning, so the layout chosen above was
    // invisible to every iteration's planner and each round re-exchanged
    // — see Checkpoints.truncate(df, Boolean)
    val edgesW0 = edges.join(pv(deg), "src")
    val edgesW = if (!bcast || dstLayout) edgesW0.truncateLineagePartitioned
                 else edgesW0.truncateLineage
    val nodes = edgesW.select(col("src").as("node_id")).distinct()
      .truncateLineage
    // edgesW and nodes are materialized ⇒ the seed pair frame's
    // checkpoint is unreachable; reclaim it in reliable mode
    graft.Checkpoints.release(e0)
    PrGraph(edgesW, nodes, pv)
  }

  private val qPagerank = QueryDef(
    "q_pagerank",
    Some(pagerankSql),
    (spark, dir) => {
      val g = prGraph(spark, dir)
      val (edgesW, nodes, pv) = (g.edgesW, g.nodes, g.pv)
      val nn = nodes.agg(count(lit(1)).as("cnt"))
      var pr = nodes.crossJoin(broadcast(nn))
        .select(col("node_id"), expr(s"${Scale}L div cnt").as("pr"))
      for (_ <- 1 to Iters) {
        // rank and contribution frames are O(V) — below the broadcast
        // ceiling they carry EXPLICIT broadcast hints: checkpoint-backed
        // edge statistics otherwise bait Catalyst into broadcasting the
        // O(E) edge list (observed BuildLeft on the 1M-row side, 3× per
        // plan). With the hints, an iteration is: map-side probe over
        // the edge blocks + partial agg + one O(V·partitions) exchange —
        // the edge list never moves. Above the ceiling (V >
        // spark.graft.graph.broadcastVMax) a forced broadcast would FAIL
        // OUTRIGHT, so GraphAdaptive switches both frames to a
        // SHUFFLE_HASH build against the src-partitioned edge
        // checkpoint: the O(V) frame exchanges, the edge list still
        // never moves. GraphFallbackSpec forces this path and asserts
        // plan shape + identical results.
        val contrib = edgesW
          .join(pv(pr), col("src") === col("node_id"))
          .select(col("dst"), expr("pr div outdeg").as("c1"))
          .groupBy("dst").agg(sum(col("c1")).as("cin"))
        pr = nodes.crossJoin(broadcast(nn))
          .join(pv(contrib), col("node_id") === col("dst"), "left")
          .select(col("node_id"),
            (expr(s"(${Scale}L * 15) div (100 * cnt)") +
              expr("(85 * coalesce(cin, 0L)) div 100")).as("pr"))
      }
      pr.orderBy(desc("pr"), asc("node_id")).limit(50)
    })

  /** PageRank run to CONVERGENCE — the loop form the fixed-3-iteration
    * [[qPagerank]] stands in for at bench time, with the
    * q_dedup_components checkpoint/fail-loud discipline: iterate until
    * the largest per-node rank change drops below ε = Scale/(10·V)
    * (one-tenth of the average rank — the ordering-stability threshold;
    * rank VALUES keep drifting in the 15th digit long after the ordering
    * froze), truncating lineage every round and releasing round N−1's
    * checkpoint once round N is materialized, with a hard 100-round cap
    * that FAILS LOUDLY rather than silently returning a half-converged
    * frame. The converged round count is a RESULT COLUMN: because every
    * step is integer-exact (`div`, scaled rank mass), the DuckDB oracle
    * — the same recurrence as a recursive CTE whose working table
    * carries (pr, prev-round Δ) and stops on the same ε — follows the
    * bit-identical trajectory and must stop at the SAME round, so the
    * hash gate proves trajectory, stopping rule, and fixpoint all at
    * once.
    *
    * Scale shape: [[prPushLoop]] over [[qPagerank]]'s edge layout (edges
    * never move; a round exchanges only the changed vertices'
    * contributions); the convergence metric rides the round's own
    * checkpoint job ([[graft.Checkpoints.truncateObserved]]), so it adds
    * no extra pass over the data. */
  private val PrEpsDiv = 10L   // ε = Scale / (PrEpsDiv · V)
  private val PrMaxRounds = 100L

  /** Cold-start state for [[prPushLoop]]: every vertex at the uniform
    * seed rank, nothing yet propagated (lpu = cin = 0 — the loop's
    * telescoped-sum invariant `cin = Σ_{in-edges} lpu(src)` holds
    * trivially at the seed). */
  private def prPushSeed(g: PrGraph, pr0: Long): DataFrame = {
    val outdegs = g.edgesW.select(col("src"), col("outdeg")).distinct()
    g.nodes.join(g.pv(outdegs), col("node_id") === col("src"))
      .select(col("node_id"), col("outdeg"), lit(pr0).as("pr"),
        // integer div, same arithmetic as the in-loop
        // `pr div outdeg` — double division here would only be
        // accidentally exact while pr0·outdeg < 2^53
        expr(s"$pr0 div outdeg").as("unit"),
        lit(0L).as("lpu"), lit(0L).as("cin"))
  }

  /** PUSH-ON-CHANGE convergence loop (SCALE.md §30 measured it against
    * a full re-exchange of every vertex's contribution each round, and
    * it won): state = (node_id, outdeg, pr, unit, lpu, cin) where unit =
    * pr div outdeg (the per-edge contribution), lpu = the unit whose
    * contributions cin currently reflects. A round exchanges ONLY the
    * edges of vertices with unit ≠ lpu; the integer telescope
    * cin_k = cin_{k-1} + Σ Δunit is exact (the div happens at the
    * per-node unit, never on the accumulation path), so every round's
    * rank is BIT-IDENTICAL to the full-form recurrence the DuckDB oracle
    * runs. As vertices hit their integer fixpoints the active set — and
    * with it the round's exchange — collapses toward zero.
    *
    * RESUMABLE: `init` is any state satisfying the cin invariant — the
    * cold-start seed ([[prPushSeed]]) or a converged state patched for
    * an edge delta (q_pagerank_ivm), which is the whole point of the
    * push form: a sparse update reactivates only the patched vertices.
    * Returns the final state frame (the checkpoint root, with the last
    * |Δpr| column `d`; the caller owns its release) and the round count.
    *
    * The throw fires only BEYOND the cap, so round PrMaxRounds itself
    * executes — mirroring the oracle's `rounds < cap` recursion guard
    * exactly: an input converging AT the cap returns identically in both
    * engines; one that never converges fails loudly here while the
    * oracle stops silently (a gate error, the honest outcome for a
    * broken contract). */
  private def prPushLoop(
      g: PrGraph, init: DataFrame, prBase: Long, eps: Long): (DataFrame, Long) =
    graft.Checkpoints.fixpoint("prPushLoop", PrMaxRounds,
        (graft.Checkpoints.truncate(init), 1L),
        max((col("d") >= eps).cast("long"))) { ck =>
      val cur = ck.select("node_id", "outdeg", "pr", "unit", "lpu", "cin")
      val active = cur.filter(col("unit") =!= col("lpu"))
        .select(col("node_id").as("asrc"),
          (col("unit") - col("lpu")).as("du"))
      val dAgg = g.edgesW.join(g.pv(active), col("src") === col("asrc"))
        .select(col("dst"), col("du"))
        .groupBy("dst").agg(sum(col("du")).as("dd"))
      cur
        .join(g.pv(dAgg), col("node_id") === col("dst"), "left")
        .select(col("node_id"), col("outdeg"),
          (col("cin") + coalesce(col("dd"), lit(0L))).as("cin"),
          col("pr").as("prev_pr"), col("unit").as("lpu_next"))
        .select(col("node_id"), col("outdeg"), col("cin"),
          (lit(prBase) + expr("(85 * cin) div 100")).as("pr"),
          col("prev_pr"), col("lpu_next"))
        .select(col("node_id"), col("outdeg"), col("pr"),
          expr("pr div outdeg").as("unit"),
          col("lpu_next").as("lpu"), col("cin"),
          abs(col("pr") - col("prev_pr")).as("d"))
    }

  private val pagerankConvergedSql: String = s"""
WITH RECURSIVE
e0 AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
edges AS (SELECT p AS src, s + $Off AS dst FROM e0
          UNION ALL SELECT s + $Off AS src, p AS dst FROM e0),
deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
nodes AS (SELECT DISTINCT src AS node_id FROM edges),
nn AS (SELECT count(*) AS cnt FROM nodes),
eps AS (SELECT $Scale // ($PrEpsDiv * cnt) AS e FROM nn WHERE cnt > 0),
it(node_id, pr, delta, rounds) AS (
  SELECT node_id, $Scale // nn.cnt, CAST($Scale AS BIGINT), CAST(0 AS BIGINT)
  FROM nodes CROSS JOIN nn
  UNION ALL
  SELECT nx.node_id, nx.pr,
    CAST(max(abs(nx.pr - nx.prev)) OVER () AS BIGINT),
    nx.rounds + 1
  FROM (
    SELECT n2.node_id,
      ($Scale * 15) // (100 * nn.cnt) + (85 * coalesce(c.cin, 0)) // 100 AS pr,
      p2.pr AS prev, p2.rounds AS rounds
    FROM nodes n2 CROSS JOIN nn CROSS JOIN eps
    JOIN it p2 ON p2.node_id = n2.node_id
    LEFT JOIN (
      SELECT e.dst, CAST(sum(p.pr // d.outdeg) AS BIGINT) AS cin
      FROM edges e JOIN deg d ON d.src = e.src JOIN it p ON p.node_id = e.src
      GROUP BY e.dst) c ON c.dst = n2.node_id
    WHERE p2.delta >= eps.e AND p2.rounds < $PrMaxRounds
  ) nx
)
SELECT node_id, CAST(pr AS BIGINT) AS pr, rounds
FROM it WHERE rounds = (SELECT max(rounds) FROM it)
ORDER BY pr DESC, node_id LIMIT 50"""

  private val qPagerankConverged = QueryDef(
    "q_pagerank_converged",
    Some(pagerankConvergedSql),
    (spark, dir) => {
      val g = prGraph(spark, dir)
      val nn = g.nodes.agg(count(lit(1)).as("cnt"))
      // V drives both ε and the broadcast pick; one metadata-cheap job
      // (the nodes frame is already materialized)
      val vCnt = nn.head().getLong(0)
      if (vCnt == 0L) {
        // empty graph: zero rows, matching the oracle's empty recursion
        graft.Checkpoints.release(g.edgesW); graft.Checkpoints.release(g.nodes)
        spark.range(0).select(col("id").as("node_id"), col("id").as("pr"),
          col("id").as("rounds"))
      } else {
        val eps = Scale / (PrEpsDiv * vCnt)
        // V is already a driver Long, so the per-node teleport base and
        // the seed rank are LITERALS — the fixed-iteration query keeps the
        // in-plan nn cross-join (its whole computation is one static
        // plan), but re-aggregating + cross-joining a 1-row frame in
        // every round of a 33-round loop is pure per-round stage
        // overhead. Integer semantics are identical: Long division
        // truncates exactly like `div`/`//` on these positive values.
        val prBase = (Scale * 15L) / (100L * vCnt)
        val pr0 = Scale / vCnt
        val (cur, rounds) = prPushLoop(g, prPushSeed(g, pr0), prBase, eps)
        cur.select(col("node_id"), col("pr"), lit(rounds).as("rounds"))
          .orderBy(desc("pr"), asc("node_id")).limit(50)
      }
    })

  /** INCREMENTAL PAGERANK off the connector's changes feed — the
    * sparse-update exhibit the push-on-change loop exists for (SCALE.md
    * §30 measured only a 10% win on the dense full run because every
    * vertex stays active there; this query is the shape where the delta
    * form pays: a converged rank maintained under a SMALL edge delta,
    * with work ∝ the affected subgraph, never ∝ V).
    *
    * Lifecycle: the bipartite pair set is split deterministically — a
    * held-out ADD slice ((p·31+s) % 41 = 0) and, from the remainder, a
    * DELETE slice ((p·37+s) % 43 = 0), each guarded so every endpoint
    * keeps ≥1 surviving pair (the vertex set must not change: the
    * per-node teleport base is Scale·15/(100·V), so a V change rebases
    * EVERY rank — an honest full-recompute case, rejected loudly by a
    * require below, not silently absorbed). The base slice is committed
    * to a graft-tsv table (gen 1) and the push loop converges on that
    * snapshot; then a MERGE-DELETE (gen 2) and an append (gen 3) mutate
    * the table, and the engine learns the delta from
    * [[graft.sources.GraftTsvCatalog.changes]](1, head) — the net
    * row-level diff, read from the changed files only, never a corpus
    * re-scan. The converged state is PATCHED, not rebuilt:
    * outdeg += Δdeg, cin += Σ sgn·lpu(src) over the delta edges — which
    * restores the loop invariant cin = Σ_{in-edges} lpu(src) over the
    * FINAL edge set exactly (cin was Σ over base in-edges of lpu by the
    * telescope; the patch adds/removes precisely the delta edges' lpu
    * terms) — pr/unit recompute from the patched cin, lpu carries, and
    * the loop RESUMES: only vertices whose unit shifted are active.
    *
    * Oracle: the full-form recurrence replayed through the SAME
    * two-phase trajectory (converge on base → patch → converge on
    * final), which is bit-identical to the push form round by round —
    * resumed round k equals a full-form round k on the final graph
    * seeded with the patched ranks, because propagation moves every
    * active source from its lpu level to its current unit level and
    * inactive sources already sit at theirs. A cold full recompute on
    * the final graph is NOT the comparison target: ε-stopped integer
    * trajectories from different seeds legitimately differ in trailing
    * digits; warm-vs-cold closeness is asserted in GraphFallbackSpec,
    * while THIS gate proves the maintenance arithmetic exact. Result
    * carries both phase round counts — r2 << r1 is the sparse-update
    * win, measured at scale by ScaleStress (phase-2 bytes ∝ delta). */
  private val pagerankIvmSql: String = s"""
WITH RECURSIVE
ef AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
ac AS (
  SELECT p, s,
    ((p * 31 + s) % 41 = 0)
    AND sum(CASE WHEN (p * 31 + s) % 41 = 0 THEN 0 ELSE 1 END)
          OVER (PARTITION BY p) >= 1
    AND sum(CASE WHEN (p * 31 + s) % 41 = 0 THEN 0 ELSE 1 END)
          OVER (PARTITION BY s) >= 1 AS is_add
  FROM ef),
base0 AS (SELECT p, s FROM ac WHERE NOT is_add),
adds AS (SELECT p, s FROM ac WHERE is_add),
dc AS (
  SELECT p, s,
    ((p * 37 + s) % 43 = 0)
    AND sum(CASE WHEN (p * 37 + s) % 43 = 0 THEN 0 ELSE 1 END)
          OVER (PARTITION BY p) >= 1
    AND sum(CASE WHEN (p * 37 + s) % 43 = 0 THEN 0 ELSE 1 END)
          OVER (PARTITION BY s) >= 1 AS is_del
  FROM base0),
fin AS (SELECT p, s FROM dc WHERE NOT is_del UNION ALL SELECT p, s FROM adds),
eb AS (SELECT p AS src, s + $Off AS dst FROM base0
       UNION ALL SELECT s + $Off AS src, p AS dst FROM base0),
degb AS (SELECT src, count(*) AS outdeg FROM eb GROUP BY src),
nodes AS (SELECT DISTINCT src AS node_id FROM eb),
nn AS (SELECT count(*) AS cnt FROM nodes),
eps AS (SELECT $Scale // ($PrEpsDiv * cnt) AS e FROM nn WHERE cnt > 0),
it1(node_id, pr, prev, delta, rounds) AS (
  SELECT node_id, $Scale // nn.cnt, CAST(0 AS BIGINT),
    CAST($Scale AS BIGINT), CAST(0 AS BIGINT)
  FROM nodes CROSS JOIN nn
  UNION ALL
  SELECT nx.node_id, nx.pr, nx.prevpr,
    CAST(max(abs(nx.pr - nx.prevpr)) OVER () AS BIGINT), nx.rounds + 1
  FROM (
    SELECT n2.node_id,
      ($Scale * 15) // (100 * nn.cnt) + (85 * coalesce(c.cin, 0)) // 100 AS pr,
      p2.pr AS prevpr, p2.rounds AS rounds
    FROM nodes n2 CROSS JOIN nn CROSS JOIN eps
    JOIN it1 p2 ON p2.node_id = n2.node_id
    LEFT JOIN (
      SELECT e.dst, CAST(sum(p.pr // d.outdeg) AS BIGINT) AS cin
      FROM eb e JOIN degb d ON d.src = e.src JOIN it1 p ON p.node_id = e.src
      GROUP BY e.dst) c ON c.dst = n2.node_id
    WHERE p2.delta >= eps.e AND p2.rounds < $PrMaxRounds
  ) nx),
s1 AS (SELECT node_id, pr, prev FROM it1
       WHERE rounds = (SELECT max(rounds) FROM it1)),
efin AS (SELECT p AS src, s + $Off AS dst FROM fin
         UNION ALL SELECT s + $Off AS src, p AS dst FROM fin),
degf AS (SELECT src, count(*) AS outdeg FROM efin GROUP BY src),
patch AS (
  SELECT n.node_id,
    ($Scale * 15) // (100 * nn.cnt) + (85 * coalesce(c.cin, 0)) // 100 AS pr
  FROM nodes n CROSS JOIN nn
  LEFT JOIN (
    SELECT e.dst, CAST(sum(s1.prev // db.outdeg) AS BIGINT) AS cin
    FROM efin e JOIN degb db ON db.src = e.src
    JOIN s1 ON s1.node_id = e.src GROUP BY e.dst) c ON c.dst = n.node_id),
it2(node_id, pr, delta, rounds) AS (
  SELECT node_id, pr, CAST($Scale AS BIGINT), CAST(0 AS BIGINT) FROM patch
  UNION ALL
  SELECT nx.node_id, nx.pr,
    CAST(max(abs(nx.pr - nx.prevpr)) OVER () AS BIGINT), nx.rounds + 1
  FROM (
    SELECT n2.node_id,
      ($Scale * 15) // (100 * nn.cnt) + (85 * coalesce(c.cin, 0)) // 100 AS pr,
      p2.pr AS prevpr, p2.rounds AS rounds
    FROM nodes n2 CROSS JOIN nn CROSS JOIN eps
    JOIN it2 p2 ON p2.node_id = n2.node_id
    LEFT JOIN (
      SELECT e.dst, CAST(sum(p.pr // d.outdeg) AS BIGINT) AS cin
      FROM efin e JOIN degf d ON d.src = e.src JOIN it2 p ON p.node_id = e.src
      GROUP BY e.dst) c ON c.dst = n2.node_id
    WHERE p2.delta >= eps.e AND p2.rounds < $PrMaxRounds
  ) nx)
SELECT node_id, CAST(pr AS BIGINT) AS pr,
  CAST((SELECT max(rounds) FROM it1) AS BIGINT) AS r1,
  CAST((SELECT max(rounds) FROM it2) AS BIGINT) AS r2
FROM it2 WHERE rounds = (SELECT max(rounds) FROM it2)
ORDER BY pr DESC, node_id LIMIT 50"""

  private val qPagerankIvm = QueryDef(
    "q_pagerank_ivm",
    Some(pagerankIvmSql),
    (spark, dir) => pagerankIvmBuild(spark, dir))

  /** q_pagerank_ivm's held-out slice: candidates by the deterministic
    * hash, kept only where BOTH endpoints retain >= 1 non-candidate pair
    * (vertex-set preservation — see [[pagerankIvmBuild]]'s class doc). */
  private def heldOut(pairs: DataFrame, mul: Long, mod: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    pairs
      .withColumn("cand", (col("p") * mul + col("s")) % mod === 0)
      .withColumn("ncp", sum(when(col("cand"), 0L).otherwise(1L))
        .over(Window.partitionBy("p")))
      .withColumn("ncs", sum(when(col("cand"), 0L).otherwise(1L))
        .over(Window.partitionBy("s")))
      .withColumn("held",
        col("cand") && col("ncp") >= 1 && col("ncs") >= 1)
  }

  /** Column definitions of the graph windows' (p, s) pair tables. */
  private val PairCols = "p BIGINT, s BIGINT"

  /** The add windows' split of the pair set `ef` into (base0, adds = the
    * held-out pairs). The held-out layering is materialized once
    * (OPTIMIZATION r19) and held by `w`: the base append, the adds append
    * and any delete source read it, and each would otherwise re-run the
    * full scan→distinct→2-window lineage. */
  private def addSplit(w: IvmWindow, ef: DataFrame): (DataFrame, DataFrame) = {
    val ac = w.hold(graft.Checkpoints.truncate(heldOut(ef, 31L, 41L)))
    (ac.filter(!col("held")).select("p", "s"),
      ac.filter(col("held")).select("p", "s"))
  }

  /** A (p, s) pair frame's directed edges (u, v), both directions, with
    * the supplier side shifted by `Off`. */
  private def bothWays(pairs: DataFrame): DataFrame =
    pairs.select(col("p").as("u"), (col("s") + Off).as("v"))
      .unionByName(pairs.select((col("s") + Off).as("u"), col("p").as("v")))

  /** COLD full recompute on q_pagerank_ivm's FINAL mutated graph — the
    * comparison frame GraphFallbackSpec's ε-closeness assertion needs.
    * The ivm exhibit's final pair set telescopes to `ef − dels` (base0 =
    * ef − adds; final = base0 − dels + adds = ef − dels), reconstructed
    * here with the same held-out arithmetic, then converged from the
    * uniform seed with the same kernel. Two ε-stopped trajectories of
    * the SAME damped fixpoint on the SAME edge set differ by at most
    * ~α/(1−α)·ε each from the fixpoint (α = 0.85 ⇒ ≤ 5.7ε), so the
    * spec's bound has a principled form — this is exactly the argument
    * that does NOT apply to q_pagerank_converged's unsplit graph, which
    * the spec compared against before r17. Returns (full converged
    * state as local rows (node_id, pr), ε). */
  private[graft] def pagerankIvmColdFinal(
      spark: SparkSession, dir: String): (Seq[(Long, Long)], Long) = {
    val ef = linePairs(spark, dir).distinct()
    val ac = heldOut(ef, 31L, 41L)
    val base0 = ac.filter(!col("held")).select("p", "s")
    val dels = heldOut(base0, 37L, 43L).filter(col("held")).select("p", "s")
    val fin = ef.join(dels.withColumnRenamed("p", "dp")
        .withColumnRenamed("s", "ds"),
      col("p") === col("dp") && col("s") === col("ds"), "left_anti")
    val g = prGraphFromPairs(spark, fin)
    val v = g.nodes.agg(count(lit(1))).head().getLong(0)
    require(v > 0L, "pagerankIvmColdFinal: empty final graph")
    val eps = Scale / (PrEpsDiv * v)
    val (st, _) = prPushLoop(g, prPushSeed(g, Scale / v),
      (Scale * 15L) / (100L * v), eps)
    val out = st.select(col("node_id"), col("pr"))
      .collect().toSeq.map(r => (r.getLong(0), r.getLong(1)))
    Seq(st, g.edgesW, g.nodes).foreach(graft.Checkpoints.release)
    (out, eps)
  }

  /** The ivm exhibit's persisted-base-state recipe. v2: the artifact
    * also carries the base graph's EDGE SET (src, dst) — the served
    * maintenance path ([[pagerankIvmServe]]) patches that frame off the
    * changes feed instead of re-scanning + re-distincting the mutated
    * table, so the whole maintenance step is O(delta + affected
    * subgraph), never O(E) shuffle. v4: the artifact holds state, edges
    * and meta only; the version keys the artifact root, so a build by an
    * older recipe is never read. */
  private[graft] val privmRecipe: String =
    s"privm-v4:scale=$Scale,epsdiv=$PrEpsDiv," +
      s"cap=$PrMaxRounds,off=$Off,add=31/41,del=37/43"

  /** Converged-base-state builder shared by the gate's serving path and
    * [[pagerankIvmServe]]: converge on base0 and persist the state, the
    * (r1, V) meta row, and the base edge set. */
  private def privmBuildState(
      spark: SparkSession, base0: DataFrame)(r: String): Unit = {
    val g1 = prGraphFromPairs(spark, base0)
    val v = g1.nodes.agg(count(lit(1)).as("cnt")).head().getLong(0)
    val (st, rounds) =
      if (v == 0L) (spark.range(0).select(
        col("id").as("node_id"), col("id").as("outdeg"),
        col("id").as("pr"), col("id").as("unit"),
        col("id").as("lpu"), col("id").as("cin")), 0L)
      else {
        val eps0 = Scale / (PrEpsDiv * v)
        prPushLoop(g1, prPushSeed(g1, Scale / v),
          (Scale * 15L) / (100L * v), eps0)
      }
    st.select("node_id", "outdeg", "pr", "unit", "lpu", "cin")
      .write.mode("overwrite").parquet(s"$r/state")
    g1.edgesW.select(col("src"), col("dst"))
      .write.mode("overwrite").parquet(s"$r/edges")
    // state and edges now live in parquet — nothing re-reads through
    // the loop's final checkpoint or the graph blocks; reclaim them
    graft.Checkpoints.release(st)
    graft.Checkpoints.release(g1.edgesW)
    graft.Checkpoints.release(g1.nodes)
    spark.range(1).select(lit(rounds).as("r1"), lit(v).as("vcnt"))
      .coalesce(1).write.mode("overwrite").parquet(s"$r/meta")
  }

  /** O(delta) directed-edge frame + the state patch off it: the net
    * delta pairs `dpairs` expanded to both directions, then the converged
    * state s1 patched by broadcast joins — restores the telescoped-cin
    * invariant over the FINAL edge set (class doc); lpu carries, so the
    * resumed loop reactivates exactly the shifted vertices. Returns
    * (patched state, dedges — checkpointed, caller releases). */
  private def privmPatch(
      s1: DataFrame, dpairs: DataFrame,
      prBase: Long): (DataFrame, DataFrame) = {
    val dedges = dpairs
      .select(col("p").as("dsrc"), (col("s") + Off).as("ddst"),
        col("sgn"))
      .unionByName(dpairs.select((col("s") + Off).as("dsrc"),
        col("p").as("ddst"), col("sgn")))
      .truncateLineage
    val dOut = dedges.groupBy("dsrc").agg(sum("sgn").as("ddeg"))
    val dCin = broadcast(dedges)
      .join(s1.select(col("node_id").as("lsrc"), col("lpu").as("slpu")),
        col("dsrc") === col("lsrc"))
      .select(col("ddst"), (col("sgn") * col("slpu")).as("dc"))
      .groupBy("ddst").agg(sum("dc").as("dcin"))
    val patched = s1
      .join(broadcast(dOut), col("node_id") === col("dsrc"), "left")
      .join(broadcast(dCin), col("node_id") === col("ddst"), "left")
      .select(col("node_id"),
        (col("outdeg") + coalesce(col("ddeg"), lit(0L))).as("outdeg"),
        (col("cin") + coalesce(col("dcin"), lit(0L))).as("cin"),
        col("lpu"))
      .select(col("node_id"), col("outdeg"), col("lpu"), col("cin"),
        (lit(prBase) + expr("(85 * cin) div 100")).as("pr"))
      .select(col("node_id"), col("outdeg"), col("pr"),
        expr("pr div outdeg").as("unit"), col("lpu"), col("cin"))
    (patched, dedges)
  }

  /** The SERVED maintenance path — what an IVM deployment actually pays
    * per change batch (VERDICT r17 task 1). The base snapshot's
    * converged state AND edge set are persisted artifacts
    * ([[privmBuildState]]); the delta is already committed to the table
    * by an upstream writer (setup here, outside the measured window).
    * The maintenance step is then:
    *
    *   changes(base, head)  — reads the changed files only
    *   → O(delta) state + edge-frame patch (broadcast joins: the O(V)
    *     state and O(E) edge frame stream map-side, never shuffle)
    *   → resume (exchanges the activated vertices' contributions only)
    *
    * No scan of the base TABLE, no distinct over the full pair set, no
    * O(E) degree shuffle — the three costs SCALE.md §31 charged to the
    * gate's delta phase, all exhibit bookkeeping (the gate rebuilds its
    * final graph from the mutated table so the oracle covers the
    * table-read path; THIS is the recipe ScaleStress phases prices). In
    * fallback mode (V above the broadcast ceiling) the patched edge
    * frame is re-partitioned on src once — the price of restoring the
    * baked co-partitioning, still a single O(E) exchange per change
    * batch rather than per round.
    *
    * Bit-identical to the gate's result by integer determinism: same
    * persisted state, same net delta, same patch arithmetic, same edge
    * multiset ⇒ the same resumed trajectory (GraphFallbackSpec asserts
    * equality including the round count).
    *
    * `localFrac = Some(f)` switches to the LOCALIZED-delta measurement
    * variant: the base commits SORTED by p (each file covers a
    * contiguous p range), the delta is the held-out deletes restricted
    * to the lowest 1/f of the p space, and no adds — the group-based
    * copy-on-write MERGE then rewrites ONLY the files covering that
    * range ([[graft.sources.GraftTsvRowLevelOperation]]'s `_file`
    * runtime IN), so the changes-feed read is genuinely O(changed
    * files). The exhibit's own uniform delta touches every file by
    * construction (every segment holds hash-spread held-out rows), which
    * is a property of the DELTA SHAPE, not the maintenance algorithm —
    * ScaleStress phases prices both. Not oracle-comparable to the gate
    * (different delta), but held-out-guarded, so vertex-preserving and
    * resumable with the same prBase/ε.
    *
    * `mark` phases: "setup", "feed", "patch", "resume". */
  private[graft] def pagerankIvmServe(
      spark: SparkSession, dir: String,
      mark: String => Unit = _ => (),
      localFrac: Option[Int] = None): DataFrame = {
    val ac = heldOut(linePairs(spark, dir).distinct(), 31L, 41L)
    val base0 = ac.filter(!col("held")).select("p", "s")
    val adds = ac.filter(col("held")).select("p", "s")
    val dels0 = heldOut(base0, 37L, 43L).filter(col("held")).select("p", "s")
    val stateRoot = ArtifactStore.ensure(spark, dir, "lineitem",
      "privm_state", privmRecipe)(privmBuildState(spark, base0))
    val metaRow = spark.read.parquet(s"$stateRoot/meta").head()
    val (r1, vCnt) = (metaRow.getLong(0), metaRow.getLong(1))
    if (vCnt == 0L) prIvmEmpty(spark)
    else IvmWindow.run(spark, dir, "privm", PairCols) { w =>
      val dels = localFrac match {
        case None =>
          w.append(base0)                                         // gen 1
          dels0
        case Some(f) =>
          // sorted layout: each file covers a contiguous p range, so the
          // p-localized MERGE below rewrites only the covering files
          w.append(base0.orderBy("p", "s"))                       // gen 1
          val b = base0.agg(min(col("p")).as("lo"), max(col("p")).as("hi"))
            .head()
          val cut = b.getLong(0) + (b.getLong(1) - b.getLong(0) + 1) / f
          dels0.filter(col("p") < cut)
      }
      w.deleteMatching(dels, "p", "s")                            // gen 2
      if (localFrac.isEmpty) w.append(adds)                       // gen 3
      mark("setup")

      val eps = Scale / (PrEpsDiv * vCnt)
      val prBase = (Scale * 15L) / (100L * vCnt)
      val dpairs = w.delta(Seq("p", "s"))  // O(delta) rows
      mark("feed")

      val s1 = spark.read.parquet(s"$stateRoot/state")
      val (patched, dedges) = privmPatch(s1, dpairs, prBase)
      w.hold(dedges)
      val delE = dedges.filter(col("sgn") < 0)
        .select(col("dsrc"), col("ddst"))
      val addE = dedges.filter(col("sgn") > 0)
        .select(col("dsrc").as("src"), col("ddst").as("dst"))
      val bcastV = GraphAdaptive.broadcastOk(spark, vCnt)
      val edgesFin0 = spark.read.parquet(s"$stateRoot/edges")
        .join(broadcast(delE),
          col("src") === col("dsrc") && col("dst") === col("ddst"),
          "left_anti")
        .unionByName(addE)
      val edgesFin = w.hold(
        if (bcastV) edgesFin0.truncateLineage
        else edgesFin0.repartition(col("src")).truncateLineagePartitioned)
      val patchedCk = w.hold(graft.Checkpoints.truncate(patched))
      mark("patch")

      // nodes is unused by the resumed loop (init is pre-patched) but
      // kept honest: the state's own vertex set
      val g = PrGraph(edgesFin, s1.select(col("node_id")),
        GraphAdaptive.pick(bcastV) _)
      val (s2, r2) = prPushLoop(g, patchedCk, prBase, eps)
      w.hold(s2)
      mark("resume")
      prIvmTop(w, s2, r1, r2)
    }
  }

  /** The pagerank IVM result when the base graph has no vertex. */
  private def prIvmEmpty(spark: SparkSession): DataFrame =
    spark.range(0).select(col("id").as("node_id"), col("id").as("pr"),
      col("id").as("r1"), col("id").as("r2"))

  /** The pagerank IVM result: the top-50 of the resumed state `s2` with
    * both round counts, localized in `w` so every loop-era checkpoint the
    * window holds (the final state, the graph blocks, the delta frame) is
    * reclaimed when it closes — a long-lived verify/bench session in
    * reliable-checkpoint mode would otherwise accumulate one
    * converged-state frame per invocation. */
  private def prIvmTop(w: IvmWindow, s2: DataFrame, r1: Long,
      r2: Long): DataFrame =
    w.localize(s2.select(col("node_id"), col("pr"))
      .orderBy(desc("pr"), asc("node_id")).limit(50)
      .withColumn("r1", lit(r1)).withColumn("r2", lit(r2)),
      desc("pr"), asc("node_id"))

  /** q_pagerank_ivm's builder with a phase-boundary callback: `mark` is
    * invoked (with "p1", "delta", "p2") right after each eager phase
    * completes, so a measurement harness (ScaleStress phases) can window its
    * shuffle-byte tally per phase — the resume-bytes-∝-delta claim needs
    * per-phase numbers, not the query total. The default no-op keeps the
    * oracle-gated path byte-identical. */
  private[graft] def pagerankIvmBuild(
      spark: SparkSession, dir: String,
      mark: String => Unit = _ => ()): DataFrame =
    IvmWindow.run(spark, dir, "privm", PairCols) { w =>
      val (base0, adds) = addSplit(w, linePairs(spark, dir).distinct())
      val dels = heldOut(base0, 37L, 43L).filter(col("held")).select("p", "s")
      w.append(base0)                                              // gen 1

      // phase 1: the CONVERGED BASE STATE is a signature-keyed PERSISTED
      // artifact (the q_ivf_build/q_ivf_probe discipline): an IVM
      // deployment converges once, stores the state, and every delta
      // batch RESUMES from storage — the cold converge is paid per base
      // snapshot, not per change. The state is a pure deterministic
      // function of lineitem + the spelled-out recipe constants, so a
      // loaded state is bit-identical to a rebuilt one and the oracle
      // gate is unchanged. The build converges on the base0 FRAME — by
      // construction identical to the table's gen-1 snapshot committed
      // above.
      val stateRoot = ArtifactStore.ensure(spark, dir, "lineitem",
        "privm_state", privmRecipe)(privmBuildState(spark, base0))
      val metaRow = spark.read.parquet(s"$stateRoot/meta").head()
      val (r1, vCnt) = (metaRow.getLong(0), metaRow.getLong(1))
      if (vCnt == 0L) prIvmEmpty(spark)
      else {
        val eps = Scale / (PrEpsDiv * vCnt)
        val prBase = (Scale * 15L) / (100L * vCnt)
        val s1 = spark.read.parquet(s"$stateRoot/state")
        mark("p1")

        // mutate: MERGE-delete (gen 2), append the held-out adds (gen 3)
        w.deleteMatching(dels, "p", "s")
        w.append(adds)

        // the delta from the changes feed, then the O(delta) broadcast
        // patch of the converged state (privmPatch — shared with the
        // served path, which ScaleStress phases prices separately)
        val (patched, dedges) =
          privmPatch(s1, w.netDelta(Seq("p", "s")), prBase)
        w.hold(dedges)

        // phase 2: resume on the FINAL graph (the table read is now the
        // mutated pair set)
        val g2 = prGraphFromPairs(spark, spark.table(w.sql))
        Seq(g2.edgesW, g2.nodes).foreach(w.hold)
        val v2 = g2.nodes.agg(count(lit(1))).head().getLong(0)
        require(v2 == vCnt,
          s"q_pagerank_ivm: the edge delta changed the vertex set " +
            s"($vCnt -> $v2) — the held-out guards are broken; a V change " +
            "rebases the teleport mass and needs a full recompute")
        mark("delta")
        val (s2, r2) = prPushLoop(g2, patched, prBase, eps)
        w.hold(s2)
        mark("p2")
        prIvmTop(w, s2, r1, r2)
      }
    }

  /** Triangle counting over the part co-purchase graph (parts appearing
    * in the same order are adjacent) — the third classic iterative/graph
    * kernel next to connected components (q_dedup_components) and
    * PageRank, and the standard cohesion measure for community detection
    * over a corpus graph. Top-20 nodes by triangle participation, each
    * triangle counted once at every corner.
    *
    * Scale design: edges are oriented LOW-DEGREE → HIGH-DEGREE (the
    * Suri/Vassilvitskii MapReduce orientation; (degree, id) compared
    * lexicographically — a struct comparison engine-side, so no
    * magnitude bound on ids or degrees at any scale; the oracle packs
    * the pair into one BIGINT at 1e10, safe at every oracle-run SF —
    * ties break by id identically in both), which bounds out-adjacency at O(√E) regardless of hub
    * degree. The close step is ADJACENCY-LIST INTERSECTION, not a wedge
    * join: each oriented edge (x, y) intersects N⁺(x) with N⁺(y) in a
    * single codegen `array_intersect` — the orientation makes every
    * triangle appear at exactly one edge (lowest→middle), so no
    * dedup/double-count. The first cut of this query materialized the
    * wedge stream and shuffled it into an equi-join on (y₁, y₂); the 10×
    * scale harness flagged it 18.8× (wedges are E·O(√E) ROWS — 411M at
    * x10 — and exchanging+sorting them dwarfs the linear work even
    * though the COUNT was exactly 10×). With the intersection form the
    * shuffled rows stay O(E) across all three stages (pair distinct,
    * adjacency build on x, edge↔adjacency joins); the per-edge arrays
    * ride inside partitions. Pair GENERATION is the collect-per-order +
    * HOF-expansion shape (one shuffle, map-side pair blowup bounded by
    * order size), not a lineitem self-join; the degree frame is O(V) and
    * size-adaptive exactly like q_pagerank's rank frames
    * ([[GraphAdaptive]]): broadcast below the ceiling, SHUFFLE_HASH
    * build above it (two more linear shuffles of the edge list — the
    * honest cost of orienting without a broadcastable degree frame).
    * The DuckDB oracle keeps the wedge-join formulation — the triangle
    * SET is orientation-identical, only the engine's plan differs. */
  private val qTriangles = QueryDef(
    "q_triangles",
    Some(s"""
      |WITH e0 AS (
      |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |deg AS (SELECT node, count(*) AS dg FROM (
      |    SELECT u AS node FROM e0 UNION ALL SELECT v FROM e0) GROUP BY node),
      |d AS (
      |  SELECT
      |    CASE WHEN du.dg * 10000000000 + u < dv.dg * 10000000000 + v
      |      THEN u ELSE v END AS x,
      |    CASE WHEN du.dg * 10000000000 + u < dv.dg * 10000000000 + v
      |      THEN v ELSE u END AS y,
      |    greatest(du.dg * 10000000000 + u, dv.dg * 10000000000 + v) AS oky
      |  FROM e0 JOIN deg du ON du.node = u JOIN deg dv ON dv.node = v),
      |tri AS (
      |  SELECT d1.x AS a, d1.y AS b, d2.y AS c
      |  FROM d d1 JOIN d d2 ON d2.x = d1.x AND d1.oky < d2.oky
      |  JOIN d d3 ON d3.x = d1.y AND d3.y = d2.y)
      |SELECT node, count(*) AS n_tri FROM (
      |  SELECT a AS node FROM tri UNION ALL SELECT b FROM tri
      |  UNION ALL SELECT c FROM tri)
      |GROUP BY node ORDER BY n_tri DESC, node LIMIT 20
      |""".stripMargin.trim),
    (spark, dir) => {
      val (counts, _) = triCountsFrom(spark, triPairs(spark, dir))
      counts.orderBy(desc("n_tri"), asc("node")).limit(20)
    })

  /** The co-purchase pair set (u < v, distinct) behind q_triangles. */
  private def triPairs(spark: SparkSession, dir: String): DataFrame = {
    val pairsExpr =
      "flatten(transform(ps, (x, i) -> " +
        "transform(slice(ps, i + 2, size(ps)), y -> struct(x AS u, y AS v))))"
    tbl(spark, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
      .select(explode(expr(pairsExpr)).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .distinct()
  }

  /** q_triangles' counting kernel over ANY distinct (u, v) pair frame
    * (u < v): degree orientation, adjacency build, per-edge intersection
    * close, per-node fold — returns (full per-node counts (node, n_tri),
    * the oriented-edge checkpoint feeding them — the caller releases it
    * once the counts are materialized elsewhere, or leaks exactly one
    * frame per invocation as the top-20 gate always has). Factored so
    * the incremental kernel's state builder can persist the FULL counts
    * (the gate's top-20 is a view of this). */
  private def triCountsFrom(
      spark: SparkSession, e0raw: DataFrame): (DataFrame, DataFrame) = {
      val e0 = e0raw.truncateLineage     // feeds deg AND both orient joins
      // materialized: feeds BOTH orient joins (one computation instead of
      // two — the rename projections under the two broadcasts defeat
      // exchange reuse) and makes the V count for the strategy choice a
      // metadata-cheap job over the blocks
      val deg = e0.select(col("u").as("node"))
        .unionAll(e0.select(col("v").as("node")))
        .groupBy("node").agg(count(lit(1)).as("dg"))
        .truncateLineage
      // O(V) degree frame: broadcast below the ceiling; above it a forced
      // broadcast would fail outright, so SHUFFLE_HASH-build it against
      // the edge stream instead (two linear edge exchanges — see the
      // class doc). GraphFallbackSpec forces this path.
      val bcast = GraphAdaptive.broadcastOk(spark, deg.count())
      val pv = GraphAdaptive.pick(bcast) _
      // (degree, id) compared LEXICOGRAPHICALLY as a struct — no packed
      // encode, so no node-id/degree magnitude bound at any scale (the
      // oracle packs at 1e10 instead, safe at every oracle-run SF)
      val oku = struct(col("dgu"), col("u"))
      val okv = struct(col("dgv"), col("v"))
      val d0 = e0
        .join(pv(deg.select(col("node").as("nu"), col("dg").as("dgu"))),
          col("u") === col("nu"))
        .join(pv(deg.select(col("node").as("nv"), col("dg").as("dgv"))),
          col("v") === col("nv"))
        .select(
          when(oku < okv, col("u")).otherwise(col("v")).as("x"),
          when(oku < okv, col("v")).otherwise(col("u")).as("y"))
      // the close strategy is edge-count-adaptive ([[GraphAdaptive
      // .broadcastEdgesOk]] — the adjacency side totals O(E) array cells,
      // so the O(V)-row ceiling above is the wrong test for it):
      //  * below the ceiling the adjacency frame BROADCASTS and neither
      //    close join exchanges anything — measured 4.2 s vs 6.2 s at
      //    bench SF against the pinned-SHJ form;
      //  * above it, hash(x) is baked into d's checkpoint (LogicalRDD
      //    preserves outputPartitioning: the adjacency groupBy and the
      //    first close join then run exchange-free) and SHUFFLE_HASH is
      //    pinned on the adjacency sides — a sort-merge plan would SORT
      //    the array-carrying stream (measured the dominant 30× cost,
      //    207× shuffle ratio), where SHJ builds the O(V)-row adjacency
      //    hash table and streams the heavy side untouched (30×: time
      //    ratio 24.1 → 19.3, shuffle ratio 207 → 35).
      val eRows = e0.count() // |d| = |e0| exactly (one row per edge), and
                             // e0 is checkpointed — a metadata-cheap job
      val adjBcast = GraphAdaptive.broadcastEdgesOk(spark, eRows)
      // feeds the adjacency build + both joins; partitioned truncate on
      // the fallback so hash(x) actually reaches the checkpoint (the
      // AQE-capture fix, Checkpoints.truncate(df, Boolean))
      val d = if (adjBcast) d0.truncateLineage
              else d0.repartition(col("x")).truncateLineagePartitioned
      graft.Checkpoints.release(e0)
      graft.Checkpoints.release(deg) // d is materialized; deg unreachable
      // sorted out-neighbor lists, O(√E)-bounded by the orientation
      val adj = d.groupBy(col("x"))
        .agg(sort_array(collect_list(col("y"))).as("nb"))
      val pva = GraphAdaptive.pick(adjBcast) _
      // per-edge intersection: triangle (x, y, w) surfaces exactly once,
      // at its (lowest-order → middle) edge
      // the second join's left stream carries every edge PLUS its N⁺(x)
      // array — O(E·avg_deg) exchanged bytes on the no-broadcast path,
      // the honest cost of distributed triangle counting (GraphFrames
      // ships the same).
      val closed = d
        .join(pva(adj.select(col("x").as("ax"), col("nb").as("nx"))),
          col("x") === col("ax"))
        .join(pva(adj.select(col("x").as("ay"), col("nb").as("ny"))),
          col("y") === col("ay"))
        .select(col("x"), col("y"),
          expr("array_intersect(nx, ny)").as("ww"))
        .filter(size(col("ww")) > 0)
      // all three corners' contributions in ONE pass over the join: a
      // 3-branch union would recompute the join+intersect subtree per
      // branch (measured 3× the close stage at the 10× harness)
      val contrib = closed.select(explode(concat(
          array(
            struct(col("x").as("node"), size(col("ww")).cast("long").as("c")),
            struct(col("y").as("node"), size(col("ww")).cast("long").as("c"))),
          expr("transform(ww, w -> struct(w AS node, 1L AS c))"))).as("p"))
        .select(col("p.node").as("node"), col("p.c").as("c"))
      (contrib.groupBy("node").agg(sum(col("c")).as("n_tri")), d)
  }

  private val BfsHops = 4

  private val bfsSql: String = {
    val waves = (1 to BfsHops).map { h =>
      val prev = s"d${h - 1}"
      s"""n$h AS (
  SELECT DISTINCT e.dst AS node_id
  FROM (SELECT node_id FROM $prev WHERE hop = ${h - 1}) f
  JOIN edges e ON e.src = f.node_id),
d$h AS (
  SELECT node_id, hop FROM $prev
  UNION ALL
  SELECT n$h.node_id, CAST($h AS BIGINT) AS hop FROM n$h
  WHERE NOT EXISTS (SELECT 1 FROM $prev p WHERE p.node_id = n$h.node_id))"""
    }.mkString(",\n")
    s"""WITH e0 AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
edges AS (SELECT p AS src, s + $Off AS dst FROM e0
          UNION ALL SELECT s + $Off AS src, p AS dst FROM e0),
d0 AS (SELECT min(p) AS node_id, CAST(0 AS BIGINT) AS hop FROM e0
       HAVING count(*) > 0),
$waves
SELECT node_id, hop FROM d$BfsHops ORDER BY hop, node_id"""
  }

  /** Shared bipartite edge layout for the BFS/label-prop kernels: both
    * edge directions of a (p, s) pair frame, with the fallback's src
    * co-partitioning baked into the checkpoint, plus the two scalars
    * every kernel's strategy choice needs — V (node spaces are disjoint
    * by the Off shift) and the smallest part node (the BFS source; None =
    * empty graph). PageRank's [[prGraph]] stays separate only because it
    * additionally pre-joins the out-degree onto the edge list. */
  private final case class EdgeLayout(
      edges: DataFrame, minP: Option[Long], v: Long,
      pv: DataFrame => DataFrame)

  /** `dstLayout`: on the broadcast path (per-wave src join is map-side),
    * lay the edge blocks out by DST (OPTIMIZATION r20, guide §2.4): the
    * BFS waves' frontier distinct and q_label_prop's (dst, lbl) vote
    * count are then partition-local — one O(E) exchange at build buys
    * exchange-free waves. Pass false for consumers whose per-round
    * aggregate cannot ride it (q_label_prop_converged's self-vote UNION
    * erases the partitioning, so it would pay the layout for nothing).
    * The fallback path keeps src (the SHUFFLE_HASH probes need it). */
  private def edgeLayout(pairs: DataFrame,
      dstLayout: Boolean = true): EdgeLayout = {
    val spark = pairs.sparkSession
    val (minP, v) = nodeStats(pairs)
    val bcast = GraphAdaptive.broadcastOk(spark, v)
    val pv = GraphAdaptive.pick(bcast) _
    val edges0 = pairs
      .select(col("p").as("src"), (col("s") + Off).as("dst"))
      .unionByName(pairs.select((col("s") + Off).as("src"), col("p").as("dst")))
    // partitioned truncate where a layout was applied (the AQE-capture
    // fix, see Checkpoints.truncate(df, Boolean)); plain where not
    val edges = (if (!bcast)
        edges0.repartition(col("src")).truncateLineagePartitioned
      else if (dstLayout)
        edges0.repartition(col("dst")).truncateLineagePartitioned
      else edges0.truncateLineage)
    graft.Checkpoints.release(pairs)
    EdgeLayout(edges, minP, v, pv)
  }

  /** lineitem's (part, supplier) pairs, one per line: a multiset. Each
    * kernel chooses its edge frame at its call site. BFS lays out the raw
    * multiset: a wave's reached set `{dst | (src, dst) ∈ E, src ∈
    * frontier}` does not change with edge multiplicity, and the wave's
    * own `distinct()` folds duplicates in its map-side partial aggregate.
    * Label propagation lays out the distinct set, materialized once (the
    * stats job and both edge directions read it), because its vote
    * counts depend on multiplicity. */
  private def linePairs(spark: SparkSession, dir: String): DataFrame =
    tbl(spark, dir, "lineitem")
      .select(col("l_partkey").as("p"), col("l_suppkey").as("s"))

  /** Breadth-first shortest-path hops from a fixed source over the same
    * bipartite part↔supplier graph as q_pagerank — the third iterative
    * kernel shape next to the fixpoint loop (q_dedup_components) and the
    * fixed-damping recurrence (q_pagerank): FRONTIER EXPANSION, where
    * each wave's work is proportional to the frontier's adjacency, not
    * to the whole graph. The source is the smallest part node, the
    * result is every node within $BfsHops hops with its exact hop count.
    *
    * Scale shape (100 TB): the edge list is laid down ONCE from the raw
    * pair multiset (no O(E) distinct: see [[linePairs]]) — map-only on
    * the broadcast path at bench SF, or hash-partitioned on `src` and
    * checkpointed above the [[GraphAdaptive]] ceiling (the build's one
    * O(E) exchange) so no wave ever exchanges it —
    * and each wave moves only two O(V)-bounded frames: the new-frontier
    * distinct and the visited-set anti-join. An O(diameter) unroll with
    * the frontier SHRINKING to empty is exactly how Pregel-style BFS
    * behaves; 4 waves are unrolled here so the plan stays static and
    * oracle-comparable (the DuckDB oracle runs the identical wave
    * recurrence with NOT EXISTS visited filtering). */
  private val qBfsHops = QueryDef(
    "q_bfs_hops",
    Some(bfsSql),
    (spark, dir) => bfsHops(linePairs(spark, dir)))

  /** [[qBfsHops]] over a (p, s) pair frame of any multiplicity. */
  private[graft] def bfsHops(pairs: DataFrame): DataFrame = {
    // dstLayout=false: per-wave frontier distincts are tiny — the O(E)
    // dst layout measured 8.0 → 16.7 MB shuffled (reverted)
    val g = edgeLayout(pairs, dstLayout = false)
    g.minP match {
      case None =>
        // empty edge set: no source to start from — zero rows, matching
        // the oracle's guarded d0 (min over nothing must not seed a
        // NULL-node wave)
        pairs.sparkSession.range(0)
          .select(col("id").as("node_id"), col("id").as("hop"))
      case Some(srcId) => bfsFrom(pairs.sparkSession, g, srcId)
    }
  }

  /** The non-empty-graph body of [[qBfsHops]]. */
  private def bfsFrom(spark: SparkSession,
      g: EdgeLayout, srcId: Long): DataFrame = {
      val (edges, pv) = (g.edges, g.pv)
      var dist = spark.range(1)
        .select(lit(srcId).as("node_id"), lit(0L).as("hop"))
      var frontier = dist.select("node_id")
      for (h <- 1 to BfsHops) {
        val reached = edges.join(pv(frontier), col("src") === col("node_id"))
          .select(col("dst").as("node_id")).distinct()
        // each wave's frontier feeds TWO consumers (the next wave's edge
        // probe and the visited-set union) — materialize it once so the
        // anti-join subtree never re-executes and the visited set stays
        // a flat union of O(V)-bounded materialized waves, the same
        // lineage discipline as the q_dedup_components loop
        frontier = reached.join(pv(dist.select("node_id")),
            Seq("node_id"), "left_anti")
          .truncateLineage
        dist = dist.unionByName(
          frontier.select(col("node_id"), lit(h.toLong).as("hop")))
      }
      dist.orderBy("hop", "node_id")
  }

  /** BFS run to EXHAUSTION — the frontier-empty loop form of
    * [[qBfsHops]]: waves expand until a wave reaches no unvisited node,
    * the natural termination every production BFS uses (the fixed-4
    * unroll is the static-plan bench shape). Per-wave discipline is the
    * convergence-kernel standard: checkpoint-truncated frontier, the
    * emptiness test OBSERVED on the frontier's own materialization job
    * (zero extra actions), fail-loud cap at 100 waves (min-hop BFS
    * provably needs ≤ diameter+1 ≤ V waves — the cap only trips on a
    * broken anti-join). Output is every reachable node with its exact
    * hop; the DuckDB oracle is the textbook recursive-CTE BFS
    * (UNION-deduplicated waves, min(hop) per node) — wave algebra
    * differs, the reachability+distance SET cannot.
    *
    * The ORACLE's wave cap is separate and tighter: UNION dedup keys on
    * (node, hop) pairs, so on a cyclic graph every wave re-reaches nodes
    * at hop+1 as "new" rows and the recursion only stops at its cap —
    * the cap IS the oracle's terminator and its cost is cap × O(E), so
    * it is sized to the real diameter (3-4 on this corpus at every SF)
    * with 6× headroom rather than inheriting the engine's fail-loud
    * 100. A diameter beyond it fails the gate LOUDLY (the oracle's
    * min(hop) stays correct for every node reached within the cap; the
    * engine reaches the rest, so row counts diverge). */
  private val BfsFullCap = 100L
  private val BfsOracleWaves = 24L

  private val qBfsFull = QueryDef(
    "q_bfs_full",
    Some(s"""
WITH RECURSIVE
e0 AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
edges AS (SELECT p AS src, s + $Off AS dst FROM e0
          UNION ALL SELECT s + $Off AS src, p AS dst FROM e0),
it(node_id, hop) AS (
  SELECT min(p), CAST(0 AS BIGINT) FROM e0 HAVING count(*) > 0
  UNION
  SELECT e.dst, it.hop + 1 FROM it JOIN edges e ON e.src = it.node_id
  WHERE it.hop < $BfsOracleWaves
)
SELECT node_id, CAST(min(hop) AS BIGINT) AS hop
FROM it GROUP BY node_id ORDER BY hop, node_id"""),
    (spark, dir) => bfsFull(linePairs(spark, dir)))

  /** [[qBfsFull]] over a (p, s) pair frame of any multiplicity. */
  private[graft] def bfsFull(pairs: DataFrame): DataFrame = {
    // dstLayout=false — same frontier-sized-wave argument as q_bfs_hops
    val g = edgeLayout(pairs, dstLayout = false)
    val spark = pairs.sparkSession
    if (g.minP.isEmpty) {
      spark.range(0).select(col("id").as("node_id"), col("id").as("hop"))
    } else {
      val (edges, pv) = (g.edges, g.pv)
      var dist = spark.range(1)
        .select(lit(g.minP.get).as("node_id"), lit(0L).as("hop"))
      var frontier = dist.select("node_id")
      var fSize = 1L
      var h = 0L
      while (fSize > 0L) {
        h += 1
        if (h > BfsFullCap)
          throw new IllegalStateException(
            s"q_bfs_full: frontier still non-empty after $BfsFullCap waves " +
              "— the visited-set anti-join is broken " +
              "(min-hop BFS terminates in <= diameter+1 waves)")
        val reached = edges.join(pv(frontier), col("src") === col("node_id"))
          .select(col("dst").as("node_id")).distinct()
        // non-emptiness flag, NOT a count: max(1) is exact in both
        // checkpoint modes (0 on an empty frontier), and the loop only
        // consumes emptiness
        val (f, n) = truncateObserved(
          reached.join(pv(dist.select("node_id")), Seq("node_id"), "left_anti"),
          max(lit(1L)))
        frontier = f
        fSize = n
        if (fSize > 0L)
          dist = dist.unionByName(
            frontier.select(col("node_id"), lit(h).as("hop")))
      }
      // the TERMINAL frontier is empty and never joined dist — it is
      // the one wave checkpoint unreachable from the result's lineage,
      // so reclaim it (every earlier wave stays referenced by dist)
      graft.Checkpoints.release(frontier)
      dist.orderBy("hop", "node_id")
    }
  }

  private val LpRounds = 3

  private val labelPropSql: String = {
    val rounds = (1 to LpRounds).map { h =>
      val prev = s"l${h - 1}"
      s"""c$h AS (
  SELECT e.dst AS node_id, l.lbl, CAST(count(*) AS BIGINT) AS c
  FROM edges e JOIN $prev l ON l.node_id = e.src
  GROUP BY e.dst, l.lbl),
l$h AS (
  SELECT node_id, lbl FROM (
    SELECT node_id, lbl,
      row_number() OVER (PARTITION BY node_id ORDER BY c DESC, lbl) AS rn
    FROM c$h) WHERE rn = 1)"""
    }.mkString(",\n")
    s"""WITH e0 AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
edges AS (SELECT p AS src, s + $Off AS dst FROM e0
          UNION ALL SELECT s + $Off AS src, p AS dst FROM e0),
l0 AS (SELECT DISTINCT src AS node_id, src AS lbl FROM edges),
$rounds,
sz AS (SELECT lbl, CAST(count(*) AS BIGINT) AS comm_size
       FROM l$LpRounds GROUP BY lbl)
SELECT n.node_id, n.lbl, sz.comm_size
FROM l$LpRounds n JOIN sz ON sz.lbl = n.lbl
ORDER BY node_id"""
  }

  /** Synchronous label-propagation community detection (Raghavan et al.
    * 2007) over the same bipartite part↔supplier graph — the fourth
    * iterative kernel shape: MAJORITY-VOTE relabeling, where each round
    * every node adopts the most frequent label among its neighbors
    * (deterministic tie-break: smallest label among the max-count ones,
    * so both engines converge bit-identically — classic LPA breaks ties
    * randomly, which no oracle could check). $LpRounds synchronous rounds
    * are unrolled; output is each node's community plus the community
    * size.
    *
    * Scale shape: identical budget to a PageRank iteration — the edge
    * list is laid down once (broadcast of the O(V) label frame below the
    * [[GraphAdaptive]] ceiling, co-partitioned edges + SHUFFLE_HASH label
    * build above it; GraphFallbackSpec forces the large-V path), each
    * round pays one (dst, lbl) map-side-partial count whose width is
    * bounded by Σ deg (O(E) worst case, neighbor-distinct labels in
    * practice) and one O(V) per-node argmin. The argmin is
    * `min(struct(-c, lbl))` — a plain hash aggregate, NOT a row_number
    * window (no per-node sort, no window exchange); the oracle's
    * row_number formulation is value-identical by construction. Rounds
    * are lineage-truncated like every iterative kernel here. */
  private val qLabelProp = QueryDef(
    "q_label_prop",
    Some(labelPropSql),
    (spark, dir) => {
      val g = edgeLayout(linePairs(spark, dir).distinct().truncateLineage)
      val (edges, pv) = (g.edges, g.pv)
      var lbl = edges.select(col("src").as("node_id")).distinct()
        .select(col("node_id"), col("node_id").as("lbl"))
      for (_ <- 1 to LpRounds) {
        lbl = edges
          .join(pv(lbl), col("src") === col("node_id"))
          .groupBy(col("dst"), col("lbl")).agg(count(lit(1)).as("c"))
          .groupBy(col("dst").as("node_id"))
          .agg(min(struct((-col("c")).as("negc"), col("lbl").as("l"))).as("m"))
          .select(col("node_id"), col("m.l").as("lbl"))
          .truncateLineage
      }
      val sz = lbl.groupBy("lbl").agg(count(lit(1)).as("comm_size"))
      lbl.join(sz, "lbl")
        .select(col("node_id"), col("lbl"), col("comm_size"))
        .orderBy("node_id")
    })

  /** Label propagation run to FIXPOINT — the convergence-loop form of
    * [[qLabelProp]], with one semantic change that MAKES a fixpoint
    * exist: each node's own current label joins the vote (self-vote).
    * Pure synchronous LPA provably 2-cycles on bipartite graphs, and
    * this corpus's part↔supplier graph does exactly that — measured:
    * every one of the 2100 sf0.01 nodes flips label every round,
    * forever. The self-vote (Raghavan et al.'s suggested damping, one
    * extra O(V) union leg) breaks the cycle; the same corpus then
    * converges in 5 rounds. The loop stops when ZERO nodes changed
    * label — exact, not a threshold — with the q_dedup_components
    * checkpoint/release discipline per round and a fail-loud 100-round
    * cap. The converged round count is a result column; the oracle runs
    * the identical recurrence as a recursive CTE (working table carries
    * the previous round's global change count) and must stop at the
    * same round — deterministic tie-breaks make the trajectories
    * bit-identical.
    *
    * Scale shape: per round = [[qLabelProp]]'s budget + one O(V) union
    * leg and one O(V) change-flag join; the convergence test is a max
    * flag observed on the round's own checkpoint job, so a round is one
    * Spark job. */
  private val LpMaxRounds = 100L

  private val labelPropConvergedSql: String = s"""
WITH RECURSIVE
e0 AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
edges AS (SELECT p AS src, s + $Off AS dst FROM e0
          UNION ALL SELECT s + $Off AS src, p AS dst FROM e0),
it(node_id, lbl, chg, rounds) AS (
  SELECT DISTINCT src, src, CAST(1 AS BIGINT), CAST(0 AS BIGINT) FROM edges
  UNION ALL
  SELECT w.node_id, w.lbl,
    CAST(sum(CASE WHEN w.lbl <> w.prev THEN 1 ELSE 0 END) OVER () AS BIGINT),
    w.rounds + 1
  FROM (
    SELECT nx.node_id, nx.lbl, p2.lbl AS prev, p2.rounds AS rounds
    FROM (
      SELECT node_id, lbl FROM (
        SELECT node_id, lbl,
          row_number() OVER (PARTITION BY node_id ORDER BY c DESC, lbl) AS rn
        FROM (
          SELECT v.node_id, v.lbl, CAST(count(*) AS BIGINT) AS c FROM (
            SELECT e.dst AS node_id, l.lbl
            FROM edges e JOIN it l ON l.node_id = e.src
            UNION ALL SELECT node_id, lbl FROM it) v
          GROUP BY v.node_id, v.lbl)) WHERE rn = 1) nx
    JOIN it p2 ON p2.node_id = nx.node_id
    WHERE p2.chg > 0 AND p2.rounds < $LpMaxRounds
  ) w
)
SELECT f.node_id, f.lbl, sz.comm_size, f.rounds
FROM (SELECT node_id, lbl, rounds FROM it
      WHERE rounds = (SELECT max(rounds) FROM it)) f
JOIN (SELECT lbl, CAST(count(*) AS BIGINT) AS comm_size FROM it
      WHERE rounds = (SELECT max(rounds) FROM it) GROUP BY lbl) sz
  ON sz.lbl = f.lbl
ORDER BY f.node_id"""

  /** The self-vote synchronous LPA fixpoint loop over a materialized
    * edge frame — q_label_prop_converged's body, factored so the
    * incremental kernel can run the IDENTICAL kernel on an affected
    * subgraph. Starts from self labels of the edge sources; stops when
    * zero labels changed. Returns (converged labels — checkpointed, the
    * caller releases; executed rounds). */
  private def lpLoop(
      edges: DataFrame, pv: DataFrame => DataFrame): (DataFrame, Long) =
    // rounds read the (node_id, lbl) view; fixpoint releases the root
    // (Checkpoints.release reclaims only a bare LogicalRDD root, so
    // handing it a projection would leak every round's reliable files)
    graft.Checkpoints.fixpoint("label-prop loop", LpMaxRounds,
        (graft.Checkpoints.truncate(
          edges.select(col("src").as("node_id")).distinct()
            .select(col("node_id"), col("node_id").as("lbl"))), 1L),
        // any-change flag observed on the checkpoint job; a max flag, exact
        // in both checkpoint modes — only the sign drives the loop anyway
        max(col("chgd"))) { ck =>
      val lbl = ck.select("node_id", "lbl")
      val votes = edges
        .join(pv(lbl), col("src") === col("node_id"))
        .select(col("dst").as("node_id"), col("lbl"))
        .unionByName(lbl)
      votes
        .groupBy(col("node_id"), col("lbl")).agg(count(lit(1)).as("c"))
        .groupBy("node_id")
        .agg(min(struct((-col("c")).as("negc"), col("lbl").as("l"))).as("m"))
        .select(col("node_id"), col("m.l").as("lbl"))
        .join(pv(lbl.select(col("node_id").as("pn"), col("lbl").as("prev"))),
          col("node_id") === col("pn"))
        .select(col("node_id"), col("lbl"),
          (col("lbl") =!= col("prev")).cast("long").as("chgd"))
    }

  private val qLabelPropConverged = QueryDef(
    "q_label_prop_converged",
    Some(labelPropConvergedSql),
    (spark, dir) => {
      // dstLayout=false: the self-vote UNION erases any edge partitioning
      // before the vote aggregate, so the dst layout would cost an O(E)
      // exchange at build and save nothing per round
      val g = edgeLayout(linePairs(spark, dir).distinct().truncateLineage,
        dstLayout = false)
      val (lblCk, rounds) = lpLoop(g.edges, g.pv)
      val lbl = lblCk.select("node_id", "lbl")
      val sz = lbl.groupBy("lbl").agg(count(lit(1)).as("comm_size"))
      lbl.join(sz, "lbl")
        .select(col("node_id"), col("lbl"), col("comm_size"),
          lit(rounds).as("rounds"))
        .orderBy("node_id")
    })

  // =========================================================================
  // INCREMENTAL CONNECTED COMPONENTS off the changes feed (round 17) —
  // the q_pagerank_ivm pattern generalized to the second convergence
  // kernel, with a cleaner algebra: min-label propagation is a MONOTONE
  // SEMILATTICE fold, so for an ADDS-ONLY delta the converged base
  // labeling (extended with self-labels for unseen vertices) is a valid
  // resume point that descends to EXACTLY the final graph's fixpoint —
  // labels inside a merged component are the old component minima, whose
  // min is the new component min. No trajectory replay needed in the
  // oracle (unlike PageRank's ε-stopped integers): the fixpoint is
  // unique, so the oracle simply computes cold components of the final
  // edge set and the hash gate proves the maintenance arithmetic landed
  // on it. Deletes are NOT incremental in this algebra (removing an edge
  // can split a component, which min-propagation cannot undo) — a delete
  // batch triggers an affected-component recompute instead, the standard
  // IVM treatment; the exhibit therefore holds out ADDS only.
  // =========================================================================

  /** Sparse exhibit graph: the (part, supplier) pairs at the rare
    * quantity ceiling, thinned to every 4th part — ~0.5% of lineitem,
    * which sits BELOW the bipartite percolation threshold (22 components
    * over 324 nodes at sf0.01; the unthinned qty-ceiling graph already
    * collapses into one giant component and the full graph trivially so)
    * — so the maintained labeling has real structure to get wrong. */
  private val CompQty = 50
  private val CompPartMod = 4

  private[graft] val civmRecipe: String =
    s"civm-v1:qty=$CompQty,pmod=$CompPartMod,off=$Off,add=31/41"

  private def civmBuildState(
      spark: SparkSession, base0: DataFrame)(r: String): Unit = {
    val edges0 = bothWays(base0)
      .repartition(col("v"))
      .truncateLineagePartitioned
    val (labels, r1) = Dedup.componentsLoop(spark, edges0, None)
    labels.write.mode("overwrite").parquet(s"$r/labels")
    edges0.select(col("u"), col("v")).write.mode("overwrite")
      .parquet(s"$r/edges")
    graft.Checkpoints.release(labels)
    graft.Checkpoints.release(edges0)
    spark.range(1).select(lit(r1).as("r1")).coalesce(1)
      .write.mode("overwrite").parquet(s"$r/meta")
  }

  /** q_components_ivm's builder: converge once on the base snapshot
    * (persisted artifact), commit the held-out adds, learn the delta
    * from the changes feed, patch the edge frame and the labeling with
    * O(delta) broadcast-sized frames, resume the pointer-jumping loop.
    * `mark` receives "p1", "delta", "resume:r1=<n>:r2=<m>" (the spec
    * reads the round counts from the last mark — they are engine
    * implementation detail, deliberately NOT result columns). */
  private[graft] def componentsIvmBuild(
      spark: SparkSession, dir: String,
      mark: String => Unit = _ => ()): DataFrame =
    IvmWindow.run(spark, dir, "civm", PairCols) { w =>
      val (base0, adds) = addSplit(w, compPairs(spark, dir))
      val stateRoot = ArtifactStore.ensure(spark, dir, "lineitem",
        "civm_state", civmRecipe)(civmBuildState(spark, base0))
      val r1 = spark.read.parquet(s"$stateRoot/meta").head().getLong(0)
      mark("p1")

      w.append(base0)                                               // gen 1
      w.append(adds)                                                // gen 2
      val dedges = bothWays(w.delta(Seq("p", "s")))
      val edgesFin = w.hold(spark.read.parquet(s"$stateRoot/edges")
        .unionByName(dedges.select("u", "v"))
        .repartition(col("v"))
        .truncateLineagePartitioned)
      val l0 = spark.read.parquet(s"$stateRoot/labels")
      // unseen endpoints (vertices the adds introduce) start as their own
      // component — the semilattice init the class comment requires
      val init = l0.unionByName(
        dedges.select(col("u")).distinct()
          .join(l0.select(col("u")), Seq("u"), "left_anti")
          .select(col("u"), col("u").as("lbl")))
      mark("delta")
      val (labels2, r2) = Dedup.componentsLoop(spark, edgesFin, Some(init))
      w.hold(labels2)
      mark(s"resume:r1=$r1:r2=$r2")
      // the FULL per-node labeling (the q_dedup_components shape): every
      // node's maintained label is hashed, so the gate proves the whole
      // resumed fixpoint, not just an aggregate of it. SPILLED to parquet
      // (not collected — the labeling is data-sized) so the loop-era
      // checkpoints can be released before the distributed read-back scan
      // is returned (VERDICT r17 task 1).
      ArtifactStore.spillResult(spark, "civm_res", labels2
        .select(col("u").as("node_id"), col("lbl").as("component_id")))
        .orderBy("node_id")
    }

  /** The components exhibits' sparse pair set ([[CompQty]],
    * [[CompPartMod]]), distinct. */
  private def compPairs(spark: SparkSession, dir: String): DataFrame =
    tbl(spark, dir, "lineitem")
      .filter(col("l_quantity") === CompQty &&
        col("l_partkey") % CompPartMod === 0)
      .select(col("l_partkey").as("p"), col("l_suppkey").as("s"))
      .distinct()

  private val qComponentsIvm = QueryDef(
    "q_components_ivm",
    Some(s"""
WITH RECURSIVE e0 AS (
  SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem
  WHERE l_quantity = $CompQty AND l_partkey % $CompPartMod = 0),
edges AS (SELECT p AS u, s + $Off AS v FROM e0
          UNION SELECT s + $Off AS u, p AS v FROM e0),
nodes AS (SELECT DISTINCT u FROM edges),
reach(u, v) AS (
  SELECT u, u FROM nodes
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON e.u = r.v),
comp AS (SELECT u, CAST(min(v) AS BIGINT) AS component_id
         FROM reach GROUP BY u)
SELECT u AS node_id, component_id FROM comp ORDER BY node_id"""),
    (spark, dir) => componentsIvmBuild(spark, dir))

  // ---- the DELETE side of components maintenance: min-propagation
  // cannot un-merge, so a delete batch takes the standard IVM treatment
  // — recompute ONLY the components the deleted edges touch, cold, and
  // splice with the untouched labeling. The affected set is learned from
  // the base labeling (O(delta) probe → component ids → their vertices
  // and edges), so the recompute is bounded by the affected subgraph,
  // never the corpus; the oracle again just computes cold components of
  // the final edge set (unique fixpoint).

  private[graft] val civmDelRecipe: String =
    s"civmdel-v1:qty=$CompQty,pmod=$CompPartMod,off=$Off,del=37/43"

  /** q_components_ivm_del's builder. `mark`: "p1", "delta",
    * "recompute:r1=<cold rounds>:r2=<recompute rounds>:aff=<components>". */
  private[graft] def componentsIvmDelBuild(
      spark: SparkSession, dir: String,
      mark: String => Unit = _ => ()): DataFrame =
    IvmWindow.run(spark, dir, "civmd", PairCols) { w =>
      // materialized once (OPTIMIZATION r19): the gen-1 append and the
      // MERGE's delete-source window stack below each re-ran the
      // scan→distinct lineage
      val ef = w.hold(graft.Checkpoints.truncate(compPairs(spark, dir)))
      val dels = heldOut(ef, 37L, 43L).filter(col("held")).select("p", "s")
      val stateRoot = ArtifactStore.ensure(spark, dir, "lineitem",
        "civm_del_state", civmDelRecipe)(civmBuildState(spark, ef))
      val r1 = spark.read.parquet(s"$stateRoot/meta").head().getLong(0)
      mark("p1")

      w.append(ef)                                                  // gen 1
      w.deleteMatching(dels, "p", "s")                              // gen 2
      val dedges = w.truncated(
        bothWays(w.delta(Seq("p", "s"))))  // all sgn = -1
      val l0 = spark.read.parquet(s"$stateRoot/labels")
      mark("delta")

      if (dedges.head(1).isEmpty) {
        // no-op delta at a degenerate SF: the base labeling stands
        mark(s"recompute:r1=$r1:r2=0:aff=0")
        l0.select(col("u").as("node_id"), col("lbl").as("component_id"))
          .orderBy("node_id")
      } else {
        // components the deleted edges touch — O(delta) probe into the
        // base labeling, then their vertices (bounded by the affected
        // subgraph, broadcast into the edge scan: the corpus-sized edge
        // frame never shuffles to find its affected slice)
        val affected = l0
          .join(broadcast(dedges.select(col("u")).distinct()), Seq("u"))
          .select(col("lbl")).distinct()
        val nAff = affected.count()
        val affV = l0.join(broadcast(affected), Seq("lbl")).select(col("u"))
        val remEdges = w.hold(spark.read.parquet(s"$stateRoot/edges")
          .join(broadcast(affV), Seq("u"), "left_semi")
          .join(broadcast(dedges.select(col("u"), col("v"))),
            Seq("u", "v"), "left_anti")
          .repartition(col("v"))
          .truncateLineagePartitioned)
        val (lab2, r2) = Dedup.componentsLoop(spark, remEdges, None)
        w.hold(lab2)
        mark(s"recompute:r1=$r1:r2=$r2:aff=$nAff")
        val keep = l0.join(broadcast(affected), Seq("lbl"), "left_anti")
        // spliced labeling spilled to parquet (VERDICT r17 task 1): the
        // result is data-sized, so it must come back as a distributed
        // scan, not a driver collect-then-parallelize
        ArtifactStore.spillResult(spark, "civmd_res",
          keep.select(col("u").as("node_id"), col("lbl").as("component_id"))
            .unionByName(lab2.select(col("u").as("node_id"),
              col("lbl").as("component_id"))))
          .orderBy("node_id")
      }
    }

  private val qComponentsIvmDel = QueryDef(
    "q_components_ivm_del",
    Some(s"""
WITH RECURSIVE ef AS (
  SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem
  WHERE l_quantity = $CompQty AND l_partkey % $CompPartMod = 0),
dc AS (
  SELECT p, s,
    ((p * 37 + s) % 43 = 0)
    AND sum(CASE WHEN (p * 37 + s) % 43 = 0 THEN 0 ELSE 1 END)
          OVER (PARTITION BY p) >= 1
    AND sum(CASE WHEN (p * 37 + s) % 43 = 0 THEN 0 ELSE 1 END)
          OVER (PARTITION BY s) >= 1 AS is_del
  FROM ef),
fin AS (SELECT p, s FROM dc WHERE NOT is_del),
edges AS (SELECT p AS u, s + $Off AS v FROM fin
          UNION SELECT s + $Off AS u, p AS v FROM fin),
nodes AS (SELECT DISTINCT u FROM edges),
reach(u, v) AS (
  SELECT u, u FROM nodes
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON e.u = r.v),
comp AS (SELECT u, CAST(min(v) AS BIGINT) AS component_id
         FROM reach GROUP BY u)
SELECT u AS node_id, component_id FROM comp ORDER BY node_id"""),
    (spark, dir) => componentsIvmDelBuild(spark, dir))

  // =========================================================================
  // INCREMENTAL BFS off the changes feed — the THIRD monotone kernel
  // (after min-label components and the pagerank push loop): hop
  // distances can only DECREASE under edge adds, so the converged base
  // distances are a valid upper bound and BELLMAN-FORD RELAXATION from
  // them descends to exactly the final graph's distances (classic
  // insert-only SSSP maintenance). The relaxation loop is active-set
  // (only vertices whose distance changed relax their out-edges — the
  // cold run degenerates to frontier BFS, the resume to the ripples
  // around the added edges), and the fixpoint is unique, so the oracle
  // is simply the cold recursive-CTE BFS of the final graph.
  // =========================================================================

  private val BfsInf = Long.MaxValue / 4

  private[graft] val bfsIvmRecipe: String =
    s"bfsivm-v1:off=$Off,add=31/41,inf=$BfsInf"

  /** Relax-loop activity flag for [[graft.Checkpoints.truncateObserved]]:
    * any row still active (dist ≠ pd). A max, not a count — exact in both
    * checkpoint modes, and only the sign drives the loop. */
  private def bfsActive = max((col("dist") =!= col("pd")).cast("long"))

  /** Active-set distance relaxation over a materialized edge frame:
    * state = (node_id, dist, pd) where pd is the previous round's dist —
    * a vertex is ACTIVE iff dist ≠ pd. Each round relaxes only active
    * vertices' out-edges; converges when no distance changes. `init`
    * must be an upper bound of the true distances (the uniform-Inf cold
    * seed or a converged base state with delta endpoints re-activated). */
  private def bfsRelaxLoop(g: PrGraph, init: DataFrame): (DataFrame, Long) =
    // the checkpointed schema IS the state schema (the activity flag
    // rides .observe, not a column), so the loop works on — and RETURNS —
    // the checkpoint root itself: the caller's release reclaims it.
    // Relaxation terminates in <= diameter rounds; hitting the cap means
    // the active-set test is broken
    graft.Checkpoints.fixpoint("bfsRelaxLoop", 100L,
        truncateObserved(init, bfsActive), bfsActive) { cur =>
      val active = cur.filter(col("dist") =!= col("pd"))
        .select(col("node_id").as("asrc"), col("dist").as("ad"))
      val relax = g.edgesW
        .join(g.pv(active), col("src") === col("asrc"))
        .select(col("dst"), (col("ad") + 1L).as("nd0"))
        .groupBy("dst").agg(min(col("nd0")).as("nd"))
      cur
        .join(g.pv(relax), col("node_id") === col("dst"), "left")
        .select(col("node_id"),
          least(col("dist"), coalesce(col("nd"), col("dist"))).as("dist"),
          col("dist").as("pd"))
    }

  private def bfsIvmBuildState(
      spark: SparkSession, base0: DataFrame)(r: String): Unit = {
    // dstLayout=false: BFS waves aggregate frontier-sized frames — the
    // O(E) dst layout costs more than every wave's savings combined
    val g1 = prGraphFromPairs(spark, base0, dstLayout = false)
    val v = g1.nodes.agg(count(lit(1))).head().getLong(0)
    if (v == 0L) {
      spark.range(0).select(col("id").as("node_id"), col("id").as("dist"))
        .write.mode("overwrite").parquet(s"$r/dist")
      spark.range(0).select(col("id").as("src"), col("id").as("dst"))
        .write.mode("overwrite").parquet(s"$r/edges")
      spark.range(1).select(lit(0L).as("r1"), lit(0L).as("vcnt"),
          lit(0L).as("src_id"))
        .coalesce(1).write.mode("overwrite").parquet(s"$r/meta")
    } else {
      val srcId = base0.agg(min(col("p"))).head().getLong(0)
      val seed = g1.nodes.select(col("node_id"),
        when(col("node_id") === srcId, 0L).otherwise(BfsInf).as("dist"),
        // src starts active (pd ≠ dist); everything else inactive
        lit(BfsInf).as("pd"))
      val (st, r1) = bfsRelaxLoop(g1, seed)
      st.select(col("node_id"), col("dist"))
        .write.mode("overwrite").parquet(s"$r/dist")
      g1.edgesW.select(col("src"), col("dst"))
        .write.mode("overwrite").parquet(s"$r/edges")
      Seq(st, g1.edgesW, g1.nodes).foreach(graft.Checkpoints.release)
      spark.range(1).select(lit(r1).as("r1"), lit(v).as("vcnt"),
          lit(srcId).as("src_id"))
        .coalesce(1).write.mode("overwrite").parquet(s"$r/meta")
    }
  }

  /** q_bfs_ivm's builder: converge hop distances on the base snapshot
    * (persisted artifact), commit the held-out adds, learn the delta
    * from the changes feed, re-activate the delta endpoints against the
    * converged distances, resume the relaxation on the patched edge
    * frame. `mark`: "p1", "delta", "resume:r1=<n>:r2=<m>". */
  private[graft] def bfsIvmBuild(
      spark: SparkSession, dir: String,
      mark: String => Unit = _ => ()): DataFrame =
    IvmWindow.run(spark, dir, "bfsivm", PairCols) { w =>
      val (base0, adds) = addSplit(w, linePairs(spark, dir).distinct())
      val stateRoot = ArtifactStore.ensure(spark, dir, "lineitem",
        "bfsivm_state", bfsIvmRecipe)(bfsIvmBuildState(spark, base0))
      val meta = spark.read.parquet(s"$stateRoot/meta").head()
      val (r1, vCnt) = (meta.getLong(0), meta.getLong(1))
      mark("p1")
      if (vCnt == 0L) bfsEmpty(spark)
      else {
        w.append(base0)                                             // gen 1
        w.append(adds)                                              // gen 2
        val dedges = bothWays(w.delta(Seq("p", "s")))
        val bcastV = GraphAdaptive.broadcastOk(spark, vCnt)
        val edgesFin0 = spark.read.parquet(s"$stateRoot/edges")
          .unionByName(dedges.select(col("u").as("src"), col("v").as("dst")))
        val edgesFin = w.hold(
          if (bcastV) edgesFin0.truncateLineage
          else edgesFin0.repartition(col("src")).truncateLineagePartitioned)
        // re-activate exactly the delta endpoints: pd = dist + 1 ≠ dist,
        // so their out-edges relax in round 1 and improvements ripple out
        val init = spark.read.parquet(s"$stateRoot/dist")
          .join(broadcast(dedges.select(col("u")).distinct()),
            col("node_id") === col("u"), "left")
          .select(col("node_id"), col("dist"),
            when(col("u").isNotNull, col("dist") + 1L)
              .otherwise(col("dist")).as("pd"))
        mark("delta")
        val g = PrGraph(edgesFin,
          spark.read.parquet(s"$stateRoot/dist").select(col("node_id")),
          GraphAdaptive.pick(bcastV) _)
        val (d2, r2) = bfsRelaxLoop(g, init)
        w.hold(d2)
        mark(s"resume:r1=$r1:r2=$r2")
        // data-sized distance frame → parquet spill + distributed
        // read-back, never a driver collect (VERDICT r17 task 1)
        ArtifactStore.spillResult(spark, "bfsivm_res",
          d2.filter(col("dist") < BfsInf)
            .select(col("node_id"), col("dist").as("hop")))
          .orderBy("hop", "node_id")
      }
    }

  /** The BFS IVM result when the base graph has no vertex. */
  private def bfsEmpty(spark: SparkSession): DataFrame =
    spark.range(0).select(col("id").as("node_id"), col("id").as("hop"))

  /** Incremental BFS gate — final graph = the full pair set (base +
    * adds telescope back to ef), so the oracle is [[qBfsFull]]'s cold
    * recursive-CTE BFS verbatim: the hash gate proves the resumed
    * relaxation lands on the cold distances node-for-node. */
  private val qBfsIvm = QueryDef(
    "q_bfs_ivm",
    Some(s"""
WITH RECURSIVE
e0 AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
edges AS (SELECT p AS src, s + $Off AS dst FROM e0
          UNION ALL SELECT s + $Off AS src, p AS dst FROM e0),
it(node_id, hop) AS (
  SELECT min(p), CAST(0 AS BIGINT) FROM e0 HAVING count(*) > 0
  UNION
  SELECT e.dst, it.hop + 1 FROM it JOIN edges e ON e.src = it.node_id
  WHERE it.hop < $BfsOracleWaves
)
SELECT node_id, CAST(min(hop) AS BIGINT) AS hop
FROM it GROUP BY node_id ORDER BY hop, node_id"""),
    (spark, dir) => bfsIvmBuild(spark, dir))

  // =========================================================================
  // INCREMENTAL BFS under DELETES (VERDICT r17 task 2). Edge deletes are
  // NOT monotone for distances (hops can only LENGTHEN), so the adds-only
  // relaxation resume does not apply. The delete treatment mirrors
  // q_components_ivm_del's: find the nodes whose shortest path USED a
  // deleted edge and recompute only those, splicing untouched distances.
  // The persisted state therefore carries a SHORTEST-PATH PARENT per node
  // (deterministic: min-id among minimal-distance predecessors at the
  // round the distance was last lowered): a node is DIRTY iff its parent
  // edge was deleted, or transitively iff its parent is dirty — the dirty
  // set is exactly the deleted edges' shortest-path-tree subtrees, learned
  // by an O(delta)-seeded walk DOWN the parent forest (never a corpus
  // scan per wave beyond the map-only state probe). Clean nodes keep
  // their distance (their parent chain survived, so the old path still
  // exists, and deletes can't shorten anything); dirty nodes reset to
  // +Inf and the standard relaxation re-grows them from the CLEAN
  // FRONTIER (clean nodes with an edge into a dirty node) — init is a
  // pointwise upper bound of the true final distances that is exact on
  // the clean region, so the unique Bellman-Ford fixpoint is the cold
  // answer on the final graph, which is exactly what the oracle computes.
  // =========================================================================

  private[graft] val bfsIvmDelRecipe: String =
    s"bfsivmdel-v1:off=$Off,del=37/43,inf=$BfsInf"

  /** [[bfsRelaxLoop]] extended with parent maintenance — used only by the
    * DELETE variant's state builder (the maintenance path itself resumes
    * with the parent-free loop; parents exist to scope future deletes).
    * State: (node_id, dist, pd, par); par = −1 for the source and for
    * unreachable nodes. A node's (dist, par) update is atomic — par is set
    * exactly when dist strictly improves, to the min-id predecessor among
    * that round's minimal candidates — so at convergence
    * dist(par) + 1 = dist(node) for every reached non-source node (any
    * later improvement of par's dist would re-activate par and re-relax
    * the node, contradicting the fixpoint). */
  private def bfsRelaxLoopPar(g: PrGraph, init: DataFrame): (DataFrame, Long) =
    // same fixpoint loop, activity flag and return-the-root discipline as
    // bfsRelaxLoop; only the relax step carries the parent
    graft.Checkpoints.fixpoint("bfsRelaxLoopPar", 100L,
        truncateObserved(init, bfsActive), bfsActive) { cur =>
      val active = cur.filter(col("dist") =!= col("pd"))
        .select(col("node_id").as("asrc"), col("dist").as("ad"))
      val relax = g.edgesW
        .join(g.pv(active), col("src") === col("asrc"))
        .select(col("dst"),
          struct((col("ad") + 1L).as("nd"), col("src").as("np")).as("c0"))
        .groupBy("dst").agg(min(col("c0")).as("c1"))
        .select(col("dst"), col("c1.nd").as("nd"), col("c1.np").as("np"))
      cur
        .join(g.pv(relax), col("node_id") === col("dst"), "left")
        .select(col("node_id"),
          least(col("dist"), coalesce(col("nd"), col("dist"))).as("dist"),
          col("dist").as("pd"),
          when(col("nd").isNotNull && col("nd") < col("dist"), col("np"))
            .otherwise(col("par")).as("par"))
    }

  /** State builder for the delete variant: converge distances AND parents
    * on the FULL pair set (the delete exhibit's base graph), persist
    * (node_id, dist, par), the edge set, and (r1, V, src). */
  private def bfsIvmDelBuildState(
      spark: SparkSession, base0: DataFrame)(r: String): Unit = {
    // dstLayout=false — same frontier-sized-aggregate argument as above
    val g1 = prGraphFromPairs(spark, base0, dstLayout = false)
    val v = g1.nodes.agg(count(lit(1))).head().getLong(0)
    if (v == 0L) {
      spark.range(0).select(col("id").as("node_id"), col("id").as("dist"),
          col("id").as("par"))
        .write.mode("overwrite").parquet(s"$r/dist")
      spark.range(0).select(col("id").as("src"), col("id").as("dst"))
        .write.mode("overwrite").parquet(s"$r/edges")
      spark.range(1).select(lit(0L).as("r1"), lit(0L).as("vcnt"),
          lit(0L).as("src_id"))
        .coalesce(1).write.mode("overwrite").parquet(s"$r/meta")
    } else {
      val srcId = base0.agg(min(col("p"))).head().getLong(0)
      val seed = g1.nodes.select(col("node_id"),
        when(col("node_id") === srcId, 0L).otherwise(BfsInf).as("dist"),
        lit(BfsInf).as("pd"), lit(-1L).as("par"))
      val (st, r1) = bfsRelaxLoopPar(g1, seed)
      st.select(col("node_id"), col("dist"), col("par"))
        .write.mode("overwrite").parquet(s"$r/dist")
      g1.edgesW.select(col("src"), col("dst"))
        .write.mode("overwrite").parquet(s"$r/edges")
      Seq(st, g1.edgesW, g1.nodes).foreach(graft.Checkpoints.release)
      spark.range(1).select(lit(r1).as("r1"), lit(v).as("vcnt"),
          lit(srcId).as("src_id"))
        .coalesce(1).write.mode("overwrite").parquet(s"$r/meta")
    }
  }

  /** The delete-variant state root — exposed so the spec can compare the
    * persisted base distances against the maintained result (the
    * "exhibit provably lengthens a hop" witness). Cheap when built. */
  private[graft] def bfsIvmDelStateRoot(
      spark: SparkSession, dir: String): String = {
    ArtifactStore.ensure(spark, dir, "lineitem",
      "bfsivm_del_state", bfsIvmDelRecipe)(
      bfsIvmDelBuildState(spark, linePairs(spark, dir).distinct()))
  }

  private[graft] val BfsInfBound: Long = BfsInf

  /** The delete/mixed builders' dirty walk. Seed: nodes of the state
    * `st` (node_id, dist, par) whose shortest-path PARENT edge is among
    * the deleted directed edges `dedges` (u, v) — an O(delta) probe of
    * the state scan. Then the walk down the parent forest: each wave is
    * the previous wave's tree children, so waves never revisit and the
    * total dirty set is exactly the deleted edges' SP-subtrees. Returns
    * (the distinct dirty node_ids — checkpointed, the caller releases;
    * their count). */
  private def bfsDirtyWalk(spark: SparkSession, what: String, st: DataFrame,
      dedges: DataFrame, nDel: Long): (DataFrame, Long) = {
    val waveCks = scala.collection.mutable.ListBuffer.empty[DataFrame]
    // wave counts OBSERVED on the wave's own checkpoint job (one job per
    // wave, not two; the walk was job-count-bound at bench SF). Counts
    // are additive — exact in local mode, up to 2× in reliable mode
    // (Checkpoints.truncateObserved) — and feed only the `> 0` test (0 is
    // exact) and the size gates, where inflation errs toward the safe
    // shuffle side
    var (frontier, n) = truncateObserved(
      st.join(pickN(spark, nDel)(dedges),
          col("par") === col("u") && col("node_id") === col("v"))
        .select(col("node_id")), count(lit(1)))
    waveCks += frontier
    var dirty = frontier
    var waves = 0
    while (n > 0L) {
      waves += 1
      if (waves > 100)
        throw new IllegalStateException(
          s"$what: dirty walk still growing after 100 waves — the parent " +
            "forest has a cycle; the state is corrupt")
      val (next, n2) = truncateObserved(
        st.join(pickN(spark, n)(frontier.select(col("node_id").as("dn"))),
            col("par") === col("dn"))
          .select(col("node_id")), count(lit(1)))
      waveCks += next
      frontier = next
      dirty = dirty.unionByName(next)
      n = n2
    }
    // distinct: a node whose own parent edge was deleted AND whose
    // ancestor is also dirty enters via the seed and via a wave —
    // duplicated dirty rows would multiply the callers' init joins
    val res = truncateObserved(dirty.distinct(), count(lit(1)))
    waveCks.foreach(graft.Checkpoints.release)
    res
  }

  /** Size-gated join build side: broadcast `df` when its `sz` rows fit
    * [[GraphAdaptive.broadcastOk]], else the SHUFFLE_HASH pick. EVERY
    * per-frame join of the delete/mixed dirty walk and re-grow goes
    * through it (VERDICT r18 #1): the dirty set is the deleted edges'
    * SP-subtrees, which for a root-adjacent delete approaches O(V) — an
    * ungated broadcast there is a driver / executor memory blowup at
    * 100×, where the SHUFFLE_HASH build merely degrades to one more
    * exchange. */
  private def pickN(spark: SparkSession, sz: Long)(df: DataFrame): DataFrame =
    GraphAdaptive.pick(GraphAdaptive.broadcastOk(spark, sz))(df)

  /** The delete/mixed builders' re-grow. The final edge frame
    * `edgesFin0` is laid out like [[edgeLayout]]'s (src-partitioned
    * unless V broadcasts); `activate` maps the CLEAN FRONTIER (clean
    * nodes with a surviving edge into a dirty node) to the checkpointed
    * set that pushes in round 1 and its size. Every `dirty` node resets
    * to +Inf, every activated one gets pd = dist + 1 ≠ dist, and the
    * relaxation runs to its fixpoint; `relaxed(r2)` then marks the phase.
    * The reached distances are spilled under `resPrefix` and every frame
    * made here, plus `dirty`, is released. Returns the ordered
    * (node_id, hop) result. */
  private def bfsRegrow(spark: SparkSession, what: String, resPrefix: String,
      st: DataFrame, vCnt: Long, edgesFin0: DataFrame, dirty: (DataFrame, Long))(
      activate: DataFrame => (DataFrame, Long))(relaxed: Long => Unit): DataFrame = {
    val (dirtyCk, nDirty) = dirty
    val pickD = pickN(spark, nDirty) _
    val bcastV = GraphAdaptive.broadcastOk(spark, vCnt)
    val edgesFin =
      if (bcastV) edgesFin0.truncateLineage
      else edgesFin0.repartition(col("src")).truncateLineagePartitioned
    val (actCk, nAct) = activate(edgesFin
      .join(pickD(dirtyCk.select(col("node_id").as("dst"))), Seq("dst"))
      .select(col("src").as("node_id")).distinct()
      .join(pickD(dirtyCk), Seq("node_id"), "left_anti"))
    val init = st
      .join(pickD(dirtyCk.withColumn("isd", lit(true))),
        Seq("node_id"), "left")
      .join(pickN(spark, nAct)(actCk.withColumn("isf", lit(true))),
        Seq("node_id"), "left")
      .select(col("node_id"),
        when(col("isd"), lit(BfsInf)).otherwise(col("dist")).as("dist"),
        when(col("isd"), lit(BfsInf))
          .otherwise(when(col("isf"), col("dist") + 1L)
            .otherwise(col("dist"))).as("pd"))
    val (d2, r2) = bfsRelaxLoop(PrGraph(edgesFin, st.select(col("node_id")),
      GraphAdaptive.pick(bcastV) _), init)
    relaxed(r2)
    val out = ArtifactStore.spillResult(spark, resPrefix,
      d2.filter(col("dist") < BfsInf)
        .select(col("node_id"), col("dist").as("hop")))
    Seq(d2, edgesFin, dirtyCk, actCk).foreach(graft.Checkpoints.release)
    // ADVICE r19: deletes LENGTHEN hops, but the DuckDB oracle's
    // recursive CTE is capped at BfsOracleWaves — if maintenance
    // ever pushes a shortest path to the cap, fail loudly here
    // instead of silently hash-mismatching the gate
    val maxHop = out
      .agg(coalesce(max(col("hop")), lit(0L))).head().getLong(0)
    require(maxHop < BfsOracleWaves,
      s"$what: maintained max hop $maxHop reached the " +
        s"oracle cap BfsOracleWaves=$BfsOracleWaves — raise the cap " +
        "(builder and gate SQL together) for this corpus")
    out.orderBy("hop", "node_id")
  }

  /** q_bfs_ivm_del's builder. `mark`: "p1", "delta",
    * "recompute:r1=<cold>:r2=<resume>:dirty=<subtree size>". */
  private[graft] def bfsIvmDelBuild(
      spark: SparkSession, dir: String,
      mark: String => Unit = _ => ()): DataFrame =
    IvmWindow.run(spark, dir, "bfsivmd", PairCols) { w =>
      // materialized once (OPTIMIZATION r19): the gen-1 append and the
      // MERGE's delete-source window stack below each re-ran the
      // scan→distinct lineage
      val ef = w.hold(graft.Checkpoints.truncate(
        linePairs(spark, dir).distinct()))
      val dels = heldOut(ef, 37L, 43L).filter(col("held")).select("p", "s")
      val stateRoot = bfsIvmDelStateRoot(spark, dir)
      val meta = spark.read.parquet(s"$stateRoot/meta").head()
      val (r1, vCnt) = (meta.getLong(0), meta.getLong(1))
      mark("p1")
      if (vCnt == 0L) bfsEmpty(spark)
      else {
        w.append(ef)                                                // gen 1
        w.deleteMatching(dels, "p", "s")                            // gen 2
        val dedges = w.truncated(
          bothWays(w.delta(Seq("p", "s"))))  // all sgn = -1
        val st = spark.read.parquet(s"$stateRoot/dist") // (node_id, dist, par)
        mark("delta")
        if (dedges.head(1).isEmpty) {
          // no-op delta at a degenerate SF: the base distances stand
          mark(s"recompute:r1=$r1:r2=0:dirty=0")
          st.filter(col("dist") < BfsInf)
            .select(col("node_id"), col("dist").as("hop"))
            .orderBy("hop", "node_id")
        } else {
          val nDel = dedges.count()
          val (dirtyCk, nDirty) =
            bfsDirtyWalk(spark, "bfsIvmDelBuild", st, dedges, nDel)
          val edgesFin0 = spark.read.parquet(s"$stateRoot/edges")
            .join(pickN(spark, nDel)(dedges.select(col("u").as("src"),
              col("v").as("dst"))), Seq("src", "dst"), "left_anti")
          bfsRegrow(spark, "bfsIvmDelBuild", "bfsivmd_res", st, vCnt,
              edgesFin0, (dirtyCk, nDirty)) {
            // only the clean frontier needs to push in round 1
            truncateObserved(_, count(lit(1)))
          } { r2 =>
            mark(s"recompute:r1=$r1:r2=$r2:dirty=$nDirty")
          }
        }
      }
    }

  // ---- MIXED add+delete BFS maintenance in ONE change batch: deletes
  // dirty their SP-subtrees exactly as in the delete variant; adds mean
  // CLEAN distances are upper bounds rather than exact (a new edge can
  // shorten a clean node's path), so the init stays correct (pointwise ≥
  // the final distances, Inf on dirty) and the activation set must cover
  // every source of change — the CLEAN FRONTIER into the dirty region
  // (re-grows what deletes tore down) PLUS every ADD ENDPOINT (sources
  // of any shortening chain). Proof shape: a node whose init exceeds its
  // final distance has, on a final shortest path, a predecessor with
  // exact init that must push — that predecessor either sits on an added
  // edge (activated) or on a surviving base edge, where the base
  // triangle inequality forces its clean successor exact (contradiction)
  // or the successor dirty, making the predecessor clean-frontier
  // (activated). Same Bellman-Ford loop, same unique fixpoint, so the
  // oracle stays the cold BFS of the final graph.

  private[graft] val bfsIvmMixedRecipe: String =
    s"bfsivmmx-v1:off=$Off,add=31/41,del=37/43,inf=$BfsInf"

  /** q_bfs_ivm_mixed's builder. `mark`: "p1", "delta",
    * "recompute:r1=<cold>:r2=<resume>:dirty=<n>:addv=<add endpoints>". */
  private[graft] def bfsIvmMixedBuild(
      spark: SparkSession, dir: String,
      mark: String => Unit = _ => ()): DataFrame =
    IvmWindow.run(spark, dir, "bfsivmmx", PairCols) { w =>
      val (base0, adds) = addSplit(w, linePairs(spark, dir).distinct())
      val dels = heldOut(base0, 37L, 43L).filter(col("held")).select("p", "s")
      // the delete variant's parent-carrying state builder, on THIS base
      val stateRoot = ArtifactStore.ensure(spark, dir, "lineitem",
        "bfsivm_mx_state", bfsIvmMixedRecipe)(bfsIvmDelBuildState(spark, base0))
      val meta = spark.read.parquet(s"$stateRoot/meta").head()
      val (r1, vCnt) = (meta.getLong(0), meta.getLong(1))
      mark("p1")
      if (vCnt == 0L) bfsEmpty(spark)
      else {
        w.append(base0)                                             // gen 1
        w.deleteMatching(dels, "p", "s")                            // gen 2
        w.append(adds)                                              // gen 3
        val dpairs = w.delta(Seq("p", "s"))  // BOTH signs
        val dedgesD = w.truncated(bothWays(dpairs.filter(col("sgn") < 0)))
        val dedgesA = w.truncated(bothWays(dpairs.filter(col("sgn") > 0)))
        val st = spark.read.parquet(s"$stateRoot/dist")
        mark("delta")
        if (dedgesD.head(1).isEmpty && dedgesA.head(1).isEmpty) {
          mark(s"recompute:r1=$r1:r2=0:dirty=0:addv=0")
          st.filter(col("dist") < BfsInf)
            .select(col("node_id"), col("dist").as("hop"))
            .orderBy("hop", "node_id")
        } else {
          // dirty walk down the parent forest, exactly the delete verb
          val nDelE = dedgesD.count()
          val (dirtyCk, nDirty) =
            bfsDirtyWalk(spark, "bfsIvmMixedBuild", st, dedgesD, nDelE)
          val edgesFin0 = spark.read.parquet(s"$stateRoot/edges")
            .join(pickN(spark, nDelE)(dedgesD.select(col("u").as("src"),
              col("v").as("dst"))), Seq("src", "dst"), "left_anti")
            .unionByName(dedgesA
              .select(col("u").as("src"), col("v").as("dst")))
          var nAddV = 0L
          bfsRegrow(spark, "bfsIvmMixedBuild", "bfsivmmx_res", st, vCnt,
              edgesFin0, (dirtyCk, nDirty)) { cleanFrontier =>
            // activation = clean frontier ∪ add endpoints (both roles —
            // the directed frame carries each endpoint as a src). Both the
            // activation count (gating) and the add-endpoint count (mark
            // telemetry) ride ONE checkpoint job: the addV leg carries its
            // own observe, and both metrics are read from the EXECUTED
            // frame's QueryExecution (a child frame's own QE never runs,
            // so reading the metric off addV would yield 0).
            val addVName = graft.Checkpoints.observedName("bfs_addv")
            val actName = graft.Checkpoints.observedName("bfs_act_ct")
            // hashed on node_id like the clean frontier, so the union's
            // distinct reads both sides where they are: a one-partition
            // delta (IvmWindow.truncated) would otherwise re-exchange the
            // frontier; a hashed one keeps its distinct's exchange only
            val addV = dedgesA.select(col("u").as("node_id")).distinct()
              .repartition(col("node_id"))
              .observe(addVName, count(lit(1)).as("v"))
            val actObs = cleanFrontier.unionByName(addV).distinct()
              .observe(actName, count(lit(1)).as("v"))
            val actCk = graft.Checkpoints.truncate(actObs)
            def obsCount(name: String, fallback: => Long): Long =
              actObs.queryExecution.observedMetrics.get(name)
                .map(r => if (r.isNullAt(0)) 0L else r.getLong(0))
                .getOrElse(fallback)
            nAddV = obsCount(addVName,
              dedgesA.select(col("u")).distinct().count())
            (actCk, obsCount(actName, actCk.count()))
          } { r2 =>
            mark(s"recompute:r1=$r1:r2=$r2:dirty=$nDirty:addv=$nAddV")
          }
        }
      }
    }

  /** Mixed-batch BFS gate — final graph = (base − dels) + adds = ef −
    * dels (the adds return), reconstructed in the oracle with BOTH
    * held-out layers mirrored (the adds window over ef, the deletes
    * window over the surviving base), then the cold recursive-CTE BFS. */
  private val qBfsIvmMixed = QueryDef(
    "q_bfs_ivm_mixed",
    Some(s"""
WITH RECURSIVE
ef AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
ac1 AS (
  SELECT p, s,
    ((p * 31 + s) % 41 = 0)
    AND sum(CASE WHEN (p * 31 + s) % 41 = 0 THEN 0 ELSE 1 END)
          OVER (PARTITION BY p) >= 1
    AND sum(CASE WHEN (p * 31 + s) % 41 = 0 THEN 0 ELSE 1 END)
          OVER (PARTITION BY s) >= 1 AS held
  FROM ef),
base0 AS (SELECT p, s FROM ac1 WHERE NOT held),
dc AS (
  SELECT p, s,
    ((p * 37 + s) % 43 = 0)
    AND sum(CASE WHEN (p * 37 + s) % 43 = 0 THEN 0 ELSE 1 END)
          OVER (PARTITION BY p) >= 1
    AND sum(CASE WHEN (p * 37 + s) % 43 = 0 THEN 0 ELSE 1 END)
          OVER (PARTITION BY s) >= 1 AS is_del
  FROM base0),
fin AS (
  SELECT e.p, e.s FROM ef e
  WHERE NOT EXISTS (SELECT 1 FROM dc
                    WHERE dc.is_del AND dc.p = e.p AND dc.s = e.s)),
edges AS (SELECT p AS src, s + $Off AS dst FROM fin
          UNION ALL SELECT s + $Off AS src, p AS dst FROM fin),
it(node_id, hop) AS (
  SELECT min(p), CAST(0 AS BIGINT) FROM ef HAVING count(*) > 0
  UNION
  SELECT e.dst, it.hop + 1 FROM it JOIN edges e ON e.src = it.node_id
  WHERE it.hop < $BfsOracleWaves
)
SELECT node_id, CAST(min(hop) AS BIGINT) AS hop
FROM it GROUP BY node_id ORDER BY hop, node_id"""),
    (spark, dir) => bfsIvmMixedBuild(spark, dir))

  /** Incremental-BFS-under-deletes gate — final graph = ef − dels, so the
    * oracle is the cold recursive-CTE BFS over the survivor edge set with
    * the held-out delete arithmetic mirrored (the q_components_ivm_del
    * window form). The hash gate proves the dirty-subtree recompute +
    * splice lands on the cold distances node-for-node. */
  private val qBfsIvmDel = QueryDef(
    "q_bfs_ivm_del",
    Some(s"""
WITH RECURSIVE
ef AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
dc AS (
  SELECT p, s,
    ((p * 37 + s) % 43 = 0)
    AND sum(CASE WHEN (p * 37 + s) % 43 = 0 THEN 0 ELSE 1 END)
          OVER (PARTITION BY p) >= 1
    AND sum(CASE WHEN (p * 37 + s) % 43 = 0 THEN 0 ELSE 1 END)
          OVER (PARTITION BY s) >= 1 AS is_del
  FROM ef),
fin AS (SELECT p, s FROM dc WHERE NOT is_del),
edges AS (SELECT p AS src, s + $Off AS dst FROM fin
          UNION ALL SELECT s + $Off AS src, p AS dst FROM fin),
it(node_id, hop) AS (
  SELECT min(p), CAST(0 AS BIGINT) FROM ef HAVING count(*) > 0
  UNION
  SELECT e.dst, it.hop + 1 FROM it JOIN edges e ON e.src = it.node_id
  WHERE it.hop < $BfsOracleWaves
)
SELECT node_id, CAST(min(hop) AS BIGINT) AS hop
FROM it GROUP BY node_id ORDER BY hop, node_id"""),
    (spark, dir) => bfsIvmDelBuild(spark, dir))

  // =========================================================================
  // INCREMENTAL TRIANGLE COUNTING under edge adds — the FOURTH maintained
  // kernel family (after components, BFS, PageRank): graph STATISTICS,
  // where the maintained quantity is a count, not a fixpoint. Unlike the
  // fixpoint kernels there is no resume loop at all: per-node triangle
  // counts are additive, so a batch of new edges contributes exactly the
  // triangles of the FINAL graph that contain >= 1 new edge — computable
  // from the delta alone as common-neighbor intersections of the delta
  // edges' endpoints (O(|delta| · degree), never a corpus re-close). A
  // triangle containing 2-3 new edges surfaces once per new edge, so it
  // is attributed to its lexicographically SMALLEST new edge — an exact,
  // order-free dedup rule (the Suri/Vassilvitskii once-per-triangle idea
  // transplanted to the delta). The unique result makes the oracle the
  // cold kernel on the final graph, which — because base + adds
  // telescope back to the full pair set — is q_triangles' own SQL.
  // =========================================================================

  /** v3: the artifact also holds the base graph's adjacency
    * ([[triAdjacency]] of the base pairs), so the delta window reads it
    * instead of rebuilding it through an exchange. */
  private[graft] val triIvmRecipe: String = "triivm-v3:add=31/41"

  /** The adjacency both triangle artifacts persist and the add window
    * patches with: (src, nb = sort_array(collect_set(dst))) over both
    * directions of a (u, v) pair frame. */
  private def triAdjacency(pairs: DataFrame): DataFrame =
    pairs.select(col("u").as("src"), col("v").as("dst"))
      .unionByName(pairs.select(col("v").as("src"), col("u").as("dst")))
      .groupBy("src").agg(sort_array(collect_set(col("dst"))).as("nb"))

  /** Persist a triangle artifact's base state under root `r`: the full
    * pair set `ef` as `edges`, and the per-node counts and adjacency of
    * the base graph `ef.filter(base)`. */
  private def triBuildState(spark: SparkSession, dir: String,
      base: Column)(r: String): Unit = {
    val ef = graft.Checkpoints.truncate(triPairs(spark, dir))
    val (counts, d) = triCountsFrom(spark, ef.filter(base))
    counts.write.mode("overwrite").parquet(s"$r/counts")
    graft.Checkpoints.release(d)
    triAdjacency(ef.filter(base)).write.mode("overwrite").parquet(s"$r/adj")
    ef.write.mode("overwrite").parquet(s"$r/edges")
    graft.Checkpoints.release(ef)
  }

  /** q_triangles_ivm's builder. `mark`: "p1", "delta",
    * "apply:dt=<delta triangles>". */
  private[graft] def trianglesIvmBuild(
      spark: SparkSession, dir: String,
      mark: String => Unit = _ => ()): DataFrame =
    IvmWindow.run(spark, dir, "triivm", TriCols) { w =>
      val held = (col("u") * 31L + col("v")) % 41L === 0
      // the artifact holds the FULL co-purchase pair set and the base
      // counts and adjacency; the pair prologue (per-order collect_set +
      // pair explosion + distinct — q_triangles' own first stage) runs
      // only when it is built
      val stateRoot = ArtifactStore.ensure(spark, dir, "lineitem",
        "triivm_state", triIvmRecipe)(triBuildState(spark, dir, !held))
      mark("p1")

      val edges = spark.read.parquet(s"$stateRoot/edges")
      w.append(edges.filter(!held))                                 // gen 1
      w.append(edges.filter(held))                                  // gen 2
      // the FINAL graph is the base pairs plus the net inserted ones
      triApply(spark, w, 1L, stateRoot, mark)
    }

  /** Column definitions of the triangle windows' (u, v) pair tables. */
  private val TriCols = "u BIGINT, v BIGINT"

  /** The delta window both triangle builders share, after the mutations
    * committed to the table of window `w`: the net delta edges of sign `sign`
    * (+1 inserted, −1 deleted) come off the changes feed, their
    * emptiness off the same checkpoint job (a max flag, exact in both
    * checkpoint modes), through the window's one-partition rule
    * ([[IvmWindow.truncatedObserved]]): a delta the diff planned as one
    * partition counts its triangles in that one task, with no exchange.
    * A non-empty delta counts, per node, the triangles
    * containing >= 1 delta edge — of the FINAL graph for adds, of the
    * PRE-delete graph for deletes — each attributed to its SMALLEST delta
    * edge, and splices them onto the artifact's `counts` with that sign.
    *
    * The adjacency is the artifact's (`adj`, the base graph's, built
    * once with the artifact) restricted to the delta endpoints by a
    * broadcast semi-join — a map-only read, no exchange. For deletes the
    * base graph IS the pre-delete graph; for adds each endpoint's base
    * neighbours are unioned (`array_union`) with its neighbours in the
    * delta itself, an O(delta) adjacency, and endpoints the base graph
    * lacks take the delta neighbours alone. The splice ([[triSplice]])
    * broadcasts the O(delta) per-node counts into the artifact's, so the
    * O(V) counts are read but never exchanged. The result's top-20 is
    * localized, so it reads neither the table nor the delta checkpoint.
    * Returns the top-20 (node, n_tri). */
  private def triApply(spark: SparkSession, w: IvmWindow,
      sign: Long, stateRoot: String, mark: String => Unit): DataFrame = {
    val baseCnt = spark.read.parquet(s"$stateRoot/counts")
    val (dedges, nonEmpty) = w.truncatedObserved(
      w.netDelta(Seq("u", "v"))
        .filter(col("sgn") * sign > 0L).select("u", "v"),
      max(lit(1L)))
    mark("delta")
    if (nonEmpty == 0L) {
      mark("apply:dt=0")
      baseCnt.orderBy(desc("n_tri"), asc("node")).limit(20)
    } else {
      // the build side of a semi join: duplicate keys leave it unchanged
      val ends = dedges.select(col("u").as("n"))
        .unionByName(dedges.select(col("v").as("n")))
      val baseAdj = spark.read.parquet(s"$stateRoot/adj")
        .join(broadcast(ends), col("src") === col("n"), "left_semi")
      val adj =
        if (sign < 0L) baseAdj
        else {
          // every endpoint has a delta neighbour, so dAdj's keys are
          // exactly `ends`: patch the base rows, add the missing ones
          val dAdj = triAdjacency(dedges)
            .select(col("src").as("dsrc"), col("nb").as("dnb"))
          baseAdj.join(broadcast(dAdj), col("src") === col("dsrc"), "left")
            .select(col("src"), array_union(col("nb"),
              coalesce(col("dnb"), col("nb"))).as("nb"))
            .unionByName(dAdj
              .join(broadcast(baseAdj.select(col("src"))),
                col("dsrc") === col("src"), "left_anti")
              .select(col("dsrc").as("src"), col("dnb").as("nb")))
        }
      // per delta edge: common neighbors = the triangles through it;
      // attribute each to its SMALLEST delta edge
      val cand = dedges
        .join(adj.select(col("src").as("au"), col("nb").as("nu")),
          col("u") === col("au"))
        .join(adj.select(col("src").as("av"), col("nb").as("nv")),
          col("v") === col("av"))
        .select(col("u"), col("v"),
          explode(expr("array_intersect(nu, nv)")).as("w"))
      val d1 = dedges.select(col("u").as("du1"), col("v").as("dv1"))
        .withColumn("e1", lit(true))
      val d2 = dedges.select(col("u").as("du2"), col("v").as("dv2"))
        .withColumn("e2", lit(true))
      val mine = cand
        .join(broadcast(d1),
          least(col("u"), col("w")) === col("du1") &&
            greatest(col("u"), col("w")) === col("dv1"), "left")
        .join(broadcast(d2),
          least(col("v"), col("w")) === col("du2") &&
            greatest(col("v"), col("w")) === col("dv2"), "left")
        .filter(
          !(coalesce(col("e1"), lit(false)) &&
            struct(least(col("u"), col("w")),
              greatest(col("u"), col("w"))) <
              struct(col("u"), col("v"))) &&
          !(coalesce(col("e2"), lit(false)) &&
            struct(least(col("v"), col("w")),
              greatest(col("v"), col("w"))) <
              struct(col("u"), col("v"))))
      val dCk = w.truncated(mine
        .select(explode(array(col("u"), col("v"), col("w"))).as("node"))
        .groupBy("node").agg(count(lit(1)).as("dn")))
      val nDt = dCk.agg(sum(col("dn"))).head() // 3 rows per triangle
      mark(s"apply:dt=${if (nDt.isNullAt(0)) 0L else nDt.getLong(0) / 3}")
      w.localize(triSplice(baseCnt, dCk, sign)
        .orderBy(desc("n_tri"), asc("node")).limit(20),
        desc("n_tri"), asc("node"))
    }
  }

  /** Per-node triangle counts `base` (node, n_tri) plus `sign` times the
    * delta's (node, dn), keeping the nodes whose count stays positive —
    * the full outer join of the two, without exchanging the O(V) side:
    * the base rows take their delta through a broadcast left join; for
    * adds, the delta nodes the base lacks are unioned in (found by an
    * anti join against the O(delta) base rows the delta hits). A deleted
    * triangle existed in the base, so a delete's nodes are all there. */
  private[graft] def triSplice(base: DataFrame, delta: DataFrame,
      sign: Long): DataFrame = {
    val dB = broadcast(delta.select(col("node").as("dnode"), col("dn")))
    val spliced = base.join(dB, col("node") === col("dnode"), "left")
      .select(col("node"),
        (col("n_tri") + coalesce(col("dn"), lit(0L)) * sign).as("n_tri"))
    val all =
      if (sign < 0L) spliced
      else spliced.unionByName(delta
        .join(broadcast(base.join(dB, col("node") === col("dnode"),
          "left_semi").select("node")), Seq("node"), "left_anti")
        .select(col("node"), col("dn").as("n_tri")))
    all.filter(col("n_tri") > 0)
  }

  /** Incremental triangle gate — final pair set = base + adds = the full
    * co-purchase graph, so the oracle is q_triangles' SQL verbatim: the
    * hash gate proves the delta-attributed counts splice onto the base
    * counts to exactly the cold kernel's numbers. */
  private val qTrianglesIvm = QueryDef(
    "q_triangles_ivm",
    qTriangles.oracle,
    (spark, dir) => trianglesIvmBuild(spark, dir))

  // ---- the DELETE side of triangle maintenance: counts are additive in
  // both directions, so a delete batch SUBTRACTS the triangles of the
  // PRE-DELETE graph that contain >= 1 deleted edge — the same
  // common-neighbor intersection over the delta, against the BASE
  // adjacency this time, with the same smallest-delta-edge attribution.
  // No recompute verb at all: deletion of graph statistics is exact
  // arithmetic, which neither components nor BFS could claim.

  /** v2: the artifact also holds the pair set's adjacency, the
    * PRE-delete graph's, which the delete window reads as is. */
  private[graft] val triIvmDelRecipe: String = "triivmdel-v2:del=37/43"

  /** q_triangles_ivm_del's builder. `mark`: "p1", "delta",
    * "apply:dt=<triangles removed>". */
  private[graft] def trianglesIvmDelBuild(
      spark: SparkSession, dir: String,
      mark: String => Unit = _ => ()): DataFrame =
    IvmWindow.run(spark, dir, "triivmd", TriCols) { w =>
      // the artifact holds the pair set and its counts and adjacency; the
      // pair prologue runs only when it is built
      val stateRoot = ArtifactStore.ensure(spark, dir, "lineitem",
        "triivm_del_state", triIvmDelRecipe)(
        triBuildState(spark, dir, lit(true)))
      mark("p1")

      val edges = spark.read.parquet(s"$stateRoot/edges")
      w.append(edges)                                               // gen 1
      w.deleteMatching(
        edges.filter((col("u") * 37L + col("v")) % 43L === 0), "u", "v") // gen 2
      // the PRE-delete graph is the base pair set itself
      triApply(spark, w, -1L, stateRoot, mark)
    }

  /** Delete-side triangle gate: the oracle is the cold kernel over the
    * SURVIVOR pair set (the hash-delete arithmetic mirrored in SQL) —
    * the subtraction must land on the cold counts node-for-node. */
  private val qTrianglesIvmDel = QueryDef(
    "q_triangles_ivm_del",
    Some(s"""
      |WITH e0 AS (
      |  SELECT u, v FROM (
      |    SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |    FROM lineitem a JOIN lineitem b
      |      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey)
      |  WHERE (u * 37 + v) % 43 <> 0),
      |deg AS (SELECT node, count(*) AS dg FROM (
      |    SELECT u AS node FROM e0 UNION ALL SELECT v FROM e0) GROUP BY node),
      |d AS (
      |  SELECT
      |    CASE WHEN du.dg * 10000000000 + u < dv.dg * 10000000000 + v
      |      THEN u ELSE v END AS x,
      |    CASE WHEN du.dg * 10000000000 + u < dv.dg * 10000000000 + v
      |      THEN v ELSE u END AS y,
      |    greatest(du.dg * 10000000000 + u, dv.dg * 10000000000 + v) AS oky
      |  FROM e0 JOIN deg du ON du.node = u JOIN deg dv ON dv.node = v),
      |tri AS (
      |  SELECT d1.x AS a, d1.y AS b, d2.y AS c
      |  FROM d d1 JOIN d d2 ON d2.x = d1.x AND d1.oky < d2.oky
      |  JOIN d d3 ON d3.x = d1.y AND d3.y = d2.y)
      |SELECT node, count(*) AS n_tri FROM (
      |  SELECT a AS node FROM tri UNION ALL SELECT b FROM tri
      |  UNION ALL SELECT c FROM tri)
      |GROUP BY node ORDER BY n_tri DESC, node LIMIT 20
      |""".stripMargin.trim),
    (spark, dir) => trianglesIvmDelBuild(spark, dir))

  // =========================================================================
  // INCREMENTAL LABEL PROPAGATION — the kernel the r17 frontier flagged
  // as "not monotone, needs a different argument". The argument is
  // COMPONENT LOCALITY: the self-vote synchronous update reads only a
  // node's neighbors and itself, so a component's label trajectory — and
  // its fixpoint — is a pure function of that component's own topology
  // (the global run restricted to a component IS the component's own
  // run, and a converged component is self-stable). An edge delta can
  // therefore only change labels inside the FINAL components it touches:
  // recompute exactly those with the identical kernel (cold, from self
  // labels — same trajectory as a global cold run's restriction), splice
  // the persisted base labels everywhere else. The affected set is
  // learned from the maintained COMPONENT labeling (the monotone
  // q_components_ivm resume — cheap), so the whole maintenance step is
  // O(delta + affected subgraph). Labels are node ids and never cross
  // components, so the global community sizes recompute from the spliced
  // labeling exactly.
  // =========================================================================

  private[graft] val lpIvmRecipe: String =
    s"lpivm-v1:qty=$CompQty,pmod=$CompPartMod,off=$Off,add=31/41"

  /** Base state for [[qLabelPropIvm]]: converged LP labels, the base
    * component labeling (the affected-set index), and the base pair set,
    * all on the q_components_ivm exhibit subgraph. */
  private def lpIvmBuildState(
      spark: SparkSession, base0: DataFrame)(r: String): Unit = {
    val pairs = base0.select(col("p").as("u"), (col("s") + Off).as("v"))
    pairs.write.mode("overwrite").parquet(s"$r/pairs")
    val pr = spark.read.parquet(s"$r/pairs")
    val v = pr.select(col("u").as("n"))
      .unionByName(pr.select(col("v").as("n"))).distinct().count()
    val bcast = GraphAdaptive.broadcastOk(spark, v)
    val dirEdges = {
      val both = pr.select(col("u").as("src"), col("v").as("dst"))
        .unionByName(pr.select(col("v").as("src"), col("u").as("dst")))
      if (bcast) graft.Checkpoints.truncate(both)
      else graft.Checkpoints.truncate(
        both.repartition(col("src")), keepPartitioning = true)
    }
    val (lbl, r1) = lpLoop(dirEdges, GraphAdaptive.pick(bcast) _)
    lbl.select(col("node_id"), col("lbl"))
      .write.mode("overwrite").parquet(s"$r/lp")
    Seq(lbl, dirEdges).foreach(graft.Checkpoints.release)
    val compEdges = graft.Checkpoints.truncate(
      pr.unionByName(pr.select(col("v").as("u"), col("u").as("v")))
        .repartition(col("v")), keepPartitioning = true)
    val (comp, _) = Dedup.componentsLoop(spark, compEdges, None)
    comp.write.mode("overwrite").parquet(s"$r/comp")
    Seq(comp, compEdges).foreach(graft.Checkpoints.release)
    spark.range(1).select(lit(r1).as("r1"), lit(v).as("vcnt"))
      .coalesce(1).write.mode("overwrite").parquet(s"$r/meta")
  }

  /** q_label_prop_ivm's builder. `mark`: "p1", "delta",
    * "resume:r1=<cold LP rounds>:r2=<affected LP rounds>:aff=<affected
    * final components>". */
  private[graft] def labelPropIvmBuild(
      spark: SparkSession, dir: String,
      mark: String => Unit = _ => ()): DataFrame =
    IvmWindow.run(spark, dir, "lpivm", PairCols) { w =>
      val (base0, adds) = addSplit(w, compPairs(spark, dir))
      val stateRoot = ArtifactStore.ensure(spark, dir, "lineitem",
        "lpivm_state", lpIvmRecipe)(lpIvmBuildState(spark, base0))
      val meta = spark.read.parquet(s"$stateRoot/meta").head()
      val (r1, vCnt) = (meta.getLong(0), meta.getLong(1))
      mark("p1")
      if (vCnt == 0L)
        spark.range(0).select(col("id").as("node_id"), col("id").as("lbl"),
          col("id").as("comm_size"))
      else {
        w.append(base0)                                             // gen 1
        w.append(adds)                                              // gen 2
        val dpairs = w.delta(Seq("p", "s"))
        val lpBase = spark.read.parquet(s"$stateRoot/lp")
        mark("delta")
        if (dpairs.head(1).isEmpty) {
          mark(s"resume:r1=$r1:r2=0:aff=0")
          val sz = lpBase.groupBy("lbl").agg(count(lit(1)).as("comm_size"))
          lpBase.join(sz, "lbl")
            .select(col("node_id"), col("lbl"), col("comm_size"))
            .orderBy("node_id")
        } else {
          // FINAL components via the monotone resume (q_components_ivm's
          // arithmetic), then the affected final components = those
          // holding a delta endpoint
          val dEnds = dpairs.select(col("p").as("u"))
            .unionByName(dpairs.select((col("s") + Off).as("u"))).distinct()
          val duv = dpairs.select(col("p").as("u"), (col("s") + Off).as("v"))
          val basePairs = spark.read.parquet(s"$stateRoot/pairs")
          val finPairs = basePairs.unionByName(duv)
          val compEdges = w.hold(graft.Checkpoints.truncate(
            finPairs.unionByName(
                finPairs.select(col("v").as("u"), col("u").as("v")))
              .repartition(col("v")), keepPartitioning = true))
          val c0 = spark.read.parquet(s"$stateRoot/comp")
          val cInit = c0.unionByName(
            compEdges.select(col("u")).distinct()
              .join(c0.select(col("u")), Seq("u"), "left_anti")
              .select(col("u"), col("u").as("lbl")))
          val (finLbl, _) = Dedup.componentsLoop(spark, compEdges, Some(cInit))
          w.hold(finLbl)
          val affected = finLbl
            .join(broadcast(dEnds), Seq("u"))
            .select(col("lbl")).distinct()
          val nAff = affected.count()
          val affV = w.hold(graft.Checkpoints.truncate(
            finLbl.join(broadcast(affected), Seq("lbl"))
              .select(col("u").as("node_id"))))
          // the affected SUBGRAPH's directed edges (components are
          // edge-closed, so a src-side semi-join captures them all)
          val bcast = GraphAdaptive.broadcastOk(spark, vCnt)
          val affEdges = w.hold {
            val both = finPairs
              .select(col("u").as("src"), col("v").as("dst"))
              .unionByName(finPairs
                .select(col("v").as("src"), col("u").as("dst")))
              .join(broadcast(affV.select(col("node_id").as("src"))),
                Seq("src"), "left_semi")
            if (bcast) graft.Checkpoints.truncate(both)
            else graft.Checkpoints.truncate(
              both.repartition(col("src")), keepPartitioning = true)
          }
          val (lbl2, r2) = lpLoop(affEdges, GraphAdaptive.pick(bcast) _)
          w.hold(lbl2)
          mark(s"resume:r1=$r1:r2=$r2:aff=$nAff")
          val keep = lpBase.join(broadcast(affV), Seq("node_id"), "left_anti")
          val spliced = keep
            .unionByName(lbl2.select(col("node_id"), col("lbl")))
          val sz = spliced.groupBy("lbl").agg(count(lit(1)).as("comm_size"))
          ArtifactStore.spillResult(spark, "lpivm_res",
            spliced.join(sz, "lbl")
              .select(col("node_id"), col("lbl"), col("comm_size")))
            .orderBy("node_id")
        }
      }
    }

  /** Incremental label-prop gate — final subgraph = base + adds = the
    * q_components_ivm exhibit's full edge set, so the oracle is the cold
    * self-vote LPA fixpoint over it (the q_label_prop_converged
    * recursion without the global round column, which a spliced
    * recompute deliberately does not reproduce). */
  private val qLabelPropIvm = QueryDef(
    "q_label_prop_ivm",
    Some(s"""
WITH RECURSIVE
e0 AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem
       WHERE l_quantity = $CompQty AND l_partkey % $CompPartMod = 0),
edges AS (SELECT p AS src, s + $Off AS dst FROM e0
          UNION ALL SELECT s + $Off AS src, p AS dst FROM e0),
it(node_id, lbl, chg, rounds) AS (
  SELECT DISTINCT src, src, CAST(1 AS BIGINT), CAST(0 AS BIGINT) FROM edges
  UNION ALL
  SELECT w.node_id, w.lbl,
    CAST(sum(CASE WHEN w.lbl <> w.prev THEN 1 ELSE 0 END) OVER () AS BIGINT),
    w.rounds + 1
  FROM (
    SELECT nx.node_id, nx.lbl, p2.lbl AS prev, p2.rounds AS rounds
    FROM (
      SELECT node_id, lbl FROM (
        SELECT node_id, lbl,
          row_number() OVER (PARTITION BY node_id ORDER BY c DESC, lbl) AS rn
        FROM (
          SELECT v.node_id, v.lbl, CAST(count(*) AS BIGINT) AS c FROM (
            SELECT e.dst AS node_id, l.lbl
            FROM edges e JOIN it l ON l.node_id = e.src
            UNION ALL SELECT node_id, lbl FROM it) v
          GROUP BY v.node_id, v.lbl)) WHERE rn = 1) nx
    JOIN it p2 ON p2.node_id = nx.node_id
    WHERE p2.chg > 0 AND p2.rounds < $LpMaxRounds
  ) w
)
SELECT f.node_id, f.lbl, sz.comm_size
FROM (SELECT node_id, lbl FROM it
      WHERE rounds = (SELECT max(rounds) FROM it)) f
JOIN (SELECT lbl, CAST(count(*) AS BIGINT) AS comm_size FROM it
      WHERE rounds = (SELECT max(rounds) FROM it) GROUP BY lbl) sz
  ON sz.lbl = f.lbl
ORDER BY f.node_id"""),
    (spark, dir) => labelPropIvmBuild(spark, dir))

  val defs: Seq[QueryDef] =
    Seq(qPagerank, qPagerankConverged, qPagerankIvm, qComponentsIvm,
      qComponentsIvmDel, qBfsIvm, qBfsIvmDel, qBfsIvmMixed,
      qTriangles, qTrianglesIvm, qTrianglesIvmDel, qBfsHops, qBfsFull,
      qLabelProp, qLabelPropConverged, qLabelPropIvm)
}
