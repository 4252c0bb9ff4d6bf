package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{coalesce, lit}

/** Lineage-truncation seam for the iterative queries, and [[fixpoint]],
  * the one fixpoint loop their convergence kernels run on.
  *
  * Iterative DataFrame loops MUST truncate logical lineage each round or
  * Catalyst re-analyzes a plan tree that grows per iteration (measured
  * 4-9s/round vs 0.3s truncated at sf0.001). Two ways to truncate:
  *
  *  - DEFAULT: `localCheckpoint(eager = true)` — executor-local blocks, no
  *    I/O beyond block-manager memory/disk. Fast, and correct on local[*];
  *    on a multi-executor cluster the blocks are UNREPLICATED, so losing
  *    one executor mid-loop kills the query (lineage is gone — Spark
  *    cannot recompute).
  *  - RELIABLE: set `graft.checkpoint.dir` (spark.conf) to a
  *    cluster-visible path (HDFS/object store) and the SAME call sites
  *    switch to `checkpoint(eager = true)` — files survive executor loss,
  *    which is the operating mode a 1000-executor 100 TB run needs. Costs
  *    one extra computation of the frame per truncation (Spark writes
  *    checkpoint files in a second job) plus the write itself — the
  *    standard durability/latency trade, chosen per deployment with one
  *    conf instead of a code change.
  *
  * Re-pointing `graft.checkpoint.dir` mid-session takes effect on the next
  * truncate (the seam tracks what it last applied to the SparkContext and
  * re-applies on change — `setCheckpointDir` alone is first-write-wins).
  *
  * RETENTION: Spark never deletes reliable checkpoint files on its own
  * (absent `spark.cleaner.referenceTracking.cleanCheckpoints`, which is
  * GC-driven and non-deterministic), so a 50-round loop would leak 50
  * materialized frames into the checkpoint store. The iterative loops
  * therefore call [[release]] on round N-1's frame once round N is
  * materialized — the old files are no longer reachable from any live
  * frame's lineage (checkpointing CUT it), so the store holds O(1) frames
  * per loop, not O(iterations). The LAST frame's files are left for the
  * session (deleting them would break the returned, lazily-re-readable
  * result).
  *
  * CheckpointSpec pins [[fixpoint]]'s cap, job count and retention, and
  * asserts that every iterative query it runs reaches the same rows
  * through the reliable path as through the default one.
  */
object Checkpoints {

  /** Spark conf key: when set (non-empty), iterative queries use reliable
    * `checkpoint()` into this directory instead of `localCheckpoint()`. */
  val DirKey = "graft.checkpoint.dir"

  // last dir applied to the SparkContext: re-applying only on CHANGE keeps
  // one UUID subdir per configured dir, while still honoring a re-point
  // mid-session (setCheckpointDir alone is first-write-wins)
  private var applied: Option[String] = None

  /** Eagerly truncate `df`'s lineage via the configured checkpoint mode.
    *
    * The carried size estimate is saturated at Long.MaxValue
    * ([[org.apache.spark.sql.graftbridge.GraftPlanBridge.capCheckpointStats]]):
    * checkpoints copy the ORIGIN plan's estimated stats, and a loop that
    * joins round N−1's checkpoint into round N's plan compounds them
    * multiplicatively — past ~20 rounds the driver grinds million-bit
    * BigInt products at every plan. The cap is decision-lossless (any
    * estimate past 9.2 EB already means "never broadcast") and leaves
    * frames with sane estimates untouched. */
  def truncate(df: DataFrame): DataFrame = truncate(df, keepPartitioning = false)

  /** [[truncate]] with `keepPartitioning = true` materializes the
    * checkpoint with AQE DISABLED for just that job (conf set/restored
    * around the eager action — the graph builders run their loops
    * driver-sequentially, so no concurrently-built query can observe the
    * window). WHY (OPTIMIZATION r20): under AQE the checkpoint captures
    * `AdaptiveSparkPlanExec.outputPartitioning`, which is
    * UnknownPartitioning — measured on Spark 4.1: EVERY "co-partitioning
    * baked into the checkpointed blocks" claim in the iterative kernels
    * was silently inert, and every loop round re-exchanged the frame its
    * builder had explicitly repartitioned. With AQE off for the one
    * materialization job the LogicalRDD records the real
    * hashpartitioning (verified: downstream same-key aggregates plan NO
    * exchange), at the cost of that single job skipping AQE's
    * coalescing — acceptable for an explicitly-laid-out frame whose
    * partition count the caller chose. Use for frames a loop re-reads
    * PARTITIONED; plain truncate() everywhere else. */
  def truncate(df: DataFrame, keepPartitioning: Boolean): DataFrame = {
    val spark = df.sparkSession
    def materialize(): DataFrame =
      spark.conf.getOption(DirKey).filter(_.nonEmpty) match {
        case Some(dir) =>
          val sc = spark.sparkContext
          synchronized {
            if (!applied.contains(dir) || sc.getCheckpointDir.isEmpty) {
              sc.setCheckpointDir(dir)
              applied = Some(dir)
            }
          }
          df.checkpoint(eager = true)
        case None => df.localCheckpoint(eager = true)
      }
    val ckpt =
      if (!keepPartitioning) materialize()
      else {
        val k = "spark.sql.adaptive.enabled"
        val was = spark.conf.get(k, "true")
        spark.conf.set(k, "false")
        try materialize() finally spark.conf.set(k, was)
      }
    org.apache.spark.sql.graftbridge.GraftPlanBridge.capCheckpointStats(
      ckpt.asInstanceOf[org.apache.spark.sql.classic.DataFrame])
  }

  private val observedId = new java.util.concurrent.atomic.AtomicLong

  /** A JVM-unique observation name: loops run several times per session
    * (state builds, IVM resumes), and a reused name would collide if two
    * observed frames ever met in one plan. */
  private[graft] def observedName(prefix: String): String =
    s"${prefix}_${observedId.incrementAndGet()}"

  /** [[truncate]] `df` and read the aggregate `metric` (a Long-valued
    * aggregate over `df`'s columns, unaliased) off the SAME job via
    * `.observe` — the loops' one-action-per-round discipline: the
    * convergence or size test costs no second pass over the round frame.
    * A null result (max over an empty frame) reads 0. If the observation
    * is absent, the metric is aggregated over the materialized
    * checkpoint instead.
    *
    * Exactness: local mode runs the plan once, so every metric is exact.
    * A reliable-mode eager checkpoint runs the plan twice (the eager
    * action and the checkpoint-write job), so an ADDITIVE metric (count,
    * sum) can read up to 2× there; an idempotent one (max, min) stays
    * exact. Loop tests that must be mode-independent use a max flag;
    * counts are only fit for a `> 0` test (0 is exact) or a size gate
    * where inflation errs toward the safe side. */
  def truncateObserved(df: DataFrame, metric: Column): (DataFrame, Long) = {
    val name = observedName("ck_obs")
    val obs = df.observe(name, metric.as("v"))
    val ck = truncate(obs)
    val v = obs.queryExecution.observedMetrics.get(name)
      .map(r => if (r.isNullAt(0)) 0L else r.getLong(0))
      .getOrElse(ck.agg(coalesce(metric, lit(0L))).head().getLong(0))
    (ck, v)
  }

  /** The one fixpoint loop for a convergence kernel: while the last
    * observed value is > 0, run round k as `truncateObserved(step(cur),
    * metric)` — one Spark job — then [[release]] the superseded root.
    * `start` is the truncated seed and its value: `truncateObserved(init,
    * metric)` when zero rounds may do, `(truncate(init), 1L)` when round
    * 1 always runs. `metric` must be a max-style flag, idempotent and so
    * exact in both checkpoint modes. Round `cap` runs (the oracles'
    * `rounds < cap` guard); needing round `cap + 1` throws, naming
    * `what`. Returns (last checkpoint root — the caller releases it;
    * rounds run). */
  def fixpoint(what: String, cap: Long, start: (DataFrame, Long), metric: Column)(
      step: DataFrame => DataFrame): (DataFrame, Long) = {
    @scala.annotation.tailrec
    def go(cur: DataFrame, v: Long, rounds: Long): (DataFrame, Long) =
      if (v <= 0L) (cur, rounds)
      else if (rounds >= cap)
        throw new IllegalStateException(
          s"$what: no fixpoint after $cap rounds (still changing) — " +
            "refusing to return a half-converged result")
      else {
        val (nxt, v2) = truncateObserved(step(cur), metric)
        release(cur)
        go(nxt, v2, rounds + 1)
      }
    go(start._1, start._2, 0L)
  }

  /** Best-effort delete of the RELIABLE checkpoint files backing a frame
    * the caller no longer needs (a superseded loop iteration). No-op for
    * local checkpoints (block-manager storage is already evicted under
    * pressure) and for frames that are not checkpoint roots. Only call
    * once every frame derived from `df` has itself been checkpointed —
    * after that, nothing can recompute through the deleted files. */
  def release(df: DataFrame): Unit =
    df.queryExecution.logical match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.getCheckpointFile.foreach { path => // Some(..) = reliable only
          try {
            val p = new org.apache.hadoop.fs.Path(path)
            p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
              .delete(p, true)
          } catch { case _: java.io.IOException => () } // cleanup is advisory
        }
      case _ => ()
    }

  /** `.truncateLineage` chain syntax for query builders. */
  implicit final class TruncateOps(private val df: DataFrame) extends AnyVal {
    def truncateLineage: DataFrame = truncate(df)
    /** Partitioning-preserving variant — see [[truncate(df,Boolean)]]. */
    def truncateLineagePartitioned: DataFrame =
      truncate(df, keepPartitioning = true)
  }
}
