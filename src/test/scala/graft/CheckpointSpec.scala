package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, max}
import graft.queries.{ArtifactStore, Graph}

/** The reliable-checkpoint seam (graft.Checkpoints): iterative queries
  * default to executor-local lineage truncation, and switch — at the SAME
  * call sites — to reliable `checkpoint()` when `graft.checkpoint.dir` is
  * set. The spec pins the shared fixpoint loop (Checkpoints.fixpoint: cap,
  * jobs per round, retention) and runs the iterative queries through the
  * reliable path, asserting they return the same rows as the default
  * path (VERDICT r05 item 2: losing an executor mid-loop must not be able
  * to kill a 100 TB run when the conf opts in to durability). */
class CheckpointSpec extends SparkSuite {

  private def collectSorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  /** Reliable checkpoint dirs (`rdd-*`) live under `dir`. */
  private def rddDirs(dir: String): Long =
    scala.util.Using.resource(
        java.nio.file.Files.walk(java.nio.file.Paths.get(dir)))(
      _.filter(p => p.getFileName.toString.startsWith("rdd-"))
        .filter(p => java.nio.file.Files.isDirectory(p))
        .count())

  private def withReliableDir[A](f: => A): A = {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ckpt_spec").toString
    spark.conf.set(Checkpoints.DirKey, dir)
    try f
    finally {
      spark.conf.unset(Checkpoints.DirKey)
      // the context keeps the resolved UUID subdir; later suites must not
      // silently inherit reliable mode semantics from a stale setting —
      // Checkpoints keys off the conf, not the context dir, so unsetting
      // the conf restores the default path
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("truncate uses reliable checkpoint files when the conf is set") {
    import spark.implicits._
    withReliableDir {
      val df = Checkpoints.truncate(Seq(1, 2, 3).toDF("x"))
      // a reliably-checkpointed Dataset's RDD lineage bottoms out in
      // ReliableCheckpointRDD; the local path keeps LocalCheckpointRDD
      assert(df.rdd.toDebugString.contains("ReliableCheckpointRDD"))
      assert(df.as[Int].collect().sorted === Array(1, 2, 3))
    }
    val local = Checkpoints.truncate(Seq(4, 5).toDF("x"))
    assert(!local.rdd.toDebugString.contains("ReliableCheckpointRDD"))
  }

  test("components loop reaches the same fixpoint through the reliable path") {
    val q = queries.Catalog.queries("q_dedup_components")
    val default = collectSorted(q(spark, sfDir))
    val reliable = withReliableDir(collectSorted(q(spark, sfDir)))
    assert(reliable === default)
  }

  test("re-pointing graft.checkpoint.dir takes effect (not first-write-wins)") {
    import spark.implicits._
    def rddCheckpointDirOf(df: DataFrame): String =
      df.queryExecution.logical match {
        case l: org.apache.spark.sql.execution.LogicalRDD =>
          l.rdd.getCheckpointFile.getOrElse(fail("no reliable checkpoint file"))
        case other => fail(s"not a checkpoint root: $other")
      }
    val a = java.nio.file.Files.createTempDirectory("graft_ckpt_a").toString
    val b = java.nio.file.Files.createTempDirectory("graft_ckpt_b").toString
    try {
      spark.conf.set(Checkpoints.DirKey, a)
      val inA = rddCheckpointDirOf(Checkpoints.truncate(Seq(1).toDF("x")))
      assert(inA.contains(new java.io.File(a).getName), inA)
      // store A decommissioned: the conf is re-pointed mid-session — the
      // seam must follow it, not keep writing into A forever
      spark.conf.set(Checkpoints.DirKey, b)
      val inB = rddCheckpointDirOf(Checkpoints.truncate(Seq(2).toDF("x")))
      assert(inB.contains(new java.io.File(b).getName),
        s"checkpoint still under the old dir: $inB")
    } finally {
      spark.conf.unset(Checkpoints.DirKey)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(a))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(b))
    }
  }

  test("iteration retains O(1) checkpointed frames, not O(rounds)") {
    // Spark never deletes reliable checkpoint files on its own; the loops
    // release superseded rounds. 50 rounds must not leave 50 rdd-* dirs.
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt_leak").toString
    spark.conf.set(Checkpoints.DirKey, dir)
    try {
      queries.Catalog.queries("q_dedup_components")(spark, sfDir).collect()
      val rddDirs = this.rddDirs(dir)
      // live at exit: the last hop (+ the pre-loop candidate/docset
      // truncations outside the loop) — a handful, NOT one per round
      assert(rddDirs > 0, "reliable path did not checkpoint at all")
      assert(rddDirs <= 6, s"checkpoint store leaked $rddDirs rdd-* dirs")
    } finally {
      spark.conf.unset(Checkpoints.DirKey)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("pagerank matches through the reliable path") {
    val q = queries.Catalog.queries("q_pagerank")
    val default = collectSorted(q(spark, sfDir))
    val reliable = withReliableDir(collectSorted(q(spark, sfDir)))
    assert(reliable === default)
  }

  test("converged-pagerank loop releases superseded rounds in reliable mode") {
    // 33 rounds on this corpus: the per-round release target must be the
    // CHECKPOINTED frame, not a projection of it (release() only reclaims
    // a bare LogicalRDD root) — a wrong handle leaks one O(V) frame per
    // round and this count explodes
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt_prc").toString
    spark.conf.set(Checkpoints.DirKey, dir)
    try {
      val rows = queries.Catalog.queries("q_pagerank_converged")(spark, sfDir)
        .collect()
      assert(rows.nonEmpty && rows.head.getLong(2) > 10,
        s"expected a multi-round convergence, got ${rows.headOption}")
      val rddDirs = this.rddDirs(dir)
      // live at exit: the final round frame + the prGraph layout frames —
      // a handful, NOT one per round
      assert(rddDirs > 0, "reliable path did not checkpoint at all")
      assert(rddDirs <= 6, s"converged loop leaked $rddDirs rdd-* dirs " +
        s"for ${rows.head.getLong(2)} rounds")
    } finally {
      spark.conf.unset(Checkpoints.DirKey)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("truncate saturates carried size estimates at Long.MaxValue") {
    import org.apache.spark.sql.functions._
    // build a frame whose ESTIMATED size compounds past Long.MaxValue:
    // repeated checkpoint→self-join rounds multiply the carried stat
    // exactly like a convergence loop does (the q_pagerank_converged
    // freeze: million-bit BigInt products at every plan)
    var df = Checkpoints.truncate(
      spark.range(100).select(col("id"), (col("id") * 2).as("v")))
    (1 to 6).foreach { _ =>
      val other = df.select(col("id"), col("v").as("v2"))
      df = Checkpoints.truncate(
        df.join(other, "id").join(other.select(col("id"),
          col("v2").as("v3")), "id").select(col("id"), col("v")))
    }
    val stats = df.queryExecution.optimizedPlan.stats
    assert(stats.sizeInBytes <= BigInt(Long.MaxValue),
      s"carried estimate not capped: bitLength=${stats.sizeInBytes.bitLength}")
    assert(stats.rowCount.forall(_ <= BigInt(Long.MaxValue)))
    // results are untouched by the cap
    assert(df.count() == 100)
    // sane (sub-cap) estimates pass through unchanged: the cap must not
    // inflate or deflate a small checkpointed frame's carried stats
    val small = spark.range(10).select(col("id"))
    val smallStats = small.queryExecution.optimizedPlan.stats
    val ck = Checkpoints.truncate(small)
    assert(ck.queryExecution.optimizedPlan.stats.sizeInBytes ==
      smallStats.sizeInBytes)
  }

  test("truncateObserved reads its metric off the checkpoint job in both modes") {
    import org.apache.spark.sql.functions._
    val df = spark.range(100).select((col("id") % 7).as("x"))
    def run(reliable: Boolean): Unit = {
      // a max flag is idempotent: exact whatever the checkpoint mode
      val (ck, flag) = Checkpoints.truncateObserved(df, max((col("x") === 6L).cast("long")))
      assert(flag == 1L, s"reliable=$reliable: max flag read $flag")
      assert(ck.count() == 100)
      val (_, none) = Checkpoints.truncateObserved(df, max((col("x") > 6L).cast("long")))
      assert(none == 0L, s"reliable=$reliable: absent-flag read $none")
      // a count is additive: exact when the plan runs once (local mode);
      // a reliable checkpoint may run it twice, so it reads at most 2×
      val (_, n) = Checkpoints.truncateObserved(df, count(lit(1)))
      if (reliable) assert(n == 100L || n == 200L, s"reliable count read $n")
      else assert(n == 100L, s"local count read $n")
      // an empty frame: max is null there, and must read 0
      val (empty, z) = Checkpoints.truncateObserved(df.filter(lit(false)), max(col("x")))
      assert(z == 0L, s"reliable=$reliable: empty frame read $z")
      assert(empty.count() == 0)
    }
    run(reliable = false)
    withReliableDir(run(reliable = true))
  }

  // ---- Checkpoints.fixpoint, on a toy counter loop: the state is x over
  // four rows, each round adds 1, and the flag stays up while x < need —
  // so the loop needs exactly `need` rounds. Map-only, so every Spark job
  // it runs is a checkpoint job.
  private def counterLoop(need: Long, cap: Long): (DataFrame, Long) = {
    val metric = max((col("x") < need).cast("long"))
    Checkpoints.fixpoint("toy counter", cap,
        (Checkpoints.truncate(spark.range(0, 4, 1, 2).select(lit(0L).as("x"))), 1L),
        metric) { cur => cur.select((col("x") + 1L).as("x")) }
  }

  test("fixpoint runs round cap and returns (root, cap)") {
    val (ck, rounds) = counterLoop(need = 7, cap = 7)
    assert(rounds == 7L)
    assert(ck.collect().map(_.getLong(0)).toSeq == Seq.fill(4)(7L))
  }

  test("fixpoint throws, naming the loop, when it needs round cap + 1") {
    val e = intercept[IllegalStateException](counterLoop(need = 8, cap = 7))
    assert(e.getMessage.contains("toy counter") && e.getMessage.contains("7 rounds"),
      e.getMessage)
  }

  test("fixpoint runs one Spark job per round in local mode") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val bridge = org.apache.spark.sql.graftbridge.GraftPlanBridge
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    bridge.flushListenerBus(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val (_, rounds) = counterLoop(need = 5, cap = 10)
      bridge.flushListenerBus(spark.sparkContext)
      // the seed's truncate, then one checkpoint job per round: the flag
      // rides the round's own job, never a second action
      assert(rounds == 5L && jobs.get == rounds + 1, s"$rounds rounds, ${jobs.get} jobs")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("fixpoint retains O(1) rdd-* dirs over 20 reliable rounds") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt_fix").toString
    spark.conf.set(Checkpoints.DirKey, dir)
    try {
      val (ck, rounds) = counterLoop(need = 20, cap = 20)
      assert(rounds == 20L)
      assert(ck.collect().map(_.getLong(0)).toSeq == Seq.fill(4)(20L))
      // live at exit: the returned root only; each superseded one is gone
      val n = rddDirs(dir)
      assert(n >= 1 && n <= 2, s"fixpoint left $n rdd-* dirs after 20 rounds")
    } finally {
      spark.conf.unset(Checkpoints.DirKey)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  // ---- every fixpoint query, and the state loops of the BFS IVM queries,
  // through the reliable path. The state artifact is dropped before the
  // reliable run so the state builder's loop runs there too.
  Seq(
    "q_label_prop_converged" -> None,
    "q_entity_resolution" -> None,
    "q_bfs_ivm" -> Some("bfsivm_state" -> Graph.bfsIvmRecipe),
    "q_bfs_ivm_del" -> Some("bfsivm_del_state" -> Graph.bfsIvmDelRecipe),
    "q_bfs_ivm_mixed" -> Some("bfsivm_mx_state" -> Graph.bfsIvmMixedRecipe),
    // the triangle windows' one-partition rule reads the delta
    // checkpoint's partition count, which each mode makes on its own
    "q_triangles_ivm" -> Some("triivm_state" -> Graph.triIvmRecipe),
    "q_triangles_ivm_del" -> Some("triivm_del_state" -> Graph.triIvmDelRecipe)
  ).foreach { case (name, state) =>
    test(s"$name returns the same rows through the reliable path") {
      val q = queries.Catalog.queries(name)
      val default = collectSorted(q(spark, sfDir))
      state.foreach { case (artifact, recipe) =>
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(
          ArtifactStore.root(sfDir, "lineitem", artifact, recipe)))
      }
      val reliable = withReliableDir(collectSorted(q(spark, sfDir)))
      assert(default.nonEmpty)
      assert(reliable === default)
    }
  }
}
