package graft

import org.apache.spark.sql.SparkSession

/** Dev tool: PER-PHASE cost of q_pagerank_ivm at scale (VERDICT r16 —
  * the sparse-update claim "resume bytes ∝ affected subgraph, not V"
  * needs phase-windowed numbers; ScaleStress's per-query total is
  * dominated by the cold phase-1 converge that the IVM query exists to
  * avoid re-paying).
  *
  * Phases (marked by [[graft.queries.Graph.pagerankIvmBuild]]):
  *   p1    — cold push-loop convergence on the base graph (the cost a
  *           non-incremental deployment pays on EVERY graph change);
  *   delta — table mutation, changes-feed read, state patch, final-graph
  *           rebuild (the fixed IVM bookkeeping);
  *   p2    — the resumed loop (the recurring cost an IVM deployment
  *           actually pays per change);
  *   final — the top-50 fold of the returned frame.
  *
  *   sbt "runMain graft.PrIvmScale [mult]"   (mult=1 → sf0.1 in place)
  *
  * One JSON line per phase with wall seconds + shuffle-write bytes.
  */
object PrIvmScale {

  def main(args: Array[String]): Unit = {
    val mult = args.headOption.flatMap(_.toIntOption).getOrElse(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        (cpus.toInt * 16).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config(graft.sources.Tables.NanosAsLongKey, "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    DevSessionConf(spark)

    val base = "/root/testdata/sf0.1"
    val dir =
      if (mult <= 1) base
      else {
        val out = s"/tmp/graft_scale_x$mult"
        ScaleStress.build(spark, base, out, mult)
        out
      }

    val tally = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val m = sc.stageInfo.taskMetrics
          if (m != null) tally.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          ()
        }
      })
    def snap(): Long = {
      org.apache.spark.sql.graftbridge.GraftPlanBridge
        .flushListenerBus(spark.sparkContext)
      tally.get
    }

    var t0 = System.nanoTime()
    var b0 = snap()
    def emit(phase: String): Unit = {
      val secs = (System.nanoTime() - t0) / 1e9
      val b1 = snap()
      println(f"""{"harness":"pr_ivm","mult":$mult,"phase":"$phase","secs":$secs%.2f,"shuffle_mb":${(b1 - b0) / 1e6}%.1f}""")
      t0 = System.nanoTime(); b0 = b1
    }

    // SPARK_GRAFT_PRIVM_SERVE_ONLY=1 skips the cold gate run (the state
    // artifact persists across harness runs, so serve-phase re-measures
    // need not re-pay the converge)
    val serveOnly = sys.env.get("SPARK_GRAFT_PRIVM_SERVE_ONLY").contains("1")
    val rows =
      if (serveOnly) Array.empty[org.apache.spark.sql.Row]
      else {
        // measure the COLD converge: drop the persisted state artifact so
        // the builder's ArtifactStore.ensure rebuilds it
        val stateRoot = new org.apache.hadoop.fs.Path(
          graft.queries.ArtifactStore.root(dir, "lineitem", "privm_state",
            graft.queries.Graph.privmRecipe))
        stateRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .delete(stateRoot, true)
        t0 = System.nanoTime(); b0 = snap()
        val df = graft.queries.Graph.pagerankIvmBuild(spark, dir, emit)
        val r = df.collect()
        emit("final")
        val (r1, r2) =
          if (r.isEmpty) (0L, 0L) else (r.head.getLong(2), r.head.getLong(3))
        println(s"""{"harness":"pr_ivm","mult":$mult,"rows":${r.length},"r1":$r1,"r2":$r2}""")
        r
      }

    // the SERVED maintenance path (VERDICT r17 task 1): state + base
    // edge set come from the artifact the run above just persisted
    // (ensure reuses it), the delta is committed in "setup", and the
    // measured maintenance step is feed → patch → resume with NO
    // base-table scan. These phases are what a deployment pays per
    // change batch.
    t0 = System.nanoTime(); b0 = snap()
    val sdf = graft.queries.Graph.pagerankIvmServe(spark, dir,
      ph => emit(s"serve_$ph"))
    val srows = sdf.collect()
    emit("serve_final")
    val sr2 = if (srows.isEmpty) 0L else srows.head.getLong(3)
    val agree = serveOnly || (srows.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      rows.map(r => (r.getLong(0), r.getLong(1))).toSeq)
    println(s"""{"harness":"pr_ivm","mult":$mult,"serve_rows":${srows.length},"serve_r2":$sr2,"matches_gate":$agree}""")

    // LOCALIZED-delta serve: sorted base layout + p-range-restricted
    // deletes, so the copy-on-write MERGE rewrites only the covering
    // files and the feed read is O(changed files) — the deployment
    // number VERDICT r17 task 1 asks for (the uniform exhibit delta
    // rewrites every file by construction).
    val frac = sys.env.get("SPARK_GRAFT_PRIVM_FRAC")
      .flatMap(_.toIntOption).getOrElse(8)
    t0 = System.nanoTime(); b0 = snap()
    val ldf = graft.queries.Graph.pagerankIvmServe(spark, dir,
      ph => emit(s"local_$ph"), localFrac = Some(frac))
    val lrows = ldf.collect()
    emit("local_final")
    val lr2 = if (lrows.isEmpty) 0L else lrows.head.getLong(3)
    println(s"""{"harness":"pr_ivm","mult":$mult,"frac":$frac,"local_rows":${lrows.length},"local_r2":$lr2}""")

    spark.stop()
  }
}
