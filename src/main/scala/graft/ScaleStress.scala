package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.{ArtifactStore, Catalog, Graph, Similarity, TextAnalysis}

/** Dev tool: measured scale behavior ABOVE the bench SF (SCALE.md §11).
  *
  * Every 100 TB claim in SCALE.md argues from plan shape; this harness
  * measures the claim at a corpus `mult`× the bench SF. It synthesizes
  * the scaled corpus by unioning `mult` key-disjoint copies of sf0.1 —
  * salted so no pairing stage can match ACROSS copies, because a scaled
  * corpus that introduces cross-copy near-duplicates would measure the
  * (quadratic) answer getting bigger, not the algorithm scaling:
  *  - documents: doc_id offset per copy AND the copy digit spliced into
  *    the text every 5 characters, so EVERY char-8 shingle window
  *    contains a copy-distinct character — shingle sets are fully
  *    copy-disjoint and LSH/Jaccard/SimHash pair counts scale linearly
  *    by construction. (A first attempt suffixed each word instead;
  *    windows INSIDE words ≥8 chars stayed identical across copies,
  *    minhash minima collided, copies of each doc shared LSH buckets and
  *    the pair count grew ~quadratically — 98× at mult=10 — which
  *    measured the synthetic corpus, not the engine.);
  *  - events: event_id/user_id offset per copy — sessions and interval
  *    joins stay user-local, hence copy-local;
  *  - embeddings: vec_id offset and a small per-copy vector perturbation
  *    (keeps LSH/IVF buckets from collapsing `mult` identical corpora
  *    into the same cells);
  *  - lineitem: partkey/suppkey offset per copy — `mult` disjoint
  *    pagerank graphs.
  * Everything else symlinks to the base SF (dims; not read by the hot
  * set). The scaled tables are parquet DIRECTORIES — which also makes
  * this the one place the engine is exercised on multi-file tables
  * (the driver's testdata is single-file).
  *
  *   sbt "runMain graft.ScaleStress [mult] [queries...]"
  *
  * Output: one JSON line per query with base/scaled seconds (min of 2
  * after a warmup pass each) and the time ratio; a ratio near `mult` is
  * linear scaling, below it is amortized fixed cost, above ~1.5× `mult`
  * is flagged super-linear. Results are summarized in SCALE.md §11.
  *
  *   sbt "runMain graft.ScaleStress phases [mult] [localFrac] [names...]"
  *
  * PHASE mode prices the incremental kernels phase by phase instead
  * (see [[phaseEntries]]); mult=1 (the default) runs on sf0.1 in place.
  */
object ScaleStress {

  /** The measured hot set: the most expensive catalog queries over the
    * scalable tables (documents/events/embeddings/lineitem). */
  val DefaultQueries: Seq[String] = Seq(
    "q_jaccard_pairs", "q_dedup_components", "q_minhash_signatures",
    "q_lsh_candidates", "q_simhash_pairs", "q_dedup_exact",
    "q_cosine_topk", "q_ann_recall", "q_pagerank",
    "q_stream_join", "q_stream_join_outer", "q_sessionize_native",
    "q_kmeans_assign", "q_semdedup", "q_triangles", "q_crossdoc_ngrams",
    "q_stream_lsh_ivm", "q_blob_neardup", "q_ann_recall_clustered",
    "q_prefix_join")

  private def consume(spark: SparkSession, name: String, dir: String): Unit =
    Measure.consume(SparkEntry.queries(name)(spark, dir))

  /** A catalog builder that calls `mark(phase)` as each eager phase
    * completes. */
  private type PhaseBuilder = (SparkSession, String, String => Unit) => DataFrame

  /** The phase-windowed entries, in default run order. `mark` separates
    * what an IVM deployment pays PER CHANGE BATCH (delta + resume /
    * recompute) from the exhibit's bookkeeping: "p1" covers artifact
    * ensure + the exhibit's table commits (paid once per base snapshot /
    * inherent to the oracle gate); the phases after it are the recurring
    * maintenance cost per-query totals cannot isolate. "result" is the
    * count of the returned frame. */
  private def phaseEntries(localFrac: Int): Seq[(String, PhaseBuilder)] = Seq(
    "q_components_ivm" -> Graph.componentsIvmBuild _,
    "q_components_ivm_del" -> Graph.componentsIvmDelBuild _,
    "q_bfs_ivm" -> Graph.bfsIvmBuild _,
    "q_bfs_ivm_del" -> Graph.bfsIvmDelBuild _,
    "q_pipeline_multimodal_ivm" -> Catalog.pipelineMultimodalIvmBuild _,
    "q_triangles_ivm" -> Graph.trianglesIvmBuild _,
    "q_triangles_ivm_del" -> Graph.trianglesIvmDelBuild _,
    "q_label_prop_ivm" -> Graph.labelPropIvmBuild _,
    "q_ivf_ivm" -> Similarity.ivfIvmBuild _,
    "q_bfs_ivm_mixed" -> Graph.bfsIvmMixedBuild _,
    "q_bm25_ivm" -> TextAnalysis.bm25IvmBuild _,
    // PageRank IVM, the gate: p1 is the cold push-loop convergence on the
    // base graph (the cost a non-incremental deployment pays on EVERY
    // graph change), delta the table mutation + changes-feed read + state
    // patch + final-graph rebuild, p2 the resumed loop. Dropping the
    // persisted state artifact first makes ArtifactStore.ensure rebuild
    // it, so p1 is the COLD converge.
    "q_pagerank_ivm" -> { (spark, dir, mark) =>
      val root = new org.apache.hadoop.fs.Path(ArtifactStore.root(
        dir, "lineitem", "privm_state", Graph.privmRecipe))
      root.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(root, true)
      Graph.pagerankIvmBuild(spark, dir, mark)
    },
    // the SERVED maintenance path: state + base edge set come from the
    // artifact (persisted by the gate, or by an earlier run), the delta
    // is committed in "setup", and the measured step is feed → patch →
    // resume with NO base-table scan — what a deployment pays per change
    // batch
    "q_pagerank_ivm_serve" -> ((spark, dir, mark) =>
      Graph.pagerankIvmServe(spark, dir, mark)),
    // LOCALIZED-delta serve: sorted base layout + deletes restricted to
    // the lowest 1/localFrac of the p range, so the copy-on-write MERGE
    // rewrites only the covering files and the feed read is O(changed
    // files) (the uniform exhibit delta rewrites every file by
    // construction)
    "q_pagerank_ivm_local" -> ((spark, dir, mark) =>
      Graph.pagerankIvmServe(spark, dir, mark, localFrac = Some(localFrac))))

  /** Run `entries` in order, one JSON line per phase with the wall seconds
    * and shuffle-write bytes of its window; returns each entry's frame. */
  private def runPhases(spark: SparkSession, dir: String, mult: Int,
      entries: Seq[(String, PhaseBuilder)]): Seq[(String, DataFrame)] = {
    val tally = new Measure.Tally(spark)
    entries.map { case (name, builder) =>
      var t0 = System.nanoTime()
      var b0 = tally.snap()
      def mark(phase: String): Unit = {
        val secs = (System.nanoTime() - t0) / 1e9
        val b1 = tally.snap()
        println(f"""{"harness":"ivm_scale","mult":$mult,"q":"$name","phase":"$phase","secs":$secs%.2f,"shuffle_mb":${(b1 - b0).shuffleBytes / 1e6}%.1f}""")
        t0 = System.nanoTime(); b0 = b1
      }
      val df = builder(spark, dir, mark)
      val n = df.count()
      mark("result")
      println(s"""{"harness":"ivm_scale","mult":$mult,"q":"$name","rows":$n}""")
      name -> df
    }
  }

  private def phasesMain(args: Seq[String]): Unit = {
    val (nums, names) = args.span(_.toIntOption.isDefined)
    val mult = nums.headOption.fold(1)(_.toInt)
    val all = phaseEntries(localFrac = nums.lift(1).fold(8)(_.toInt))
    val byName = all.toMap
    val unknown = names.filterNot(byName.contains)
    require(unknown.isEmpty, s"unknown phase entries ${unknown.mkString(", ")}; " +
      s"known: ${all.map(_._1).mkString(", ")}")
    val entries = if (names.isEmpty) all else names.map(n => n -> byName(n))
    val spark = Measure.session("graft-scale-phases")
    val base = "/root/testdata/sf0.1"
    val dir =
      if (mult <= 1) base
      else {
        val out = corpusDir(mult)
        build(spark, base, out, mult)
        out
      }
    // PageRank round counts (result columns r1 = cold converge, r2 =
    // resumed loop), and the correctness check that the served path
    // reproduces the gate's ranking whenever both ran here. The PageRank
    // builders return their top-50 as local rows, so collecting them
    // after later entries ran reads the rows each entry produced.
    val rows = runPhases(spark, dir, mult, entries).collect {
      case (q, df) if q.startsWith("q_pagerank_ivm") => q -> df.collect()
    }
    rows.foreach { case (q, rs) =>
      if (rs.nonEmpty)
        println(s"""{"harness":"pr_ivm","mult":$mult,"q":"$q","r1":${rs.head.getLong(2)},"r2":${rs.head.getLong(3)}}""")
    }
    val byEntry = rows.toMap
    for (g <- byEntry.get("q_pagerank_ivm"); s <- byEntry.get("q_pagerank_ivm_serve")) {
      def ranks(rs: Array[Row]) = rs.map(r => (r.getLong(0), r.getLong(1))).toSeq
      println(s"""{"harness":"pr_ivm","mult":$mult,"matches_gate":${ranks(s) == ranks(g)}}""")
    }
    spark.stop()
  }

  /** Where the `mult`× corpus is built and cached: under java.io.tmpdir. */
  private def corpusDir(mult: Int): String =
    java.nio.file.Paths.get(sys.props("java.io.tmpdir"), s"graft_scale_x$mult").toString

  private def build(spark: SparkSession, base: String, out: String, mult: Int): Unit = {
    val done = new java.io.File(s"$out/_SUCCESS")
    // corpus-format version marker: a cached corpus built by the pre-r17
    // INSERT tag (volume-inflating) must not be served to a harness
    // expecting the volume-neutral substitution tag — rebuild it
    val ver = new java.io.File(s"$out/_TAG_SUBST_V2")
    if (done.exists && ver.exists) return
    if (done.exists) {
      val p = new org.apache.hadoop.fs.Path(out)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      ()
    }
    new java.io.File(out).mkdirs()
    val copies = 0 until mult

    def scaled(name: String)(one: (DataFrame, Int) => DataFrame): Unit = {
      val src = spark.read.parquet(s"$base/$name.parquet")
      copies.map(i => one(src, i)).reduce(_.unionByName(_))
        .write.mode("overwrite").parquet(s"$out/$name.parquet")
    }

    require(mult <= 1296, "copy tag is at most two base-36 chars")
    scaled("documents") { (d, i) =>
      // VOLUME-NEUTRAL tag (VERDICT r17 task 7): the tag SUBSTITUTES the
      // last 1-2 chars of every 5-char block instead of splicing between
      // blocks, so length(text) — and with it shingle/token volume — is
      // EXACTLY the base doc's and corpus ratios read directly as the
      // multiplier (the insert form inflated text ×1.2/×1.4 and every
      // >1× byte ratio needed a splice adjustment, SCALE.md §32).
      // Disjointness is unchanged: tag positions recur every 5 chars, so
      // every char-8 window contains a complete copy-distinct tag (incl.
      // the final window — the ≤4-char unsubstituted tail still leaves
      // the window covering the previous block's tag; checked per
      // length residue). One base-36 char through 36×, two past it.
      val tag =
        if (mult <= 36) Integer.toString(i, 36)
        else Integer.toString(i / 36, 36) + Integer.toString(i % 36, 36)
      val pat = if (mult <= 36) "(.{4})." else "(.{3}).."
      d.select(
        (col("doc_id") + i * 100000000L).as("doc_id"),
        regexp_replace(col("text"), pat, s"$$1$tag").as("text"),
        col("lang"), col("source"), col("n_chars"))
    }
    scaled("events") { (e, i) =>
      e.select(
        (col("event_id") + i * 1000000000L).as("event_id"), col("ts"),
        (col("user_id") + i * 1000000000L).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }
    scaled("embeddings") { (e, i) =>
      e.select(
        (col("vec_id") + i * 100000000L).as("vec_id"),
        transform(col("embedding"),
          x => (x + lit(i * 0.0137f)).cast("float")).as("embedding"),
        col("label"))
    }
    scaled("lineitem") { (l, i) =>
      l.withColumn("l_partkey", col("l_partkey") + i * 100000000L)
        .withColumn("l_suppkey", col("l_suppkey") + i * 100000000L)
        // orderkey offset keeps ORDERS copy-local too: without it, ten
        // copies of an order share its key, co-purchase pair generation
        // (q_triangles) would build pairs across copies and the pair
        // count would grow ~mult² — the same methodology trap the
        // documents splice fixes (see class doc)
        .withColumn("l_orderkey", col("l_orderkey") + i * 1000000000L)
    }

    Seq("region", "nation", "customer", "supplier", "part", "orders")
      .foreach { t =>
        val link = java.nio.file.Paths.get(out, s"$t.parquet")
        if (!java.nio.file.Files.exists(link))
          java.nio.file.Files.createSymbolicLink(link,
            java.nio.file.Paths.get(base, s"$t.parquet"))
      }
    ver.createNewFile()
    done.createNewFile()
    ()
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("phases")) { phasesMain(args.toSeq.tail); return }
    val mult = args.headOption.flatMap(_.toIntOption).getOrElse(10)
    val queries =
      if (args.length > 1) args.drop(1).toSeq else DefaultQueries
    val base = "/root/testdata/sf0.1"
    val out = corpusDir(mult)

    // SPARK_GRAFT_SCALE_FORK=1: run EVERY query in its own fresh JVM
    // (parent builds the corpus once, then forks `ScaleStress <mult> <q>`
    // per query with the flag cleared, inheriting stdout). This retires
    // the 72×-era workaround of hand-batching heavy kernels ≤4 per
    // invocation: back-to-back convergence kernels in one JVM aborted the
    // runner on cumulative block-manager/AQE pressure (SCALE.md §23)
    // while every query passed isolated — per-query JVMs make isolation
    // structural instead of procedural.
    if (sys.env.get("SPARK_GRAFT_SCALE_FORK").exists(_ != "0")
        && queries.size > 1) {
      val spark0 = Measure.session("graft-scale-stress")
      build(spark0, base, out, mult)
      spark0.stop()
      queries.foreach { q =>
        val pb = Measure.forkMain("graft.ScaleStress", Seq(mult.toString, q))
          .inheritIO()
        pb.environment().put("SPARK_GRAFT_SCALE_FORK", "0")
        if (pb.start().waitFor() != 0)
          println(s"""{"query":"$q","flag":"CHILD-FAILED"}""")
      }
      return
    }
    val spark = Measure.session("graft-scale-stress")

    build(spark, base, out, mult)

    // measured shuffle volume per run: the time ratio says WHETHER a
    // query scales, the shuffle-bytes ratio says WHY — a stage whose
    // exchanged bytes grow faster than the corpus is the smoking gun
    // even when wall-clock hides it behind parallelism (this is what
    // would have convicted the 411M-row wedge exchange directly)
    // spill (memory-pressure runs, VERDICT r15 item 5): nonzero spill
    // with completion is the HEALTHY outcome of an undersized heap; the
    // JSON rows carry it so a -Xmx-constrained fork documents it
    val tally = new Measure.Tally(spark)

    /** (seconds, shuffle bytes written, mem spill, disk spill) per run. */
    def time(name: String, dir: String): (Double, Long, Long, Long) = {
      Measure.isolate(spark)
      val b0 = tally.snap()
      val t0 = System.nanoTime()
      consume(spark, name, dir)
      val secs = (System.nanoTime() - t0) / 1e9
      val d = tally.snap() - b0
      (secs, d.shuffleBytes, d.spillMem, d.spillDisk)
    }
    def minOf2(name: String, dir: String): (Double, Long, Long, Long) = {
      // report the BYTES of whichever rep produced the min TIME: AQE
      // broadcast-vs-shuffle plan transitions (documented in SCALE.md)
      // mean the two reps can plan — and therefore shuffle — differently,
      // so pairing rep-1's time with rep-2's bytes could mismatch
      val a = time(name, dir); val b = time(name, dir)
      if (a._1 <= b._1) a else b
    }

    val results = queries.map { q =>
      consume(spark, q, "/root/testdata/sf0.001") // codegen warmup
      val (b, bBytes, _, _) = minOf2(q, base)
      val (s, sBytes, sSpillM, sSpillD) = minOf2(q, out)
      val ratio = s / b
      val shufRatio =
        if (bBytes > 0) sBytes.toDouble / bBytes else Double.NaN
      val flag = if (ratio > mult * 1.5) "SUPER-LINEAR" else "ok"
      println(f"""{"query":"$q","base_s":$b%.3f,"x${mult}_s":$s%.3f,"ratio":$ratio%.2f,"base_shuffle_mb":${bBytes / 1e6}%.1f,"x${mult}_shuffle_mb":${sBytes / 1e6}%.1f,"shuffle_ratio":$shufRatio%.2f,"x${mult}_spill_mem_mb":${sSpillM / 1e6}%.1f,"x${mult}_spill_disk_mb":${sSpillD / 1e6}%.1f,"flag":"$flag"}""")
      (q, b, s, ratio)
    }
    val worst = results.maxBy(_._4)
    println(f"""{"summary":"scale x$mult","queries":${results.size},"worst":"${worst._1}","worst_ratio":${worst._4}%.2f}""")
    spark.stop()
  }
}
