package graft

import org.apache.spark.sql.functions._

/** Dev tool: the graft-tsv connector's metadata paths measured AGAINST
  * GENERATION COUNT (SCALE.md §25) — the axis the corpus-multiplying
  * ScaleStress harness cannot exercise, because connector cost at scale
  * is driven by COMMIT HISTORY (manifest count, keep-set unions, changes
  * planning), not by the row volume a single commit carries.
  *
  *   sbt "runMain graft.Dsv2Scale [maxGens] [rowsPerGen]"
  *
  * One streaming-ingest-shaped table: `maxGens` small appends (the
  * worst-case manifest regime — every commit republishes the FULL live
  * file list, so manifest bytes grow quadratically in generation count
  * until retention bites). At log-spaced checkpoints it measures, each
  * against the CURRENT generation count:
  *   - append_s      one more commit's latency (allFiles listing +
  *                    keep-set union + manifest write);
  *   - scan_s        full-scan wall (read path resolves ONE latest
  *                    manifest — expected flat);
  *   - changes10_s   changes-feed over the last 10 generations;
  *   - changesAll_s  changes-feed over the whole retained history;
  *   - merge_s       a MERGE touching one key (row-level path: scan +
  *                    rewrite + commit);
  *   - n_manifests / manifest_mb / n_parts   directory shape.
  * Retention is set high so history actually accumulates (the default
  * would cap the regime being measured). Output: one JSON line per
  * checkpoint.
  */
object Dsv2Scale {

  /** STATS-UNDER-CHURN mode (VERDICT r17 task 8): an auto-compacting
    * ingest table rewrites its layout continuously — this loop verifies
    * the manifest min/max stats, and with them file-skipping
    * selectivity, survive ≥20 compact cycles (+ periodic zorder). Each
    * cycle appends a time-ordered small-file batch (the streaming-ingest
    * shape), compacts, then probes TWO fixed key ranges — one in the
    * original seed span (files compact never touches again once
    * target-sized), one sliding over the most recent batch (files that
    * just went through the rewrite) — reading the scan's `linesRead`
    * metric: selectivity = linesRead / total rows. Every 6th cycle runs
    * the zorder rewrite instead, the recovery verb for any stat
    * widening. Probe results are also count-checked so a stats bug that
    * OVER-prunes fails loudly rather than reading as better selectivity.
    *
    *   sbt "runMain graft.Dsv2Scale churn [cycles]"
    */
  private def churnMain(args: Array[String]): Unit = {
    val cycles = args.headOption.flatMap(_.toIntOption).getOrElse(24)
    val rowsPerBatch = 4000L
    val seedRows = 40000L
    val spark = Measure.session("graft-dsv2-churn")

    val root = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      "graft_dsv2_churn").toString
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(rootPath, true)
    spark.conf.set("spark.sql.catalog.gchurn",
      classOf[graft.sources.GraftTsvCatalog].getName)
    spark.conf.set("spark.sql.catalog.gchurn.root", root)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gchurn.db")
    val t = "gchurn.db.churn"
    spark.sql(s"""CREATE TABLE $t (k BIGINT, v BIGINT) USING `graft-tsv`
      TBLPROPERTIES ('retain.generations' = '8')""")
    val tableDir = s"$root/db/churn"

    def rows(lo: Long, n: Long) =
      spark.range(lo, lo + n).select(col("id").as("k"),
        (col("id") * 3).as("v"))
    // seed: range-partitioned → tight per-file stats
    rows(0, seedRows).repartitionByRange(8, col("k")).writeTo(t).append()

    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    def scanOf(df: org.apache.spark.sql.DataFrame): BatchScanExec = {
      def find(p: SparkPlan): Option[BatchScanExec] = p match {
        case b: BatchScanExec => Some(b)
        case a: AdaptiveSparkPlanExec => find(a.executedPlan)
        case q: QueryStageExec => find(q.plan)
        case other => other.children.iterator.flatMap(find(_).iterator).nextOption()
      }
      find(df.queryExecution.executedPlan)
        .getOrElse(throw new IllegalStateException("no BatchScanExec"))
    }
    def probe(lo: Long, hi: Long): (Long, Long) = {
      val q = spark.table(t).filter(col("k") >= lo && col("k") < hi)
      val n = q.collect().length.toLong
      require(n == hi - lo,
        s"churn probe [$lo, $hi) returned $n rows, expected ${hi - lo} — " +
          "stats OVER-pruned (a skipped file held matching rows)")
      (scanOf(q).metrics("linesRead").value, n)
    }

    for (c <- 1 to cycles) {
      // time-ordered ingest batch in 4 small files
      rows(seedRows + (c - 1) * rowsPerBatch, rowsPerBatch)
        .coalesce(4).writeTo(t).append()
      val verb = if (c % 6 == 0) "zorder" else "compact"
      val verbS = {
        val t0 = System.nanoTime()
        if (verb == "zorder")
          // same small target as compact: the default 64 MB would pack
          // this test-sized table into ONE file and read as "zorder
          // destroys skipping" when nothing is skippable in 1 file
          spark.sql(s"CALL gchurn.system.zorder(`table` => 'db.churn', " +
            "columns => 'k,v', target_bytes => 131072)").collect()
        else
          spark.sql(s"CALL gchurn.system.compact(`table` => 'db.churn', " +
            "target_bytes => 262144)").collect()
        (System.nanoTime() - t0) / 1e9
      }
      val total = seedRows + c * rowsPerBatch
      val (oldLines, _) = probe(1000, 3000)
      val recentLo = seedRows + (c - 1) * rowsPerBatch + 500
      val (newLines, _) = probe(recentLo, recentLo + 1000)
      val parts = fs.listStatus(new org.apache.hadoop.fs.Path(tableDir))
        .count(s => !s.getPath.getName.startsWith("_"))
      println(f"""{"harness":"dsv2_churn","cycle":$c,"verb":"$verb","verb_s":$verbS%.2f,"rows":$total,"n_parts":$parts,"old_probe_lines":$oldLines,"old_sel":${oldLines.toDouble / total}%.4f,"new_probe_lines":$newLines,"new_sel":${newLines.toDouble / total}%.4f}""")
    }
    spark.stop()
  }

  def main(args: Array[String]): Unit = {
    if (args.contains("churn")) {
      churnMain(args.filterNot(_ == "churn")); return
    }
    val maxGens = args.headOption.flatMap(_.toIntOption).getOrElse(300)
    val rowsPerGen = args.drop(1).headOption.flatMap(_.toIntOption).getOrElse(500)
    val spark = Measure.session("graft-dsv2-scale")

    val root = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft_dsv2_scale_$maxGens").toString
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(rootPath, true)
    spark.conf.set("spark.sql.catalog.gscale",
      classOf[graft.sources.GraftTsvCatalog].getName)
    spark.conf.set("spark.sql.catalog.gscale.root", root)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gscale.db")
    val t = "gscale.db.events_ingest"
    spark.sql(s"""CREATE TABLE $t (k BIGINT, seg STRING, v BIGINT)
      USING `graft-tsv`
      TBLPROPERTIES ('retain.generations' = '100000')""")
    val tableDir = s"$root/db/events_ingest"

    def genFrame(g: Int) = {
      import spark.implicits._
      (0 until rowsPerGen).map { i =>
        (g.toLong * 1000000 + i, s"seg${i % 8}", (g * 31 + i).toLong)
      }.toDF("k", "seg", "v").coalesce(1)
    }

    def timed[A](f: => A): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    val cat = spark.sessionState.catalogManager.catalog("gscale")
      .asInstanceOf[graft.sources.GraftTsvCatalog]
    val ident = org.apache.spark.sql.connector.catalog.Identifier.of(
      Array("db"), "events_ingest")

    val checkpoints =
      Seq(10, 30, 100, 300, 1000).filter(_ <= maxGens) :+ maxGens
    var gen = 0
    checkpoints.distinct.sorted.foreach { cp =>
      while (gen < cp) { gen += 1; genFrame(gen).writeTo(t).append() }
      val appendS = timed { gen += 1; genFrame(gen).writeTo(t).append() }
      val scanS = timed {
        spark.table(t).agg(count(lit(1)), sum("v")).collect()
      }
      val changes10S = timed {
        cat.changes(spark, ident, (gen - 10).max(1).toString, gen.toString)
          .agg(count(lit(1))).collect()
      }
      val changesAllS = timed {
        cat.changes(spark, ident, "1", gen.toString)
          .agg(count(lit(1))).collect()
      }
      val mergeS = timed {
        spark.sql(s"""MERGE INTO $t dst USING (
            SELECT CAST(${gen}000001 AS BIGINT) AS k, 'segX' AS seg,
              CAST(1 AS BIGINT) AS v) src
          ON dst.k = src.k
          WHEN MATCHED THEN UPDATE SET v = src.v + 1
          WHEN NOT MATCHED THEN INSERT *""")
      }
      gen += 1 // the merge committed a generation too
      // maintenance verbs vs history depth (VERDICT r15 item 6): vacuum's
      // reachability sweep walks retained manifests + checkpoint segment
      // refs; branch seeding copies the head manifest (and every LATER
      // main publish pays the branch keep-set read — so the branch is
      // dropped right after timing to keep the measured regime pure).
      // compact is measured ONCE at the END (it rewrites the small-file
      // shape every earlier checkpoint is measuring).
      val vacuumS = timed {
        spark.sql(s"CALL gscale.system.vacuum(`table` => 'db.events_ingest', " +
          "older_than_ms => 0)").collect()
      }
      val branchS = timed {
        spark.sql(s"CALL gscale.system.branch(`table` => 'db.events_ingest', " +
          s"name => 'probe$gen')").collect()
      }
      spark.sql(s"CALL gscale.system.drop_branch(`table` => 'db.events_ingest', " +
        s"name => 'probe$gen')").collect()
      val names = fs.listStatus(new org.apache.hadoop.fs.Path(tableDir))
        .toSeq.map(s => (s.getPath.getName, s.getLen))
      val manifests = names.filter(_._1.startsWith("_gen-"))
      val parts = names.count(n => !n._1.startsWith("_"))
      println(f"""{"gens":$gen,"append_s":$appendS%.3f,"scan_s":$scanS%.3f,"changes10_s":$changes10S%.3f,"changesAll_s":$changesAllS%.3f,"merge_s":$mergeS%.3f,"vacuum_s":$vacuumS%.3f,"branch_s":$branchS%.3f,"n_manifests":${manifests.size},"manifest_mb":${manifests.map(_._2).sum / 1e6}%.2f,"n_parts":$parts}""")
    }
    val compactS = timed {
      spark.sql("CALL gscale.system.compact(`table` => 'db.events_ingest')")
        .collect()
    }
    val postNames = fs.listStatus(new org.apache.hadoop.fs.Path(tableDir))
      .toSeq.map(_.getPath.getName)
    println(f"""{"gens":$gen,"compact_s":$compactS%.3f,"post_parts":${postNames.count(n => !n.startsWith("_"))}}""")
    spark.stop()
  }
}
