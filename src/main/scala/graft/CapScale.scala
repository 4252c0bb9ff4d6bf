package graft

import org.apache.spark.sql.functions._

/** Dev tool: what the banded-Hamming bucket cap (Dedup.SimPairCap)
  * COSTS when it binds (VERDICT r17 task 3 — the cap is oracle-mirrored
  * and spec-pinned inert at gated SFs, but its recall loss on a
  * degenerate corpus was never measured; the LSH path has had this
  * accounting since q_ann_bucket_stats).
  *
  * Corpus (deterministic, synthetic at the KERNEL's input altitude —
  * (doc_id, simhash); the tokenizer above the kernel is not under test):
  *   - NC=200 clusters × SZ=4 members: member 0 carries the cluster's
  *     base fingerprint (xxhash64-mixed into the 60-bit space), members
  *     1..3 each flip ONE distinct bit ⇒ every within-cluster pair is a
  *     TRUE near-dup at Hamming ≤ 2, spread across ~NC distinct buckets
  *     per band (the healthy population the cap must not harm);
  *   - a BOMB of `mult` docs sharing ONE fingerprint ⇒ every band has a
  *     single bucket of size `mult` (the q_blob_neardup aHash-collision
  *     shape §38 observed at 77× bytes pre-cap).
  *
  * For each cap in the sweep the kernel runs as shipped
  * (Dedup.simhashBandedPairs — the gate's code path, cap parameterized;
  * 0 = uncapped) and reports candidate pairs, true pairs found
  * (Hamming ≤ 3, ground truth by exact brute force over the small
  * corpus), recall split into cluster-recall vs bomb-recall, wall and
  * shuffle bytes. Expected shape: cluster recall 1.0 at EVERY cap (the
  * cap keeps whole small buckets), bomb recall ≈ C(cap,2)/C(mult,2),
  * bytes bounded ∝ cap² instead of mult².
  *
  *   sbt "runMain graft.CapScale [bombSize]"    (default 4096)
  */
object CapScale {

  def main(args: Array[String]): Unit = {
    val bomb = args.headOption.flatMap(_.toIntOption).getOrElse(4096)
    val spark = Measure.session("graft-cap-scale")

    val nc = 200L
    val sz = 4L
    val mask = (1L << 60) - 1
    // clusters: base(c) = xxhash64(c) & mask; member m>0 flips bit
    // pmod(xxhash64(c, m), 60) — members' flip bits are distinct with
    // overwhelming probability, giving within-cluster Hamming ≤ 2
    val clusterSim = spark.range(nc * sz)
      .select(col("id").as("doc_id"),
        expr(s"id div $sz").as("c"), pmod(col("id"), lit(sz)).as("m"))
      .select(col("doc_id"),
        when(col("m") === 0, expr(s"xxhash64(c) & ${mask}L"))
          .otherwise(expr(s"(xxhash64(c) & ${mask}L) ^ " +
            "shiftleft(1L, cast(pmod(xxhash64(c, m), 60) as int))"))
          .as("simhash"))
    val bombSim = spark.range(bomb.toLong)
      .select((col("id") + 10000000L).as("doc_id"),
        expr(s"xxhash64(999999L) & ${mask}L").as("simhash"))
    val sim = clusterSim.unionByName(bombSim).cache()
    val n = sim.count()

    // exact ground truth: brute-force Hamming over the small corpus
    // (dev-harness only — the kernel under test never does this)
    val a = sim.select(col("doc_id").as("ia"), col("simhash").as("sa"))
    val b = sim.select(col("doc_id").as("ib"), col("simhash").as("sb"))
    val truth = a.join(broadcast(b), col("ia") < col("ib"))
      .filter(bit_count(col("sa").bitwiseXOR(col("sb"))) <= 3)
      .select(col("ia"), col("ib")).cache()
    val trueTotal = truth.count()
    val trueBomb = truth.filter(col("ia") >= 10000000L).count()
    val trueCluster = trueTotal - trueBomb
    println(s"""{"harness":"cap_scale","bomb":$bomb,"docs":$n,"true_pairs":$trueTotal,"true_cluster":$trueCluster,"true_bomb":$trueBomb}""")

    val tally = new Measure.Tally(spark)

    def measured(cap: Int, tag: String): Unit = {
      val t0 = System.nanoTime()
      val b0 = tally.snap()
      val pairs = graft.queries.Dedup.simhashBandedPairs(sim, cap)
        .withColumn("isBomb", col("doc_a") >= 10000000L)
        .groupBy()
        .agg(count(lit(1)).as("cand"),
          sum(when(col("hamming") <= 3 && !col("isBomb"), 1L)
            .otherwise(0L)).as("found_cluster"),
          sum(when(col("hamming") <= 3 && col("isBomb"), 1L)
            .otherwise(0L)).as("found_bomb"))
        .head()
      val secs = (System.nanoTime() - t0) / 1e9
      val mb = (tally.snap() - b0).shuffleBytes / 1e6
      val (cand, fc, fb) =
        (pairs.getLong(0), pairs.getLong(1), pairs.getLong(2))
      val rc = if (trueCluster == 0) 1.0 else fc.toDouble / trueCluster
      val rb = if (trueBomb == 0) 1.0 else fb.toDouble / trueBomb
      println(f"""{"harness":"cap_scale","bomb":$bomb,"cap":$cap,"tag":"$tag","cand_pairs":$cand,"recall_cluster":$rc%.4f,"recall_bomb":$rb%.6f,"secs":$secs%.2f,"shuffle_mb":$mb%.1f}""")
    }
    for (cap <- Seq(16, 64, 256, 1024, 0)) measured(cap, "sweep")

    // AUTOTUNE row (VERDICT r17 task 7): the audit-derived cap —
    // clamp(p99 bucket size, 16, 256), the q_frame_neardup_tuned rule —
    // computed from THIS corpus's own band-bucket sizes, then applied.
    // On a bomb corpus the single giant bucket sits far beyond p99, so
    // the tuned cap lands at the healthy-cluster ceiling and the pair
    // expansion is bounded at O(p99²) with cluster recall intact.
    val bs = sim.select(explode(array((0 until 4).map { i =>
          struct(lit(i).as("band"),
            shiftright(col("simhash"), i * 15)
              .bitwiseAND(lit((1L << 15) - 1)).as("bits"))
        }: _*)).as("bb"))
      .select(col("bb.band").as("band"), col("bb.bits").as("bits"))
      .groupBy("band", "bits").agg(count(lit(1)).as("sz"))
    val nB = bs.agg(count(lit(1))).head().getLong(0)
    val p99 = bs.select(col("sz")).orderBy("sz")
      .limit(((99L * nB + 99L) / 100L).toInt)
      .agg(max(col("sz"))).head().getLong(0)
    val tuned = math.max(16L, math.min(256L, p99)).toInt
    println(s"""{"harness":"cap_scale","bomb":$bomb,"p99_bucket":$p99,"tuned_cap":$tuned}""")
    measured(tuned, "autotune")
    spark.stop()
  }
}
