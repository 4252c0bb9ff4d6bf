package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, Partitioning}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, BinaryType}

/** q_prefix_join (PPJoin-style exact set-similarity join) — the value the
  * oracle gate can't test alone: COMPLETENESS of the prefix + length +
  * position filters against an in-test brute-force ground truth, plus
  * constructed corpora where the qualifying pair set and the rank
  * accounting of the shared-only prefix are known by hand. */
class PrefixJoinSpec extends SparkSuite with AdaptiveSparkPlanHelper {

  private def writeDocs(docs: Seq[(Long, String)]): String = {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_pj").toString
    docs.map { case (id, text) => (id, text, "en", "web", text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  /** (doc_id, hp): every doc's distinct 16-char shingle hashes — the same
    * element space the operator defines. */
  private def shingleSets(dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(1),
          greatest(length(col("text")) - 14, lit(2)) - 1)).as("i"))
      .selectExpr("doc_id", "graft_hash60(substring(text, i, 16)) as hp")
      .distinct()

  /** Ground truth: all-pairs exact Jaccard ≥ 0.8, no filter at all —
    * (doc_a, doc_b) → (n_inter, n_union). */
  private def bruteForce(dir: String): Map[(Long, Long), (Long, Long)] = {
    val sets = shingleSets(dir)
    sets.as("a")
      .join(sets.as("b"),
        col("a.hp") === col("b.hp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(countDistinct(col("a.hp")).as("n_inter"))
      .join(sets.groupBy(col("doc_id").as("doc_a"))
        .agg(countDistinct("hp").as("na")), "doc_a")
      .join(sets.groupBy(col("doc_id").as("doc_b"))
        .agg(countDistinct("hp").as("nb")), "doc_b")
      .filter(expr("10 * n_inter >= 8 * (na + nb - n_inter)"))
      .collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        (r.getAs[Long]("n_inter"),
          r.getAs[Long]("na") + r.getAs[Long]("nb") - r.getAs[Long]("n_inter")))
      .toMap
  }

  private def prefixJoin(dir: String): Map[(Long, Long), (Long, Long)] =
    queries.Catalog.queries("q_prefix_join")(spark, dir)
      .collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        (r.getAs[Long]("n_inter"), r.getAs[Long]("n_union")))
      .toMap

  private def assertComplete(dir: String): Map[(Long, Long), (Long, Long)] = {
    val (result, truth) = (prefixJoin(dir), bruteForce(dir))
    assert(result == truth,
      s"missed: ${truth.keySet -- result.keySet}; extra: ${result.keySet -- truth.keySet}")
    truth
  }

  test("q_prefix_join: hand-built corpus — near-identical pairs found, unrelated not") {
    val base = ("the quick brown fox jumps over the lazy dog and then " * 4).trim
    val dir = writeDocs(Seq(
      1L -> base,
      // one word changed near the end -> shingle Jaccard well above 0.8
      2L -> (base.dropRight(3) + "cat"),
      3L -> base, // exact copy of doc 1
      4L -> "completely different text about spark catalyst optimizer rules and physical plans in a distributed engine"))
    val rows = queries.Catalog.queries("q_prefix_join")(spark, dir).collect()
    val pairs = rows.map(r =>
      (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(pairs == Set((1L, 2L), (1L, 3L), (2L, 3L)), s"pairs: $pairs")
    rows.foreach { r =>
      assert(r.getAs[Long]("jac_pct") >= 80, s"below threshold: $r")
      val (i, u) = (r.getAs[Long]("n_inter"), r.getAs[Long]("n_union"))
      assert(10 * i >= 8 * u && i <= u, s"inconsistent accounting: $r")
    }
    // the exact copy must be a full-overlap pair
    val copy = rows.find(r => r.getAs[Long]("doc_a") == 1L &&
      r.getAs[Long]("doc_b") == 3L).get
    assert(copy.getAs[Long]("n_inter") == copy.getAs[Long]("n_union"))
    // the repeated sentence makes most windows in-doc duplicates: the
    // sizes must still be the distinct-set sizes
    assertComplete(dir)
  }

  test("q_prefix_join: complete vs in-test brute force on the sf corpus") {
    val truth = assertComplete(sfDir)
    assert(truth.nonEmpty, "sf corpus should contain qualifying pairs")
  }

  test("q_prefix_join: singleton offset — all-singleton prefix, no shared element, straddling prefix") {
    val rnd = new scala.util.Random(7)
    def text(n: Int) = Seq.fill(n)(('a' + rnd.nextInt(26)).toChar).mkString
    val base = text(200)
    val (other, bridge) = (text(200), text(30))
    val dir = writeDocs(Seq(
      // 1 and 2 differ in one character: each keeps the 16 windows over
      // it as singletons, fewer than its 38-element prefix, so the pair's
      // prefix straddles the boundary and its ranks start at s1 + 1
      1L -> base,
      2L -> (base.take(100) + "#" + base.drop(101)),
      // 3 and 4 share only a 30-char bridge (15 shared windows): both have
      // shared elements, but their whole prefix is singletons
      3L -> (other + bridge),
      4L -> (bridge + text(200)),
      // 5 shares nothing
      5L -> text(200)))
    // the corpus really holds the three cases: per doc, n, the singleton
    // count s1 and the prefix length p
    val stats = shingleSets(dir)
      .withColumn("d", count(lit(1)).over(Window.partitionBy("hp")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n"), count(when(col("d") === 1, 1)).as("s1"))
      .collect()
      .map(r => r.getAs[Long]("doc_id") -> {
        val (n, s1) = (r.getAs[Long]("n"), r.getAs[Long]("s1"))
        (n, s1, n - (8 * n + 9) / 10 + 1)
      }).toMap
    Seq(1L, 2L).foreach { id =>
      val (n, s1, p) = stats(id)
      assert(s1 > 0 && s1 < p && n > s1, s"doc $id must straddle: ${stats(id)}")
    }
    Seq(3L, 4L).foreach { id =>
      val (n, s1, p) = stats(id)
      assert(s1 >= p && n > s1, s"doc $id: all-singleton prefix: ${stats(id)}")
    }
    assert(stats(5L)._1 == stats(5L)._2, s"doc 5 shares nothing: ${stats(5L)}")
    val truth = assertComplete(dir)
    assert(truth.keySet == Set((1L, 2L)), s"pairs: ${truth.keySet}")
  }

  test("plan shape: ONE hp-keyed exchange annotates df, no sort-merge join") {
    val tally = new Measure.Tally(spark)
    try {
      val before = tally.snap()
      val df = queries.Catalog.queries("q_prefix_join")(spark, sfDir)
      df.collect()
      val allJobs = (tally.snap() - before).shuffleBytes
      val plan = df.queryExecution.executedPlan
      def keyedOn(name: String)(p: Partitioning): Boolean = p match {
        case HashPartitioning(Seq(a: AttributeReference), _) => a.name == name
        case _ => false
      }
      val exchanges = collect(plan) { case e: ShuffleExchangeLike => e }.distinct
      // building the query runs no job of its own: every shuffle byte the
      // query writes is written by an exchange of its final plan
      assert(allJobs == exchanges.map(_.metrics("shuffleBytesWritten").value).sum,
        s"shuffle bytes written outside the final plan:\n$plan")
      val hpKeyed = exchanges.filter(e => keyedOn("hp")(e.outputPartitioning))
      assert(hpKeyed.size == 1, s"expected one hp-keyed exchange:\n$plan")
      // the exploded (doc_id, hp) rows go straight from the scan into it
      assert(collect(hpKeyed.head.child) { case e: ShuffleExchangeLike => e }.isEmpty,
        s"the hp exchange must read the scan, not an earlier exchange:\n$plan")
      // no doc-keyed exchange carries a doc's full set: each one either
      // reads the df-annotated hp partitions (the d ≥ 2 regroup) or moves
      // no element at all (the per-doc window count)
      val docKeyed = exchanges.filter(e => keyedOn("doc_id")(e.outputPartitioning))
      assert(docKeyed.nonEmpty, s"expected the doc-keyed regroup:\n$plan")
      docKeyed.foreach { e =>
        val afterDf = collect(e.child) {
          case x: ShuffleExchangeLike if keyedOn("hp")(x.outputPartitioning) => x
          case r: ReusedExchangeExec if keyedOn("hp")(r.outputPartitioning) => r
        }.nonEmpty
        val noElements = !e.output.exists(a => a.name == "hp" ||
          a.dataType.isInstanceOf[ArrayType] || a.dataType == BinaryType)
        assert(afterDf || noElements,
          s"doc-keyed exchange carries elements ahead of the df annotation:\n$e")
      }
      assert(collect(plan) { case j: SortMergeJoinExec => j }.isEmpty,
        s"no sort-merge join expected:\n$plan")
    } finally spark.sparkContext.removeSparkListener(tally)
  }

  test("shingle cap: an oversized doc explodes only its first MaxShinglesPerDoc windows") {
    val cap = queries.Dedup.MaxShinglesPerDoc
    val rnd = new scala.util.Random(11)
    def text(n: Int) = Seq.fill(n)(('a' + rnd.nextInt(26)).toChar).mkString
    // windows 1..cap cover the first cap + 15 characters
    val lead = text(cap + 15)
    val dir = writeDocs(Seq(
      1L -> (lead + text(100)),
      2L -> (lead + text(100)),
      3L -> lead,
      4L -> text(200)))
    val leadSet = shingleSets(writeDocs(Seq(1L -> lead))).count()
    assert(leadSet > cap - 10, s"random text should have ~$cap distinct windows: $leadSet")
    // uncapped, docs 1 and 2 hold 100 windows each that nobody else has;
    // capped, all three docs are exactly their leading windows
    val result = prefixJoin(dir)
    assert(result == Map((1L, 2L) -> (leadSet, leadSet), (1L, 3L) -> (leadSet, leadSet),
      (2L, 3L) -> (leadSet, leadSet)), s"capped result: $result")
  }

  test("verify joins stay SHUFFLE_HASH — arrays never sorted, never broadcast") {
    val plan = queries.Catalog.queries("q_prefix_join")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert("ShuffledHashJoin".r.findAllIn(plan).size >= 2,
      s"both verify joins must be SHJ (pair side builds):\n$plan")
  }
}
