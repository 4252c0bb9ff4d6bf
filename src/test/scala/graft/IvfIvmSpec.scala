package graft

import org.apache.spark.sql.functions._

/** The maintained IVF index (q_ivf_ivm): the oracle proves the probe
  * over base∪delta postings equals a from-scratch rebuild with the same
  * frozen centroids; this pins the two engine-side properties the
  * oracle can't see — the delta batch is REAL (new postings were
  * assigned), and the delta postings genuinely PARTICIPATE in serving
  * (at least one above-cutoff vector surfaces in some query's top-k,
  * so the union path isn't dead code).
  */
class IvfIvmSpec extends SparkSuite {

  test("q_ivf_ivm: delta postings are real and serve probe traffic") {
    val marks = scala.collection.mutable.ArrayBuffer.empty[String]
    val df = queries.Similarity.ivfIvmBuild(spark, sfDir, marks += _)
    val rows = df.collect()
    assert(rows.nonEmpty, "empty probe result")
    val kv = phaseCounts(marks, "delta")
    assert(kv("n") >= 1, s"the exhibit batch assigned no new posting: $kv")
    val bnd = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .agg(min(col("vec_id")), max(col("vec_id"))).head()
    val cutoff = bnd.getLong(0) + (bnd.getLong(1) - bnd.getLong(0) + 1) * 7 / 8
    assert(rows.exists(_.getLong(2) >= cutoff),
      "no above-cutoff vector in any top-k — the delta postings never " +
        "served a probe")
  }
}
