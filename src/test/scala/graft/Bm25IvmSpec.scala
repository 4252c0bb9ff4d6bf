package graft

/** The maintained BM25 index (q_bm25_ivm): the oracle proves the
  * ⊕-merged postings/lengths/stats score identically to a cold BM25
  * over the final table state; this spec pins the property the oracle
  * can't see — the exhibit's CDC batch genuinely exercised BOTH
  * directions of the signed merge: net DELETED versions (DELETEs and
  * updates' old texts) and net INSERTED versions (appends and updates'
  * new texts), so neither merge arm is dead code.
  */
class Bm25IvmSpec extends SparkSuite {

  test("q_bm25_ivm: the signed merge applies real deletes and inserts") {
    val marks = scala.collection.mutable.ArrayBuffer.empty[String]
    val rows = queries.TextAnalysis.bm25IvmBuild(spark, sfDir, marks += _)
      .collect()
    assert(rows.nonEmpty, "empty scored result")
    val kv = phaseCounts(marks, "apply")
    assert(kv("n") >= 2, s"the CDC batch netted almost nothing: $kv")
    assert(kv("neg") >= 1,
      s"no net-deleted version in the batch — the signed-out path " +
        s"(DELETE / update old-text) never ran: $kv")
    assert(kv("n") - kv("neg") >= 1,
      s"no net-inserted version in the batch: $kv")
  }
}
