package graft

/** The incrementally-maintained multimodal pipeline
  * (q_pipeline_multimodal_ivm): the oracle already proves the maintained
  * audit equals a cold DuckDB recompute of the final corpus; this spec
  * pins the ENGINE-side properties the oracle can't see —
  *  (a) the maintained audit is row-identical to the cold Spark builder
  *      (q_pipeline_multimodal) on the same corpus,
  *  (b) the exhibit's delta genuinely exercises the incremental edge
  *      paths (at least one delta TEXT edge — a new doc near-duplicating
  *      an old or new one — with the blob side allowed to be quiet at a
  *      tiny SF), and
  *  (c) the closure RESUMES: the monotone min-label loop from the base
  *      labeling takes no more rounds than the cold converge did.
  */
class PipelineIvmSpec extends SparkSuite {

  test("q_pipeline_multimodal_ivm: maintained audit ≡ cold pipeline, delta real, resume short") {
    val cold = queries.Catalog.queries("q_pipeline_multimodal")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val marks = scala.collection.mutable.ArrayBuffer.empty[String]
    val ivm = queries.Catalog
      .pipelineMultimodalIvmBuild(spark, sfDir, marks += _)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(ivm == cold,
      s"maintained audit diverged from the cold pipeline:\n$ivm\nvs\n$cold")
    val kv = phaseCounts(marks, "resume")
    assert(kv("dt") + kv("db") >= 1,
      s"the exhibit batch produced no delta edge at all: $kv")
    assert(kv("r2") >= 1 && kv("r2") <= kv("r1") + 1,
      s"resume rounds materially exceed the cold converge: $kv")
  }
}
