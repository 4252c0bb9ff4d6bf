package graft

import graft.queries.ArtifactStore

/** The build-once/serve-many artifact lifecycle (IVF index, BPE merge
  * table): signature-keyed roots, the done-marker crash protocol, and
  * rebuild semantics. The content of each artifact is gate-proved by its
  * queries (q_ivf_build/q_ivf_probe, q_bpe_encode); this spec pins the
  * LIFECYCLE edges those queries only exercise implicitly. */
class ArtifactStoreSpec extends SparkSuite {

  private def rootFile(name: String) =
    new java.io.File(ArtifactStore.root(sfDir, "documents", name, "r1"))

  test("ensure builds once, then reuses; rebuild always rebuilds") {
    val name = s"spec_a_${System.nanoTime()}"
    var builds = 0
    def build(r: String): Unit = {
      builds += 1
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(r))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(r, "payload"), Array[Byte](1, 2, 3))
    }
    val r1 = ArtifactStore.ensure(spark, sfDir, "documents", name, "r1")(build)
    val r2 = ArtifactStore.ensure(spark, sfDir, "documents", name, "r1")(build)
    assert(r1 == r2 && builds == 1, s"ensure must reuse a completed build ($builds)")
    val r3 = ArtifactStore.rebuild(spark, sfDir, "documents", name, "r1")(build)
    assert(r3 == r1 && builds == 2, "rebuild must always build fresh")
    rootFile(name).listFiles().foreach(_.delete()); rootFile(name).delete()
  }

  test("a crashed build (no marker) is rebuilt, never half-read") {
    val name = s"spec_b_${System.nanoTime()}"
    var builds = 0
    def build(r: String): Unit = {
      builds += 1
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(r))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(r, "payload"), Array[Byte](7))
    }
    ArtifactStore.ensure(spark, sfDir, "documents", name, "r1")(build)
    // simulate the crash window: payload present, marker gone
    val marker = new java.io.File(rootFile(name), "_GRAFT_ARTIFACT_DONE")
    assert(marker.exists, "completed build must carry the marker")
    assert(marker.delete())
    ArtifactStore.ensure(spark, sfDir, "documents", name, "r1")(build)
    assert(builds == 2, "a marker-less root must be rebuilt")
    assert(marker.exists, "the rebuild must republish the marker")
    rootFile(name).listFiles().foreach(_.delete()); rootFile(name).delete()
  }

  test("rebuild WIPES the previous root: stale payload cannot leak through") {
    val name = s"spec_c_${System.nanoTime()}"
    def build(extra: Option[String])(r: String): Unit = {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(r))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(r, "payload"), Array[Byte](1))
      extra.foreach(e => java.nio.file.Files.write(
        java.nio.file.Paths.get(r, e), Array[Byte](2)))
    }
    ArtifactStore.rebuild(spark, sfDir, "documents", name, "r1")(build(Some("stale")))
    ArtifactStore.rebuild(spark, sfDir, "documents", name, "r1")(build(None))
    assert(!new java.io.File(rootFile(name), "stale").exists,
      "rebuild must not leave previous-build files behind")
    rootFile(name).listFiles().foreach(_.delete()); rootFile(name).delete()
  }

  test("the root is keyed by the source signature — different sources, different roots") {
    val a = ArtifactStore.root(sfDir, "documents", "spec_d", "r1")
    val b = ArtifactStore.root(sfDir, "embeddings", "spec_d", "r1")
    assert(a != b, "different source tables must key different roots")
  }

  test("the root is keyed by the build recipe — changed parameters, fresh root") {
    val a = ArtifactStore.root(sfDir, "documents", "spec_e", "merges=16")
    val b = ArtifactStore.root(sfDir, "documents", "spec_e", "merges=256")
    assert(a != b, "a changed build recipe must key a fresh root " +
      "(stale-artifact hazard, ADVICE r14)")
  }

  test("the root is keyed by the full data dir path — equal String.hashCode, different roots") {
    val base = java.nio.file.Files.createTempDirectory("graft_artifact_keys")
    val (aa, bb) = (base.resolve("Aa").toString, base.resolve("BB").toString)
    assert(aa.hashCode == bb.hashCode,
      "precondition: the two dirs collide in hashCode")
    val a = ArtifactStore.root(aa, "documents", "spec_f", "r1")
    val b = ArtifactStore.root(bb, "documents", "spec_f", "r1")
    assert(a != b, "two data dirs with equal hashCode must key different roots")
    assert(ArtifactStore.parityTable(spark, aa, "spec_f").sql !=
      ArtifactStore.parityTable(spark, bb, "spec_f").sql,
      "two data dirs with equal hashCode must key different parity tables")
    assert(queries.Layout.compactRoot(aa) != queries.Layout.compactRoot(bb),
      "two data dirs with equal hashCode must key different export roots")
    java.nio.file.Files.delete(base)
  }

  test("a session without the gparity catalog runs q_dsv2_delete to the oracle's rows") {
    val s2 = spark.newSession()
    assert(s2.conf.getOption("spark.sql.catalog.gparity").isEmpty,
      "precondition: the session has no gparity catalog of its own")
    val got = SparkEntry.queries("q_dsv2_delete")(s2, sfDir).collect().toSeq
    // the oracle's own SQL, run by Spark over the original parquet
    val o = spark.newSession()
    graft.sources.Tables.load(o, sfDir, "orders").createOrReplaceTempView("orders")
    val want = o.sql(SparkEntry.oracleSql("q_dsv2_delete")).collect().toSeq
    assert(want.nonEmpty && got == want)
  }
}
