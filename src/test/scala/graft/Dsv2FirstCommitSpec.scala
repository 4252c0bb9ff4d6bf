package graft

import java.nio.file.{Files, Paths}

/** A catalog table's first commit, frozen between its two steps: the
  * writer has renamed a part file into the table dir under its committed
  * name, and has not yet published the generation manifest that lists
  * it. A reader in that window must see the empty table, because only
  * the manifest makes rows visible; the racing reader of
  * Dsv2ConcurrencySpec hits the same window by timing. A plain path dir
  * has no descriptor and no manifest, so the same file in it is data. */
class Dsv2FirstCommitSpec extends SparkSuite {

  private val rootDir = Files.createTempDirectory("graft_first_commit").toString
  spark.conf.set("spark.sql.catalog.gfc",
    classOf[graft.sources.GraftTsvCatalog].getName)
  spark.conf.set("spark.sql.catalog.gfc.root", rootDir)
  spark.sql("CREATE NAMESPACE IF NOT EXISTS gfc.db")

  private val part = "part-00000-00000.tsv"

  test("a catalog table's part file without a manifest is not visible") {
    spark.sql("CREATE TABLE gfc.db.t (a BIGINT, b STRING) USING `graft-tsv`")
    Files.writeString(Paths.get(rootDir, "db", "t", part), "1\tx\n")
    assert(spark.table("gfc.db.t").count() == 0L)
  }

  test("the same part file in a plain path dir still reads") {
    val dir = Files.createTempDirectory("graft_first_commit_plain")
    Files.writeString(dir.resolve(part), "1\tx\n")
    val rows = spark.read.format("graft-tsv").schema("a BIGINT, b STRING")
      .load(dir.toString).collect().map(r => (r.getLong(0), r.getString(1)))
    assert(rows.toSeq == Seq((1L, "x")))
  }
}
