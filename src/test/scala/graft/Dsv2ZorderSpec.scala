package graft

import java.nio.file.Files

import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `CALL g.system.zorder` — the multi-dimensional clustering rewrite on
  * graft-tsv catalog tables. A single-key row order serves one dimension;
  * after the Morton rewrite the writer's ordinary per-file stats form
  * tight boxes on BOTH dimensions, so a selective predicate on the
  * NON-sorted dimension starts pruning files. Proven at the planning
  * seam against the SAME table's retained pre-rewrite generation (time
  * travel is the control group). Content preservation is checked three
  * ways: count, multiset equality, and the changes feed diffing the
  * rewrite empty. */
class Dsv2ZorderSpec extends SparkSuite {

  private val rootDir = Files.createTempDirectory("graft_zorder").toString
  spark.conf.set("spark.sql.catalog.gzo",
    classOf[graft.sources.GraftTsvCatalog].getName)
  spark.conf.set("spark.sql.catalog.gzo.root", rootDir)
  spark.sql("CREATE NAMESPACE IF NOT EXISTS gzo.db")

  private def cat: graft.sources.GraftTsvCatalog =
    spark.sessionState.catalogManager.catalog("gzo")
      .asInstanceOf[graft.sources.GraftTsvCatalog]

  private val schema = StructType(Seq(
    StructField("x", LongType), StructField("y", LongType),
    StructField("v", StringType)))

  /** Files whose splits survive a pushed [lo, hi] range on `col`, read
    * at `gen` — the planning seam the rewrite is supposed to move. */
  private def plannedFiles(table: String, gen: Long, c: String,
      lo: Long, hi: Long): Int = {
    val b = new graft.sources.GraftTsvScanBuilder(schema,
      graft.sources.GraftTsvOptions(Map(
        "path" -> s"$rootDir/db/$table",
        "generation" -> gen.toString)))
    b.pushFilters(Array(
      org.apache.spark.sql.sources.GreaterThanOrEqual(c, lo),
      org.apache.spark.sql.sources.LessThanOrEqual(c, hi)))
    b.build().asInstanceOf[org.apache.spark.sql.connector.read.Batch]
      .planInputPartitions().length
  }

  test("zorder rewrite makes the second dimension prunable; content identical; diff empty") {
    spark.sql("""CREATE TABLE gzo.db.t (x BIGINT, y BIGINT, v STRING)
      USING `graft-tsv` TBLPROPERTIES ('retain.generations' = '4')""")
    // 4096 rows on a 64x64 grid, inserted in x-major row order across 8
    // files: every file spans the FULL y range, so y predicates prune
    // nothing before the rewrite
    spark.range(4096)
      .select((col("id") / 64).cast("long").as("x"),
        (col("id") % 64).as("y"),
        concat(lit("r"), col("id")).as("v"))
      .repartitionByRange(8, col("x"))
      .writeTo("gzo.db.t").append() // generation 1
    val preCount = spark.table("gzo.db.t").count()
    val res = spark.sql("CALL gzo.system.zorder(`table` => 'db.t', " +
      "columns => 'x,y', target_bytes => 4096)").collect().head
    assert(res.getLong(2) == 2L, res.toString) // published generation 2
    assert(res.getLong(1) > 1, "rewrite should produce multiple files")
    // content: count + full multiset survive the rewrite
    assert(spark.table("gzo.db.t").count() == preCount)
    val diff = cat.changes(spark, Identifier.of(Array("db"), "t"), "1", "2")
    assert(diff.count() == 0,
      "a clustering rewrite changes layout, never content — diff must be empty")
    // pruning: a 12.5%-selective y range must skip most files AFTER the
    // rewrite and none BEFORE it (gen 1 files each span all of y)
    val pre = plannedFiles("t", 1L, "y", 0L, 7L)
    val post = plannedFiles("t", 2L, "y", 0L, 7L)
    val preAll = plannedFiles("t", 1L, "y", 0L, 63L)
    val postAll = plannedFiles("t", 2L, "y", 0L, 63L)
    assert(pre == preAll, s"x-major layout cannot prune on y: $pre vs $preAll")
    assert(post * 2 <= postAll,
      s"z-order must make y-selective scans skip most files: $post of $postAll")
    // and x stays prunable too (the point of z over a y-only sort).
    // The interleave gives y the higher bit positions, so contiguous
    // z-range chunks have tighter y boxes than x boxes — x pruning is
    // real but weaker; a third of the files must still drop
    val postX = plannedFiles("t", 2L, "x", 0L, 7L)
    assert(postX * 3 <= postAll * 2,
      s"z-order must keep x prunable as well: $postX of $postAll")
  }

  test("error surface: bad columns, non-integral types, wrong arity") {
    spark.sql("""CREATE TABLE gzo.db.e (x BIGINT, s STRING)
      USING `graft-tsv`""")
    spark.sql("INSERT INTO gzo.db.e VALUES (1, 'a')")
    def call(cols: String) = spark.sql(
      s"CALL gzo.system.zorder(`table` => 'db.e', columns => '$cols')")
      .collect()
    val one = intercept[Exception](call("x"))
    assert(one.getMessage.contains("exactly two"), one.getMessage)
    val unknown = intercept[Exception](call("x,nope"))
    assert(unknown.getMessage.contains("not in the table schema"),
      unknown.getMessage)
    val typed = intercept[Exception](call("x,s"))
    assert(typed.getMessage.contains("integral"), typed.getMessage)
    val same = intercept[Exception](call("x,x"))
    assert(same.getMessage.contains("must differ"), same.getMessage)
  }

  test("empty table and all-null dimensions are no-ops (generation -1)") {
    spark.sql("CREATE TABLE gzo.db.n (x BIGINT, y BIGINT) USING `graft-tsv`")
    val r0 = spark.sql(
      "CALL gzo.system.zorder(`table` => 'db.n', columns => 'x,y')")
      .collect().head
    assert(r0.getLong(2) == -1L, r0.toString)
    spark.sql("INSERT INTO gzo.db.n VALUES (NULL, NULL), (NULL, NULL)")
    val r1 = spark.sql(
      "CALL gzo.system.zorder(`table` => 'db.n', columns => 'x,y')")
      .collect().head
    assert(r1.getLong(2) == -1L, r1.toString)
    assert(spark.table("gzo.db.n").count() == 2) // untouched
  }
}
