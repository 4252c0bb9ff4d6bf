package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The graft TableCatalog: full SQL DDL/DML lifecycle against graft-tsv
  * tables — create/list/rename/drop namespaces and tables, INSERT INTO /
  * INSERT OVERWRITE through the manifest commit protocol, and catalog
  * reads that inherit the table's declared partitioning (pruning
  * included) with no side-channel options. */
class Dsv2CatalogSpec extends SparkSuite {

  private val rootDir = Files.createTempDirectory("graft_catalog").toString
  spark.conf.set("spark.sql.catalog.gcat",
    classOf[graft.sources.GraftTsvCatalog].getName)
  spark.conf.set("spark.sql.catalog.gcat.root", rootDir)

  private def scanOf(df: DataFrame) = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    def find(p: SparkPlan): Option[BatchScanExec] = p match {
      case b: BatchScanExec => Some(b)
      case a: AdaptiveSparkPlanExec => find(a.executedPlan)
      case q: QueryStageExec => find(q.plan)
      case other => other.children.iterator.flatMap(find(_).iterator).nextOption()
    }
    find(df.queryExecution.executedPlan).getOrElse(fail("no BatchScanExec"))
  }

  test("SQL DDL/DML lifecycle: namespace, partitioned table, insert, prune, overwrite, rename, drop") {
    spark.sql("CREATE NAMESPACE gcat.db")
    spark.sql("""CREATE TABLE gcat.db.t (id BIGINT, v STRING, day STRING)
      USING `graft-tsv` PARTITIONED BY (day)""")
    assert(spark.sql("SHOW TABLES IN gcat.db").collect()
      .map(_.getString(1)).contains("t"))

    // INSERT INTO runs the connector's staged commit with the TABLE's
    // declared partitioning — no write options anywhere
    spark.sql("""INSERT INTO gcat.db.t
      SELECT id, concat('v', id), concat('d', id % 3) FROM range(30)""")
    assert(spark.sql("SELECT count(*) FROM gcat.db.t").head().getLong(0) == 30)
    // the layout on disk is hive partitions under one table manifest
    val tdir = new java.io.File(s"$rootDir/db/t")
    val names = tdir.listFiles().map(_.getName)
    assert(names.exists(_.startsWith("day=")), names.mkString(","))
    assert(names.count(_.startsWith("_gen-")) == 1, names.mkString(","))

    // catalog reads resolve the descriptor: partition column reconstructed
    // and PRUNED on (only day=d1 files are opened)
    val q = spark.sql("SELECT id FROM gcat.db.t WHERE day = 'd1'")
    assert(q.collect().map(_.getLong(0)).sorted.toSeq ===
      (1L until 30L by 3L).toSeq)
    assert(scanOf(q).metrics("linesRead").value == 10,
      "catalog read must prune partitions from the table's own metadata")

    // the DataFrame writeTo API appends through the same table
    import spark.implicits._
    Seq((100L, "x", "d1")).toDF("id", "v", "day").writeTo("gcat.db.t").append()
    assert(spark.sql("SELECT count(*) FROM gcat.db.t").head().getLong(0) == 31)

    // INSERT OVERWRITE = the atomic manifest swap, all partitions at once
    spark.sql("INSERT OVERWRITE gcat.db.t SELECT id, 'y', 'd9' FROM range(5)")
    val after = spark.sql("SELECT id, day FROM gcat.db.t").collect()
    assert(after.length == 5 && after.forall(_.getString(1) == "d9"))

    // rename keeps data and metadata; drop removes the directory
    spark.sql("ALTER TABLE gcat.db.t RENAME TO db.t2") // target is catalog-relative
    assert(spark.sql("SELECT count(*) FROM gcat.db.t2").head().getLong(0) == 5)
    spark.sql("DROP TABLE gcat.db.t2")
    assert(!spark.sql("SHOW TABLES IN gcat.db").collect()
      .map(_.getString(1)).contains("t2"))
  }

  test("catalog errors are loud: missing table, duplicate create, bad transform") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gcat.errs")
    val e1 = intercept[Exception] { spark.sql("SELECT * FROM gcat.errs.nope") }
    assert(e1.getMessage.toLowerCase.contains("table"), e1.getMessage)
    spark.sql("CREATE TABLE gcat.errs.a (id BIGINT) USING `graft-tsv`")
    val e2 = intercept[Exception] {
      spark.sql("CREATE TABLE gcat.errs.a (id BIGINT) USING `graft-tsv`")
    }
    assert(e2.getMessage.toLowerCase.contains("exists") ||
      e2.getMessage.contains("TABLE_OR_VIEW_ALREADY_EXISTS"), e2.getMessage)
    val e3 = intercept[Exception] {
      spark.sql("""CREATE TABLE gcat.errs.b (id BIGINT, day STRING)
        USING `graft-tsv` PARTITIONED BY (bucket(4, id))""")
    }
    assert(e3.getMessage.contains("identity partitioning"), e3.getMessage)
    // a LOCATION this catalog cannot honor fails loudly instead of
    // silently placing data under the root
    val e4 = intercept[Exception] {
      spark.sql("""CREATE TABLE gcat.errs.c (id BIGINT)
        USING `graft-tsv` LOCATION '/tmp/elsewhere'""")
    }
    assert(e4.getMessage.contains("not supported"), e4.getMessage)
    // duplicate namespace creation is an error, not a silent no-op
    val e5 = intercept[Exception] { spark.sql("CREATE NAMESPACE gcat.errs") }
    assert(e5.getMessage.toLowerCase.contains("exists") ||
      e5.getMessage.contains("SCHEMA_ALREADY_EXISTS"), e5.getMessage)
    // namespaces are single-level: nested creation is rejected up front
    // (it would otherwise be invisible to SHOW NAMESPACES)
    val e6 = intercept[Exception] { spark.sql("CREATE NAMESPACE gcat.a.b") }
    assert(e6.getMessage.contains("single-level"), e6.getMessage)
  }

  test("ALTER TABLE ADD COLUMN: NULL backfill on old generations, full width on new") {
    val s = spark
    import s.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gcat.evo")
    spark.sql("CREATE TABLE gcat.evo.t (id BIGINT, v STRING) USING `graft-tsv`")
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").writeTo("gcat.evo.t").append()
    spark.sql("ALTER TABLE gcat.evo.t ADD COLUMN score DOUBLE")
    // widened schema is live immediately, old rows read as NULL
    assert(spark.table("gcat.evo.t").schema.fieldNames.toSeq ==
      Seq("id", "v", "score"))
    Seq((3L, "c", 0.5)).toDF("id", "v", "score").writeTo("gcat.evo.t").append()
    val rows = spark.table("gcat.evo.t").orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) null else r.getDouble(2)))
    assert(rows.toSeq == Seq((1L, "a", null), (2L, "b", null), (3L, "c", 0.5)),
      s"old generations must NULL-backfill the added column: ${rows.toSeq}")
    // the added column is filterable (null semantics through the reader)
    assert(spark.table("gcat.evo.t").filter(col("score").isNotNull).count() == 1)
    // multiple ADDs in one statement append in order
    spark.sql("ALTER TABLE gcat.evo.t ADD COLUMNS (x BIGINT, y STRING)")
    assert(spark.table("gcat.evo.t").schema.fieldNames.toSeq ==
      Seq("id", "v", "score", "x", "y"))
  }

  test("ALTER TABLE rejections: positioned add, non-nullable add, drop") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gcat.evo2")
    spark.sql("CREATE TABLE gcat.evo2.t (id BIGINT, v STRING) USING `graft-tsv`")
    // FIRST/AFTER would remap positional TSV fields under existing data
    val e1 = intercept[Exception] {
      spark.sql("ALTER TABLE gcat.evo2.t ADD COLUMN w STRING FIRST")
    }
    assert(e1.getMessage.contains("appending at the end"), e1.getMessage)
    val e2 = intercept[Exception] {
      spark.sql("ALTER TABLE gcat.evo2.t ADD COLUMN w STRING AFTER id")
    }
    assert(e2.getMessage.contains("appending at the end"), e2.getMessage)
    val e3 = intercept[Exception] {
      spark.sql("ALTER TABLE gcat.evo2.t ADD COLUMN w STRING NOT NULL")
    }
    assert(e3.getMessage.contains("nullable"), e3.getMessage)
    // a MIDDLE drop would remap every later positional field
    val e4 = intercept[Exception] {
      spark.sql("ALTER TABLE gcat.evo2.t DROP COLUMN id")
    }
    assert(e4.getMessage.contains("LAST column"), e4.getMessage)
    // duplicate name (case-insensitive, Spark's resolution default)
    val e6 = intercept[Exception] {
      spark.sql("ALTER TABLE gcat.evo2.t ADD COLUMN ID BIGINT")
    }
    assert(e6.getMessage.toLowerCase.contains("exists"), e6.getMessage)
    // a failed ALTER leaves the descriptor untouched
    assert(spark.table("gcat.evo2.t").schema.fieldNames.toSeq == Seq("id", "v"))
  }

  test("DROP COLUMN (trailing): old generations' extra field invisible, width retired") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gcat.evo3")
    spark.sql("CREATE TABLE gcat.evo3.t (id BIGINT, v STRING, score BIGINT) USING `graft-tsv`")
    spark.sql("INSERT INTO gcat.evo3.t SELECT id, concat('v', id), id * 10 FROM range(3)")
    spark.sql("ALTER TABLE gcat.evo3.t DROP COLUMN score")
    assert(spark.table("gcat.evo3.t").schema.fieldNames.toSeq == Seq("id", "v"))
    // the wide generation's trailing field is simply never scanned
    spark.sql("INSERT INTO gcat.evo3.t VALUES (10, 'n10')") // narrow write
    val got = spark.sql("SELECT id, v FROM gcat.evo3.t ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got === Seq((0L, "v0"), (1L, "v1"), (2L, "v2"), (10L, "n10")))
    // the width cannot re-extend: ANY new trailing column (fresh name or
    // not) re-occupies the retired POSITION, and the wide generation's
    // bytes would resurrect into it instead of NULL-backfilling
    val e = intercept[Exception] {
      spark.sql("ALTER TABLE gcat.evo3.t ADD COLUMN score BIGINT")
    }
    assert(e.getMessage.contains("dropped columns"), e.getMessage)
    val e2 = intercept[Exception] {
      spark.sql("ALTER TABLE gcat.evo3.t ADD COLUMN fresh_name STRING")
    }
    assert(e2.getMessage.contains("narrowed width"), e2.getMessage)
    // renames stay legal after a drop (no width change)
    spark.sql("ALTER TABLE gcat.evo3.t RENAME COLUMN v TO label")
    assert(spark.table("gcat.evo3.t").schema.fieldNames.toSeq ==
      Seq("id", "label"))
  }

  test("DROP COLUMN guards: renamed-column drops, partition columns, middle columns") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gcat.evo4")
    spark.sql("CREATE TABLE gcat.evo4.t (id BIGINT, tmp BIGINT) USING `graft-tsv`")
    spark.sql("INSERT INTO gcat.evo4.t VALUES (1, 5)")
    // dropping a RENAMED column works and retires its historical name too
    spark.sql("ALTER TABLE gcat.evo4.t RENAME COLUMN tmp TO kept")
    spark.sql("ALTER TABLE gcat.evo4.t DROP COLUMN kept")
    assert(spark.table("gcat.evo4.t").schema.fieldNames.toSeq == Seq("id"))
    val eAdd = intercept[Exception] {
      spark.sql("ALTER TABLE gcat.evo4.t ADD COLUMN other BIGINT")
    }
    assert(eAdd.getMessage.contains("kept") &&
      eAdd.getMessage.contains("tmp"), eAdd.getMessage)
    // partition columns can never be dropped
    spark.sql("""CREATE TABLE gcat.evo4.p (id BIGINT, day STRING)
      USING `graft-tsv` PARTITIONED BY (day)""")
    val ePart = intercept[Exception] {
      spark.sql("ALTER TABLE gcat.evo4.p DROP COLUMN day")
    }
    assert(ePart.getMessage.contains("partition column"), ePart.getMessage)
  }

  test("RENAME COLUMN: name-mapped evolution keeps data AND old-name stats pruning") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gcat.ren")
    spark.sql("CREATE TABLE gcat.ren.t (id BIGINT, v STRING) USING `graft-tsv`")
    // generation 1 written under the ORIGINAL name: its manifest stats
    // cells are keyed `id:...`
    spark.sql("""INSERT INTO gcat.ren.t
      SELECT id, concat('v', id) FROM range(100)""")
    spark.sql("ALTER TABLE gcat.ren.t RENAME COLUMN id TO doc_id")
    assert(spark.table("gcat.ren.t").schema.fieldNames.toSeq ==
      Seq("doc_id", "v"))
    // positional data resolves under the new name unchanged
    val got = spark.sql("SELECT doc_id FROM gcat.ren.t WHERE doc_id >= 90")
      .collect().map(_.getLong(0)).sorted
    assert(got.toSeq === (90L until 100L))
    // generation 2 written under the NEW name; both generations readable
    spark.sql("""INSERT INTO gcat.ren.t
      SELECT id + 100, concat('v', id + 100) FROM range(100)""")
    assert(spark.sql("SELECT count(*) FROM gcat.ren.t").head().getLong(0) == 200)
    // the scan PRUNES pre-rename files via the alias map: a predicate on
    // doc_id must look stats up under the historical name `id`. Prove at
    // the planning seam: only the covering file's splits are planned.
    import org.apache.spark.sql.types._
    val rootTable = s"$rootDir/ren/t"
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("v", StringType)))
    def plannedSplits(opts: Map[String, String]): Int = {
      val b = new graft.sources.GraftTsvScanBuilder(schema,
        graft.sources.GraftTsvOptions(opts + ("path" -> rootTable)))
      b.pushFilters(Array(
        org.apache.spark.sql.sources.GreaterThanOrEqual("doc_id", 150L)))
      b.build().asInstanceOf[org.apache.spark.sql.connector.read.Batch]
        .planInputPartitions().length
    }
    val withAlias = plannedSplits(Map("column.aliases" -> "doc_id>id"))
    val withoutAlias = plannedSplits(Map.empty)
    // without the alias the gen-1 file (stats keyed `id`) cannot be
    // excluded; with it, only the gen-2 file (keyed `doc_id`, range
    // 100-199) survives the predicate
    assert(withAlias < withoutAlias,
      s"alias map must restore pre-rename file skipping: $withAlias vs $withoutAlias")
    // chained rename: doc_id -> document_id must still resolve `id` stats
    spark.sql("ALTER TABLE gcat.ren.t RENAME COLUMN doc_id TO document_id")
    assert(spark.sql(
      "SELECT count(*) FROM gcat.ren.t WHERE document_id < 100")
      .head().getLong(0) == 100)
    // rejections: partition column, existing target
    spark.sql("""CREATE TABLE gcat.ren.p (id BIGINT, day STRING)
      USING `graft-tsv` PARTITIONED BY (day)""")
    val e1 = intercept[Exception] {
      spark.sql("ALTER TABLE gcat.ren.p RENAME COLUMN day TO d")
    }
    assert(e1.getMessage.contains("partition"), e1.getMessage)
    val e2 = intercept[Exception] {
      spark.sql("ALTER TABLE gcat.ren.t RENAME COLUMN v TO document_id")
    }
    assert(e2.getMessage.toLowerCase.contains("exists"), e2.getMessage)
  }

  private def visibleEntries(ns: String): Seq[String] =
    Option(new java.io.File(s"$rootDir/$ns").listFiles()).toSeq.flatten
      .map(_.getName).filterNot(_.startsWith("."))

  private def hiddenEntries(ns: String): Seq[String] =
    Option(new java.io.File(s"$rootDir/$ns").listFiles()).toSeq.flatten
      .map(_.getName).filter(_.startsWith("."))

  test("atomic CTAS: staged workspace, one-rename publish, clean abort") {
    spark.sql("CREATE NAMESPACE gcat.ctas")
    // happy path: CREATE TABLE AS SELECT through the staging catalog —
    // partitioned, so the staged write exercises the hive layout too
    spark.sql("""CREATE TABLE gcat.ctas.t USING `graft-tsv`
      PARTITIONED BY (day)
      AS SELECT id, concat('v', id) AS v, concat('d', id % 3) AS day
      FROM range(30)""")
    assert(spark.sql("SELECT count(*) FROM gcat.ctas.t").head().getLong(0) == 30)
    assert(spark.sql("SELECT sum(id) FROM gcat.ctas.t WHERE day = 'd1'")
      .head().getLong(0) == (1L until 30L by 3L).sum)
    // published atomically: the table dir holds a complete generation and
    // NO staged workspace remains in the namespace
    assert(visibleEntries("ctas") == Seq("t"), visibleEntries("ctas"))
    assert(hiddenEntries("ctas").isEmpty, hiddenEntries("ctas"))

    // failed CTAS: the SELECT blows up mid-write — the staged workspace
    // is aborted, so NO visible table, no orphan descriptor, no hidden
    // residue; the namespace is exactly as before
    val e = intercept[Exception] {
      spark.sql("""CREATE TABLE gcat.ctas.broken USING `graft-tsv`
        AS SELECT CASE WHEN id < 5 THEN id
                  ELSE CAST(raise_error('mid-CTAS crash') AS BIGINT) END AS id
        FROM range(10)""")
    }
    assert(e.getMessage != null)
    assert(!spark.sql("SHOW TABLES IN gcat.ctas").collect()
      .map(_.getString(1)).contains("broken"))
    assert(visibleEntries("ctas") == Seq("t"), visibleEntries("ctas"))
    assert(hiddenEntries("ctas").isEmpty, hiddenEntries("ctas"))
    // ...and the survivor still reads
    assert(spark.sql("SELECT count(*) FROM gcat.ctas.t").head().getLong(0) == 30)
  }

  test("stage sweep is age-gated; invisible residue never blocks a namespace drop") {
    spark.sql("CREATE NAMESPACE gcat.sweep")
    val ns = new java.io.File(s"$rootDir/sweep")
    // plant residue: a STALE crashed stage + a stale replaced leftover
    // (old mtimes) and a FRESH stage standing in for a live concurrent
    // operation
    val stale = new java.io.File(ns, ".t-stage-stale001"); stale.mkdirs()
    val replaced = new java.io.File(ns, ".t-replaced-old0001"); replaced.mkdirs()
    val fresh = new java.io.File(ns, ".t-stage-fresh001"); fresh.mkdirs()
    val now = System.currentTimeMillis()
    val old = now - 2L * 60 * 60 * 1000
    assert(stale.setLastModified(old) && replaced.setLastModified(old))
    // a JUST-retired replaced dir whose mtime the swap's rename inherited
    // from an hours-old table dir: the name-borne retirement epoch must
    // keep it alive through the swap window (it is the rollback source)
    val retiredNow = new java.io.File(ns, s".t-replaced-$now-abcd1234")
    retiredNow.mkdirs()
    assert(retiredNow.setLastModified(old))
    // a LIVE stage created before the gate but still writing — only into
    // a nested partition subdir, so the workspace root's own mtime is
    // old; the recursive freshness check must spare it
    val liveDeep = new java.io.File(ns, s".t-stage-${old}-deadbeef")
    val nested = new java.io.File(liveDeep, "p=1"); nested.mkdirs()
    val liveFile = new java.io.File(nested, "part-0.tsv")
    assert(liveFile.createNewFile())
    assert(liveDeep.setLastModified(old) && nested.setLastModified(now))
    // a stage abandoned long ago with nested content: swept
    val deadDeep = new java.io.File(ns, s".t-stage-${old}-0badcafe")
    val deadNested = new java.io.File(deadDeep, "p=2"); deadNested.mkdirs()
    assert(deadDeep.setLastModified(old) && deadNested.setLastModified(old))
    // a CTAS of `t` runs the sweep for t's residue prefixes
    spark.sql("""CREATE TABLE gcat.sweep.t USING `graft-tsv`
      AS SELECT id FROM range(3)""")
    val hidden = ns.listFiles().map(_.getName).filter(_.startsWith(".")).toSet
    assert(!hidden.contains(".t-stage-stale001"), "stale stage not swept")
    assert(!hidden.contains(".t-replaced-old0001"), "replaced residue not swept")
    assert(hidden.contains(".t-stage-fresh001"),
      "the age gate must spare a recent (possibly live) stage dir")
    assert(hidden.contains(s".t-replaced-$now-abcd1234"),
      "a just-retired replaced dir (rename-inherited old mtime) must " +
        "survive the swap window — it is the REPLACE rollback source")
    assert(hidden.contains(s".t-stage-${old}-deadbeef"),
      "a live stage writing only into nested partition subdirs must not " +
        "be swept mid-write")
    assert(!hidden.contains(s".t-stage-${old}-0badcafe"),
      "an abandoned stage with old nested content must still be swept")
    // non-cascade DROP NAMESPACE counts VISIBLE contents only — the
    // fresh dot-dir is invisible to SHOW TABLES and must not block a
    // drop the user can see no reason for
    spark.sql("DROP TABLE gcat.sweep.t")
    spark.sql("DROP NAMESPACE gcat.sweep")
    assert(!ns.exists(), "namespace (and its invisible residue) must be gone")
  }

  test("RTAS: REPLACE swaps the whole table definition; CREATE OR REPLACE creates") {
    spark.sql("CREATE NAMESPACE gcat.rtas")
    spark.sql("""CREATE TABLE gcat.rtas.t USING `graft-tsv`
      AS SELECT id, concat('v', id) AS v FROM range(10)""")
    // REPLACE: new schema AND new data — readers resolve the new
    // descriptor + generation after the swap, nothing of the old remains
    spark.sql("""REPLACE TABLE gcat.rtas.t USING `graft-tsv`
      AS SELECT id * 2 AS twice, concat('w', id) AS w FROM range(5)""")
    val rows = spark.sql("SELECT twice, w FROM gcat.rtas.t ORDER BY twice")
      .collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(0L, 2L, 4L, 6L, 8L))
    assert(visibleEntries("rtas") == Seq("t"), visibleEntries("rtas"))
    assert(hiddenEntries("rtas").isEmpty, hiddenEntries("rtas"))
    // REPLACE of a missing table is an analysis error; CREATE OR REPLACE
    // of a missing table creates it
    intercept[Exception] {
      spark.sql("""REPLACE TABLE gcat.rtas.missing USING `graft-tsv`
        AS SELECT id FROM range(3)""")
    }
    spark.sql("""CREATE OR REPLACE TABLE gcat.rtas.fresh USING `graft-tsv`
      AS SELECT id FROM range(3)""")
    assert(spark.sql("SELECT count(*) FROM gcat.rtas.fresh").head().getLong(0) == 3)
  }
}
