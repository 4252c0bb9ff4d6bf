package graft

import java.nio.file.Files

import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types._

/** CHANGES FEED (generation diff) on the graft catalog
  * (`GraftTsvCatalog.changes`): the net row-level difference between two
  * retained snapshots, reconstructed from the copy-on-write file history —
  * no change log is ever written. The planning seam is
  * `diff.exclude.generation`: each side lists ONLY the part files its
  * manifest has that the other's does not, so an append's diff scans just
  * the appended files and a rewrite's diff scans the rewritten pair, never
  * the table. Correctness of the signed-diff refinement (surviving rows of a
  * rewritten file cancel), net semantics over the interval, multiplicity,
  * compaction invisibility, tag endpoints, the error surface, and the
  * plan of the signed diff: no exchange while the changed files fit under
  * the broadcast threshold, one above it (same rows either way). */
class Dsv2ChangesSpec extends SparkSuite with AdaptiveSparkPlanHelper {

  private val rootDir = Files.createTempDirectory("graft_changes").toString
  spark.conf.set("spark.sql.catalog.gchg",
    classOf[graft.sources.GraftTsvCatalog].getName)
  spark.conf.set("spark.sql.catalog.gchg.root", rootDir)
  spark.sql("CREATE NAMESPACE IF NOT EXISTS gchg.db")

  private def cat: graft.sources.GraftTsvCatalog =
    spark.sessionState.catalogManager.catalog("gchg")
      .asInstanceOf[graft.sources.GraftTsvCatalog]

  private def ident(t: String) = Identifier.of(Array("db"), t)

  /** A session whose broadcast threshold (1 B) sits below every diff's
    * changed-file bytes, so its signed diffs keep their hash exchange. */
  private lazy val shuffled = {
    val s = spark.newSession()
    s.conf.set("spark.sql.catalog.gchg",
      classOf[graft.sources.GraftTsvCatalog].getName)
    s.conf.set("spark.sql.catalog.gchg.root", rootDir)
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "1")
    s
  }

  /** The diff's shuffle exchanges in its final AQE plan. */
  private def exchanges(df: org.apache.spark.sql.DataFrame) =
    collect(df.queryExecution.executedPlan) { case e: ShuffleExchangeLike => e }

  /** (change_type, id, v) triples of changes(from, to). */
  private def diff(t: String, from: String, to: String): Seq[(String, Long, String)] =
    cat.changes(spark, ident(t), from, to)
      .collect().map(r => (r.getString(2), r.getLong(0), r.getString(1)))
      .toSeq.sorted

  test("append-only diff: inserts of exactly the appended rows") {
    spark.sql("""CREATE TABLE gchg.db.a (id BIGINT, v STRING)
      USING `graft-tsv` TBLPROPERTIES ('retain.generations' = '4')""")
    spark.sql("INSERT INTO gchg.db.a VALUES (1, 'a'), (2, 'b')") // gen 1
    spark.sql("INSERT INTO gchg.db.a VALUES (3, 'c')")           // gen 2
    assert(diff("a", "1", "2") == Seq(("insert", 3L, "c")))
    // and the planning seam proves the shared files never entered the
    // scan: gen 2 excluding gen 1 plans only the appended file's splits,
    // gen 1 excluding gen 2 plans ZERO (every gen-1 file is shared)
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType)))
    def planned(gen: Long, excl: Long): Int =
      new graft.sources.GraftTsvScanBuilder(schema,
        graft.sources.GraftTsvOptions(Map(
          "path" -> s"$rootDir/db/a", "generation" -> gen.toString,
          "diff.exclude.generation" -> excl.toString)))
        .build().asInstanceOf[org.apache.spark.sql.connector.read.Batch]
        .planInputPartitions().length
    assert(planned(2L, 1L) >= 1)
    assert(planned(1L, 2L) == 0,
      "all gen-1 files are shared with gen 2 — the diff scan must plan none")
  }

  test("delete diff: rewritten file's surviving rows cancel, removed rows surface") {
    spark.sql("""CREATE TABLE gchg.db.d (id BIGINT, v STRING)
      USING `graft-tsv` TBLPROPERTIES ('retain.generations' = '4')""")
    spark.sql(
      "INSERT INTO gchg.db.d VALUES (1, 'a'), (2, 'b'), (3, 'c')") // gen 1
    spark.sql("DELETE FROM gchg.db.d WHERE id = 2")                // gen 2
    // the copy-on-write rewrite produced a NEW file holding 1 and 3; the
    // signed diff must cancel those carried-over rows
    assert(diff("d", "1", "2") == Seq(("delete", 2L, "b")))
  }

  test("net semantics: a row inserted then deleted inside the interval is invisible") {
    spark.sql("""CREATE TABLE gchg.db.n (id BIGINT, v STRING)
      USING `graft-tsv` TBLPROPERTIES ('retain.generations' = '6')""")
    spark.sql("INSERT INTO gchg.db.n VALUES (1, 'a')")  // gen 1
    spark.sql("INSERT INTO gchg.db.n VALUES (9, 'zz')") // gen 2
    spark.sql("DELETE FROM gchg.db.n WHERE id = 9")     // gen 3
    spark.sql("INSERT INTO gchg.db.n VALUES (2, 'b')")  // gen 4
    assert(diff("n", "1", "4") == Seq(("insert", 2L, "b")))
    // the intermediate states still diff individually
    assert(diff("n", "1", "2") == Seq(("insert", 9L, "zz")))
    assert(diff("n", "2", "3") == Seq(("delete", 9L, "zz")))
  }

  test("multiplicity: exceptAll keeps duplicate-row counts honest") {
    spark.sql("""CREATE TABLE gchg.db.m (id BIGINT, v STRING)
      USING `graft-tsv` TBLPROPERTIES ('retain.generations' = '4')""")
    spark.sql("INSERT INTO gchg.db.m VALUES (1, 'a')")           // gen 1
    spark.sql("INSERT INTO gchg.db.m VALUES (1, 'a'), (1, 'a')") // gen 2
    spark.sql("INSERT INTO gchg.db.m VALUES (1, 'a')")           // gen 3
    spark.sql("DELETE FROM gchg.db.m WHERE id = 1")              // gen 4
    def rows(s: org.apache.spark.sql.SparkSession, a: Int, b: Int) =
      cat.changes(s, ident("m"), a.toString, b.toString).collect()
        .map(r => (r.getString(2), r.getLong(0), r.getString(1))).toSeq.sorted
    assert(rows(spark, 1, 2) == Seq(("insert", 1L, "a"), ("insert", 1L, "a")))
    assert(rows(spark, 1, 4) == Seq(("delete", 1L, "a")))
    assert(rows(spark, 2, 4) == Seq.fill(3)(("delete", 1L, "a")))
    for (a <- 1 to 3; b <- (a + 1) to 4)
      assert(rows(spark, a, b) == rows(shuffled, a, b), s"($a,$b)")
  }

  test("NULL-bearing rows cancel and surface exactly as exceptAll did") {
    // BIGINT columns: a NULL string field reads back as '' in the text
    // format, a NULL number stays NULL
    spark.sql("""CREATE TABLE gchg.db.z (id BIGINT, v BIGINT)
      USING `graft-tsv` TBLPROPERTIES ('retain.generations' = '6')""")
    spark.sql("INSERT INTO gchg.db.z VALUES (1, NULL), (NULL, 10), " +
      "(NULL, NULL), (NULL, NULL), (2, 20)")                    // gen 1
    // the rewrite carries every NULL-bearing row over: they must cancel
    spark.sql("DELETE FROM gchg.db.z WHERE id = 2")            // gen 2
    spark.sql("INSERT INTO gchg.db.z VALUES (NULL, NULL), (3, NULL)") // gen 3
    spark.sql("DELETE FROM gchg.db.z WHERE v = 10")            // gen 4
    def opt(r: org.apache.spark.sql.Row, i: Int) =
      Option.when(!r.isNullAt(i))(r.getLong(i))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(2), opt(r, 0), opt(r, 1))).toSeq.sorted
    def snap(g: Int) = spark.sql(s"SELECT id, v FROM gchg.db.z VERSION AS OF $g")
    for (a <- 1 to 3; b <- (a + 1) to 4) {
      val viaExceptAll = snap(b).exceptAll(snap(a))
        .withColumn("_change_type", lit("insert"))
        .unionByName(snap(a).exceptAll(snap(b))
          .withColumn("_change_type", lit("delete")))
      for (s <- Seq(spark, shuffled))
        assert(rows(cat.changes(s, ident("z"), a.toString, b.toString)) ==
          rows(viaExceptAll), s"($a,$b) ${s eq shuffled}")
    }
    assert(rows(cat.changes(spark, ident("z"), "1", "4")) == Seq(
      ("delete", None, Some(10L)), ("delete", Some(2L), Some(20L)),
      ("insert", None, None), ("insert", Some(3L), None)))
  }

  test("NaN and -0.0 rows cancel and surface exactly as exceptAll did, in both plans") {
    spark.sql("""CREATE TABLE gchg.db.x (id BIGINT, x DOUBLE)
      USING `graft-tsv` TBLPROPERTIES ('retain.generations' = '6')""")
    spark.sql("INSERT INTO gchg.db.x VALUES (1, CAST('NaN' AS DOUBLE)), " +
      "(2, -0.0), (3, 0.0), (4, 1.5), (5, CAST('NaN' AS DOUBLE))")  // gen 1
    // the rewrite carries the NaN and signed-zero rows over: they cancel
    spark.sql("DELETE FROM gchg.db.x WHERE id = 4")                 // gen 2
    spark.sql("INSERT INTO gchg.db.x VALUES (2, 0.0), " +
      "(6, CAST('NaN' AS DOUBLE))")                                 // gen 3
    spark.sql("DELETE FROM gchg.db.x WHERE id = 5 OR x = 0.0")      // gen 4
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(2), r.getLong(0), r.getDouble(1).toString))
      .toSeq.sorted
    def snap(g: Int) = spark.sql(s"SELECT id, x FROM gchg.db.x VERSION AS OF $g")
    for (a <- 1 to 3; b <- (a + 1) to 4) {
      val viaExceptAll = snap(b).exceptAll(snap(a))
        .withColumn("_change_type", lit("insert"))
        .unionByName(snap(a).exceptAll(snap(b))
          .withColumn("_change_type", lit("delete")))
      val want = rows(viaExceptAll)
      assert(rows(cat.changes(spark, ident("x"), a.toString, b.toString)) ==
        want, s"($a,$b)")
      assert(rows(cat.changes(shuffled, ident("x"), a.toString, b.toString)) ==
        want, s"($a,$b) above the bound")
    }
    assert(rows(cat.changes(spark, ident("x"), "1", "2")) ==
      Seq(("delete", 4L, "1.5")))
  }

  test("plan shape: a rewrite's diff under the broadcast threshold runs NO shuffle") {
    spark.sql("""CREATE TABLE gchg.db.s (id BIGINT, v STRING)
      USING `graft-tsv` TBLPROPERTIES ('retain.generations' = '4')""")
    spark.sql(
      "INSERT INTO gchg.db.s VALUES (1, 'a'), (2, 'b'), (3, 'c')") // gen 1
    spark.sql("DELETE FROM gchg.db.s WHERE id = 2")                // gen 2
    val df = cat.changes(spark, ident("s"), "1", "2")
    assert(df.collect().map(r => (r.getString(2), r.getLong(0))).toSeq ==
      Seq(("delete", 2L)))
    // both sides' changed files (a few bytes) fit under the threshold:
    // the signed aggregate runs in one partition, no exchange
    assert(exchanges(df).isEmpty,
      s"expected no shuffle:\n${df.queryExecution.executedPlan}")
  }

  test("plan shape: the same diff above the broadcast threshold runs ONE shuffle") {
    spark.sql("""CREATE TABLE gchg.db.s1 (id BIGINT, v STRING)
      USING `graft-tsv` TBLPROPERTIES ('retain.generations' = '4')""")
    spark.sql(
      "INSERT INTO gchg.db.s1 VALUES (1, 'a'), (2, 'b'), (3, 'c')") // gen 1
    spark.sql("DELETE FROM gchg.db.s1 WHERE id = 2")                // gen 2
    val df = cat.changes(shuffled, ident("s1"), "1", "2")
    assert(df.collect().map(r => (r.getString(2), r.getLong(0))).toSeq ==
      Seq(("delete", 2L)))
    // both sides feed one signed aggregate, so one exchange (an
    // exceptAll pair plans two)
    assert(exchanges(df).size == 1,
      s"expected one shuffle:\n${df.queryExecution.executedPlan}")
  }

  test("compaction is layout-only: diff across a compact generation is empty") {
    spark.sql("""CREATE TABLE gchg.db.c (id BIGINT, v STRING)
      USING `graft-tsv` TBLPROPERTIES ('retain.generations' = '4')""")
    spark.sql("INSERT INTO gchg.db.c VALUES (1, 'a'), (2, 'b')") // gen 1
    spark.sql("INSERT INTO gchg.db.c VALUES (3, 'c')")           // gen 2
    val res = spark.sql("CALL gchg.system.compact(`table` => 'db.c')")
      .collect().head
    assert(res.getLong(0) >= 2 && res.getLong(1) == 1, res.toString) // parts merged
    assert(diff("c", "2", "3").isEmpty,
      "compaction changed every file but no row — the diff must be empty")
    // and the pre/post-compact endpoints still diff correctly THROUGH it
    assert(diff("c", "1", "3") == Seq(("insert", 3L, "c")))
  }

  test("changesByCommit attributes each commit's delta; net diff stays the union's collapse") {
    spark.sql("""CREATE TABLE gchg.db.l (id BIGINT, v STRING)
      USING `graft-tsv` TBLPROPERTIES ('retain.generations' = '6')""")
    spark.sql("INSERT INTO gchg.db.l VALUES (1, 'a'), (2, 'b')") // gen 1
    spark.sql("INSERT INTO gchg.db.l VALUES (3, 'c')")           // gen 2
    spark.sql("DELETE FROM gchg.db.l WHERE id = 1")              // gen 3
    val log = cat.changesByCommit(spark, ident("l"), "1", "3")
      .collect()
      .map(r => (r.getLong(3), r.getString(2), r.getLong(0), r.getString(1)))
      .toSeq.sorted
    assert(log == Seq(
      (2L, "insert", 3L, "c"),
      (3L, "delete", 1L, "a")))
    // the per-commit stream collapses to the same net diff as changes()
    assert(diff("l", "1", "3") ==
      Seq(("delete", 1L, "a"), ("insert", 3L, "c")))
  }

  test("model check: every endpoint pair of a mixed insert/delete/compact history") {
    spark.sql("""CREATE TABLE gchg.db.f (id BIGINT, v STRING)
      USING `graft-tsv` TBLPROPERTIES ('retain.generations' = '12')""")
    // deterministic mixed history; snapshots[g] is the multiset after gen g
    val rnd = new scala.util.Random(42)
    var next = 0L
    var live = Vector.empty[(Long, String)]
    var snapshots = Vector(live) // index 0 unused (gen numbering is 1-based)
    def commit(sql: String, after: Vector[(Long, String)]): Unit = {
      spark.sql(sql); live = after; snapshots :+= live
    }
    (1 to 8).foreach { i =>
      rnd.nextInt(3) match {
        case 0 | 1 => // insert 2 fresh rows (dup values on purpose)
          val rows = Seq((next, s"v${next % 3}"), (next + 1, s"v${next % 3}"))
          next += 2
          commit(s"INSERT INTO gchg.db.f VALUES " +
            rows.map { case (k, s) => s"($k, '$s')" }.mkString(", "),
            live ++ rows)
        case 2 if live.nonEmpty => // delete a key range
          val cut = live(rnd.nextInt(live.size))._1
          commit(s"DELETE FROM gchg.db.f WHERE id <= $cut",
            live.filter(_._1 > cut))
        case _ =>
          commit(s"INSERT INTO gchg.db.f VALUES ($next, 'x')",
            live :+ (next, "x"))
          next += 1
      }
      if (i == 4) { // a compact mid-history must be invisible to every diff
        spark.sql("CALL gchg.system.compact(`table` => 'db.f')")
        snapshots :+= live // compact publishes a generation, content unchanged
      }
    }
    def multiset(s: Seq[(Long, String)]) = s.groupBy(identity).view.mapValues(_.size).toMap
    val nGens = snapshots.size - 1
    for (a <- 1 until nGens; b <- (a + 1) to nGens) {
      val got = cat.changes(spark, ident("f"), a.toString, b.toString)
        .collect().map(r => ((r.getLong(0), r.getString(1)), r.getString(2)))
      val inserts = multiset(got.collect { case (row, "insert") => row }.toSeq)
      val deletes = multiset(got.collect { case (row, "delete") => row }.toSeq)
      val ma = multiset(snapshots(a))
      val mb = multiset(snapshots(b))
      val expIns = mb.map { case (k, n) => k -> (n - ma.getOrElse(k, 0)) }
        .filter(_._2 > 0)
      val expDel = ma.map { case (k, n) => k -> (n - mb.getOrElse(k, 0)) }
        .filter(_._2 > 0)
      assert(inserts == expIns, s"inserts mismatch for ($a,$b)")
      assert(deletes == expDel, s"deletes mismatch for ($a,$b)")
    }
  }

  test("hive-partitioned table: diff carries partition values; leaf-local commits diff leaf-local") {
    spark.sql("""CREATE TABLE gchg.db.p (id BIGINT, day STRING)
      USING `graft-tsv` PARTITIONED BY (day)
      TBLPROPERTIES ('retain.generations' = '4')""")
    spark.sql("INSERT INTO gchg.db.p VALUES (1, 'd0'), (2, 'd1')") // gen 1
    spark.sql("INSERT INTO gchg.db.p VALUES (3, 'd1')")            // gen 2
    spark.sql("DELETE FROM gchg.db.p WHERE day = 'd0'")            // gen 3
    val got = cat.changes(spark, ident("p"), "1", "3")
      .collect().map(r => (r.getString(2), r.getLong(0), r.getString(1)))
      .toSeq.sorted
    assert(got == Seq(("delete", 1L, "d0"), ("insert", 3L, "d1")),
      got.toString)
  }

  test("ADD COLUMN between the endpoints: both sides diff under the current schema") {
    spark.sql("""CREATE TABLE gchg.db.e (id BIGINT, v STRING)
      USING `graft-tsv` TBLPROPERTIES ('retain.generations' = '4')""")
    spark.sql("INSERT INTO gchg.db.e VALUES (1, 'a')")            // gen 1
    spark.sql("ALTER TABLE gchg.db.e ADD COLUMN score DOUBLE")
    spark.sql("INSERT INTO gchg.db.e VALUES (2, 'b', 0.5)")       // gen 2
    val got = cat.changes(spark, ident("e"), "1", "2")
      .collect().map(r => (r.getString(3), r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) null else r.getDouble(2))).toSeq
    // gen-1 files never rescan (shared); only the new row surfaces, with
    // the evolved column populated — and the widened schema applies to
    // BOTH sides, so the union is well-typed
    assert(got == Seq(("insert", 2L, "b", 0.5)), got.toString)
  }

  test("tag endpoints resolve; error surface names what exists") {
    spark.sql("""CREATE TABLE gchg.db.t (id BIGINT, v STRING)
      USING `graft-tsv` TBLPROPERTIES ('retain.generations' = '4')""")
    spark.sql("INSERT INTO gchg.db.t VALUES (1, 'a')") // gen 1
    spark.sql("CALL gchg.system.tag(`table` => 'db.t', tag => 'base', " +
      "generation => 1)")
    spark.sql("INSERT INTO gchg.db.t VALUES (2, 'b')") // gen 2
    assert(diff("t", "base", "2") == Seq(("insert", 2L, "b")))
    val badTag = intercept[IllegalArgumentException](
      cat.changes(spark, ident("t"), "nope", "2"))
    assert(badTag.getMessage.contains("neither a generation number nor a tag")
      && badTag.getMessage.contains("base"), badTag.getMessage)
    val badOrder = intercept[IllegalArgumentException](
      cat.changes(spark, ident("t"), "2", "1"))
    assert(badOrder.getMessage.contains("from < to"), badOrder.getMessage)
    // an endpoint outside the retained window fails at scan planning,
    // naming the retained generations and the widening knob
    val missing = intercept[Exception](
      cat.changes(spark, ident("t"), "1", "99").collect())
    assert(missing.getMessage.contains("not available") ||
      missing.getMessage.contains("retained"), missing.getMessage)
  }
}
