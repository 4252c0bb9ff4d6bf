package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Generation time travel on graft-tsv: commit cleanup retains the newest
  * `retain.generations` superseded manifests (floor 1 = the concurrent-
  * reader safety minimum), a pinned `generation` read option resolves any
  * retained manifest, and the catalog surfaces it as SQL VERSION AS OF —
  * reproducible snapshots of a mutating table without copying data. */
class Dsv2TimeTravelSpec extends SparkSuite {

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("v", StringType)))

  private def tmp() = Files.createTempDirectory("graft_tt").toString

  private def write(out: String, rows: Seq[(Long, String)],
      mode: String = "append", retain: Option[Int] = None): Unit = {
    val s = spark
    import s.implicits._
    val w = rows.toDF("id", "v").coalesce(1).write.format("graft-tsv").mode(mode)
    retain.fold(w)(r => w.option("retain.generations", r.toString)).save(out)
  }

  private def readGen(out: String, gen: Option[Long]): Set[(Long, String)] = {
    val r = spark.read.format("graft-tsv").schema(schema)
    gen.fold(r)(g => r.option("generation", g.toString)).load(out)
      .collect().map(row => (row.getLong(0), row.getString(1))).toSet
  }

  test("default retention keeps exactly the just-superseded generation") {
    val out = tmp()
    write(out, Seq((1L, "a")))           // gen 1
    write(out, Seq((2L, "b")))           // gen 2; gen 1 retained
    assert(readGen(out, Some(1L)) == Set((1L, "a")))
    assert(readGen(out, Some(2L)) == Set((1L, "a"), (2L, "b")))
    assert(readGen(out, None) == Set((1L, "a"), (2L, "b")))
    write(out, Seq((3L, "c")))           // gen 3; gen 1 reclaimed
    assert(readGen(out, Some(2L)) == Set((1L, "a"), (2L, "b")))
    val e = intercept[Exception](readGen(out, Some(1L)))
    assert(e.getMessage.contains("not available") &&
      e.getMessage.contains("retain.generations"), e.getMessage)
  }

  test("deeper retention keeps a readable history across appends AND overwrites") {
    val out = tmp()
    write(out, Seq((1L, "a")), retain = Some(3))                // gen 1
    write(out, Seq((2L, "b")), retain = Some(3))                // gen 2
    write(out, Seq((9L, "z")), mode = "overwrite", retain = Some(3)) // gen 3
    // the overwrite truncated the VISIBLE set, but retained generations
    // still resolve their own manifests — including the parts the
    // overwrite superseded
    assert(readGen(out, Some(1L)) == Set((1L, "a")))
    assert(readGen(out, Some(2L)) == Set((1L, "a"), (2L, "b")))
    assert(readGen(out, Some(3L)) == Set((9L, "z")))
    assert(readGen(out, None) == Set((9L, "z")))
  }

  test("a retention-window slide reclaims the oldest generation's exclusive files only") {
    val out = tmp()
    write(out, Seq((1L, "a")), retain = Some(2))  // gen 1
    write(out, Seq((2L, "b")), retain = Some(2))  // gen 2
    write(out, Seq((3L, "c")), retain = Some(2))  // gen 3: window keeps gens 1,2
    write(out, Seq((4L, "d")), retain = Some(2))  // gen 4: window slides, gen 1 reclaimed
    assert(readGen(out, Some(2L)) == Set((1L, "a"), (2L, "b")),
      "gen 2 still references gen-1-era parts; retention must keep shared files")
    assert(readGen(out, Some(3L)) == Set((1L, "a"), (2L, "b"), (3L, "c")))
    val e = intercept[Exception](readGen(out, Some(1L)))
    assert(e.getMessage.contains("not available"), e.getMessage)
    // shared part files survive as long as ANY retained manifest lists
    // them — only manifests fell out of the window, no data loss above
  }

  test("generation pin on a plain directory (no manifest history) fails loud") {
    val out = tmp()
    val s = spark
    import s.implicits._
    // bare CSV-ish file, no commit protocol
    Seq((1L, "a")).toDF("id", "v").coalesce(1)
      .write.option("sep", "\t").mode("overwrite").csv(out)
    val e = intercept[Exception](readGen(out, Some(1L)))
    assert(e.getMessage.contains("no generation manifests"), e.getMessage)
  }

  test("TIMESTAMP AS OF resolves the generation visible at that instant") {
    val s = spark
    import s.implicits._
    val rootDir = Files.createTempDirectory("graft_tt_ts").toString
    s.conf.set("spark.sql.catalog.gts",
      classOf[graft.sources.GraftTsvCatalog].getName)
    s.conf.set("spark.sql.catalog.gts.root", rootDir)
    s.sql("CREATE NAMESPACE gts.db")
    s.sql("""CREATE TABLE gts.db.t (id BIGINT, v STRING) USING `graft-tsv`
      TBLPROPERTIES ('retain.generations' = '3')""")
    def fmt(ms: Long) = java.time.Instant.ofEpochMilli(ms).toString
      .replace("T", " ").replace("Z", "")
    val before = System.currentTimeMillis() - 5
    Seq((1L, "a")).toDF("id", "v").writeTo("gts.db.t").append()    // gen 1
    Thread.sleep(30)
    val between = System.currentTimeMillis()
    Thread.sleep(30)
    Seq((2L, "b")).toDF("id", "v").writeTo("gts.db.t").append()    // gen 2
    val after = System.currentTimeMillis() + 5
    def q(ts: Long) = s.sql(
      s"SELECT * FROM gts.db.t TIMESTAMP AS OF '${fmt(ts)}'")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(q(between) == Set((1L, "a")),
      "an instant between the commits must see generation 1 only")
    assert(q(after) == Set((1L, "a"), (2L, "b")))
    val e = intercept[Exception](q(before))
    assert(e.getMessage.contains("before the oldest RETAINED"), e.getMessage)
  }

  test("manifests carry the #published instant; resolution prefers it over mtime") {
    val s = spark
    import s.implicits._
    val rootDir = Files.createTempDirectory("graft_tt_pub").toString
    s.conf.set("spark.sql.catalog.gpub",
      classOf[graft.sources.GraftTsvCatalog].getName)
    s.conf.set("spark.sql.catalog.gpub.root", rootDir)
    s.sql("CREATE NAMESPACE gpub.db")
    s.sql("CREATE TABLE gpub.db.t (id BIGINT, v STRING) USING `graft-tsv`")
    val t0 = System.currentTimeMillis()
    Seq((1L, "a")).toDF("id", "v").writeTo("gpub.db.t").append()
    val t1 = System.currentTimeMillis()
    val fs = new org.apache.hadoop.fs.Path(rootDir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val gen = new org.apache.hadoop.fs.Path(s"$rootDir/db/t/_gen-0000000001")
    val published = graft.sources.GraftTsvManifest.publishedOf(fs, gen)
    assert(published.isDefined, "new manifests must carry #published")
    assert(published.get >= t0 && published.get <= t1,
      s"publish instant $published outside [$t0, $t1]")
    // the marker rides history() too (same resolution path)
    val hist = graft.sources.GraftTsvCatalog
      .history(s, s"$rootDir/db/t").collect()
    assert(hist.length == 1 && hist.head.getLong(1) == published.get)
  }

  test("property: random append/overwrite/delete history matches a tracked model per generation") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(20260813L)
    // 3 randomized histories; each: 5-7 commits of random ops, retention 3.
    // After the history, EVERY retained generation must read back exactly
    // the model's snapshot at that commit — the invariant that makes
    // time travel trustworthy under arbitrary mutation interleavings.
    (1 to 3).foreach { trial =>
      val out = tmp()
      var nextId = 0L
      var snapshots = Vector.empty[Set[(Long, String)]] // index g-1 = gen g
      var current = Set.empty[(Long, String)]
      val nCommits = 5 + rnd.nextInt(3)
      while (snapshots.size < nCommits) {
        val didCommit = rnd.nextInt(4) match {
          case 0 | 1 => // append 1-4 fresh rows
            val rows = (0 until 1 + rnd.nextInt(4)).map { _ =>
              nextId += 1; (nextId, s"v$nextId")
            }
            write(out, rows, retain = Some(3))
            current = current ++ rows
            true
          case 2 => // overwrite with 1-3 fresh rows
            val rows = (0 until 1 + rnd.nextInt(3)).map { _ =>
              nextId += 1; (nextId, s"o$nextId")
            }
            write(out, rows, mode = "overwrite", retain = Some(3))
            current = rows.toSet
            true
          case 3 if current.nonEmpty =>
            // delete a key-range slice that provably hits >= 1 row (a
            // no-match delete publishes no generation, which the model
            // does not track — guaranteed-hit keeps gen counting aligned)
            val cutoff = current.map(_._1).min + 1
            graft.sources.GraftTsvDelete.deleteWhere(schema,
              graft.sources.GraftTsvOptions(
                Map("path" -> out, "retain.generations" -> "3")),
              Array(org.apache.spark.sql.sources.LessThan("id", cutoff)))
            current = current.filterNot(_._1 < cutoff)
            true
          case _ => false // delete drawn on an empty table: no commit, redraw
        }
        if (didCommit) snapshots = snapshots :+ current
      }
      val newest = snapshots.size.toLong
      val oldestRetained = math.max(1L, newest - 3 + 1)
      (oldestRetained to newest).foreach { g =>
        assert(readGen(out, Some(g)) == snapshots((g - 1).toInt),
          s"trial $trial: generation $g diverged from the model")
      }
      assert(readGen(out, None) == current, s"trial $trial: latest diverged")
      if (oldestRetained > 1L)
        assert(intercept[Exception](readGen(out, Some(1L)))
          .getMessage.contains("not available"), s"trial $trial: gen 1 should be gone")
    }
  }

  test("history() lists retained generations with publish time and footprint") {
    val out = tmp()
    write(out, Seq((1L, "a"), (2L, "b")), retain = Some(3))   // gen 1
    write(out, Seq((3L, "c")), retain = Some(3))              // gen 2
    write(out, Seq((9L, "z")), mode = "overwrite", retain = Some(3)) // gen 3
    val h = graft.sources.GraftTsvCatalog.history(spark, out)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(h.map(_._1).toSeq == Seq(1L, 2L, 3L), s"history: ${h.toSeq}")
    // publish instants are monotone with generation numbers
    assert(h.sliding(2).forall { case Array(a, b) => a._2 <= b._2 })
    // footprint: gen 1 = one file of 2 rows, gen 2 = two files of 3 rows
    // total, gen 3 (overwrite) = one file of 1 row
    assert(h.map(x => (x._3, x._4)).toSeq == Seq((1L, 2L), (2L, 3L), (1L, 1L)),
      s"files/rows: ${h.toSeq}")
    // empty / nonexistent path: empty history, no error
    assert(graft.sources.GraftTsvCatalog.history(spark, out + "-nope").count() == 0)
  }

  test("streaming epochs publish retained generations readable by pin, with epoch ids in history") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val root = tmp()
    val out = s"$root/out"
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val q = input.toDF().toDF("id", "v")
      .writeStream.format("graft-tsv")
      .option("path", out)
      .option("checkpointLocation", s"$root/ckpt")
      .option("retain.generations", "3")
      .outputMode("append").start()
    try {
      input.addData((1L, "a")); q.processAllAvailable()   // epoch 0 → gen 1
      input.addData((2L, "b")); q.processAllAvailable()   // epoch 1 → gen 2
    } finally q.stop()
    // each micro-batch is one generation; the pin sees the table as it
    // stood after that epoch's atomic swap
    assert(readGen(out, Some(1L)) == Set((1L, "a")))
    assert(readGen(out, Some(2L)) == Set((1L, "a"), (2L, "b")))
    val h = graft.sources.GraftTsvCatalog.history(spark, out)
      .collect().map(r => (r.getLong(0), r.getLong(4)))
    assert(h.toSeq == Seq((1L, 0L), (2L, 1L)),
      s"history must carry the replay-idempotence epoch ids: ${h.toSeq}")
  }

  test("catalog time travel: TBLPROPERTIES retention, VERSION AS OF, ALTER SET") {
    val s = spark
    import s.implicits._
    val rootDir = Files.createTempDirectory("graft_tt_cat").toString
    s.conf.set("spark.sql.catalog.gtt",
      classOf[graft.sources.GraftTsvCatalog].getName)
    s.conf.set("spark.sql.catalog.gtt.root", rootDir)
    s.sql("CREATE NAMESPACE gtt.db")
    s.sql("""CREATE TABLE gtt.db.t (id BIGINT, v STRING) USING `graft-tsv`
      TBLPROPERTIES ('retain.generations' = '3')""")
    Seq((1L, "a")).toDF("id", "v").writeTo("gtt.db.t").append()      // gen 1
    Seq((2L, "b")).toDF("id", "v").writeTo("gtt.db.t").append()      // gen 2
    s.sql("INSERT OVERWRITE gtt.db.t VALUES (9, 'z')")               // gen 3
    def q(sql: String) = s.sql(sql).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(q("SELECT * FROM gtt.db.t") == Set((9L, "z")))
    assert(q("SELECT * FROM gtt.db.t VERSION AS OF 1") == Set((1L, "a")))
    assert(q("SELECT * FROM gtt.db.t VERSION AS OF 2") == Set((1L, "a"), (2L, "b")))
    assert(q("SELECT * FROM gtt.db.t VERSION AS OF 3") == Set((9L, "z")))
    // non-numeric version = a tag lookup (Dsv2TagSpec): with no tags
    // defined it fails loudly naming the (empty) tag set
    val e1 = intercept[Exception](s.sql("SELECT * FROM gtt.db.t VERSION AS OF 'x'"))
    assert(e1.getMessage.contains("no such tag") &&
      e1.getMessage.contains("none"), e1.getMessage)
    val e2 = intercept[Exception](
      s.sql("ALTER TABLE gtt.db.t SET TBLPROPERTIES ('nope' = '1')"))
    assert(e2.getMessage.contains("unsupported table property"), e2.getMessage)
    val e3 = intercept[Exception](
      s.sql("ALTER TABLE gtt.db.t SET TBLPROPERTIES ('retain.generations' = '0')"))
    assert(e3.getMessage.contains(">= 1"), e3.getMessage)
    // narrowing retention via DDL takes effect on the NEXT commit
    s.sql("ALTER TABLE gtt.db.t SET TBLPROPERTIES ('retain.generations' = '1')")
    Seq((4L, "d")).toDF("id", "v").writeTo("gtt.db.t").append()      // gen 4
    assert(q("SELECT * FROM gtt.db.t VERSION AS OF 3") == Set((9L, "z")))
    val e4 = intercept[Exception](q("SELECT * FROM gtt.db.t VERSION AS OF 1"))
    assert(e4.getMessage.contains("not available"), e4.getMessage)
  }

  test("an out-of-range retain.generations fails with one message through DDL, path table and write") {
    val s = spark
    import s.implicits._
    val rootDir = Files.createTempDirectory("graft_tt_retain").toString
    s.conf.set("spark.sql.catalog.gttr", classOf[graft.sources.GraftTsvCatalog].getName)
    s.conf.set("spark.sql.catalog.gttr.root", rootDir)
    s.sql("CREATE NAMESPACE gttr.db")
    s.sql("CREATE TABLE gttr.db.t (id BIGINT, v STRING) USING `graft-tsv`")
    val df = Seq((1L, "a")).toDF("id", "v")
    val viaDdl = intercept[IllegalArgumentException](s.sql(
      """CREATE TABLE gttr.db.bad (id BIGINT) USING `graft-tsv`
        TBLPROPERTIES ('retain.generations' = '0')"""))
    val viaPath = intercept[IllegalArgumentException](
      df.write.format("graft-tsv").option("retain.generations", "0")
        .mode("append").save(tmp()))
    val viaWrite = intercept[IllegalArgumentException](
      df.writeTo("gttr.db.t").option("retain.generations", "0").append())
    val msgs = Seq(viaDdl, viaPath, viaWrite).map(_.getMessage)
    assert(msgs.distinct.size == 1 && msgs.head.contains("retain.generations"),
      msgs.mkString("\n"))
  }

  test("a per-write retain.generations beats the table's TBLPROPERTIES value") {
    val s = spark
    import s.implicits._
    val rootDir = Files.createTempDirectory("graft_tt_retain_win").toString
    s.conf.set("spark.sql.catalog.gttw", classOf[graft.sources.GraftTsvCatalog].getName)
    s.conf.set("spark.sql.catalog.gttw.root", rootDir)
    s.sql("CREATE NAMESPACE gttw.db")
    s.sql("""CREATE TABLE gttw.db.t (id BIGINT, v STRING) USING `graft-tsv`
      TBLPROPERTIES ('retain.generations' = '1')""")
    (1L to 3L).foreach { i =>
      Seq((i, "x")).toDF("id", "v").writeTo("gttw.db.t")
        .option("retain.generations", "3").append()                  // gen i
    }
    // the table alone (retain 1) would have reclaimed generation 1 at gen 3
    assert(s.sql("SELECT id FROM gttw.db.t VERSION AS OF 1").collect()
      .map(_.getLong(0)).toSeq == Seq(1L))
  }
}
