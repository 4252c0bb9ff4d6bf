package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Write path of the graft-tsv DSv2 connector (read path: Dsv2SourceSpec;
  * value parity of the full write→read→agg loop: q_dsv2_sink).
  * Contracts proved here:
  *  - distributed write → connector read round-trips values and NULLs;
  *  - overwrite truncates the previous generation, append adds to it,
  *    and part names are job-unique so append never collides;
  *  - only committed output is visible: no staging files survive a
  *    successful job, and the read path ignores dot/underscore names by
  *    construction;
  *  - the no-embedded-delimiter contract is ENFORCED at write time (a
  *    tab inside a value fails the job instead of corrupting framing).
  */
class Dsv2SinkSpec extends SparkSuite {

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("name", StringType),
    StructField("score", DoubleType),
    StructField("day", DateType)))

  private def mkDf(n: Int, tag: String) = {
    import spark.implicits._
    spark.range(n).select(
      col("id"),
      concat(lit(tag), col("id")).as("name"),
      when(col("id") === 3, lit(null)).otherwise(col("id") * 1.5).as("score"),
      lit("2024-03-05").cast("date").as("day"))
  }

  private def freshDir(): String = {
    val d = Files.createTempDirectory("graft_dsv2_sink").toFile
    d.deleteOnExit()
    new java.io.File(d, "out").getAbsolutePath
  }

  test("write then read round-trips values and NULLs") {
    val dir = freshDir()
    mkDf(50, "n").repartition(4)
      .write.format("graft-tsv").mode("overwrite").save(dir)
    val back = spark.read.format("graft-tsv").schema(schema).load(dir)
    assert(back.count() == 50)
    assert(back.filter(col("score").isNull).select("id").collect()
      .map(_.getLong(0)).toSeq === Seq(3L))
    assert(back.collect().map(_.toString).sorted.toSeq ===
      mkDf(50, "n").collect().map(_.toString).sorted.toSeq)
  }

  test("overwrite truncates, append accumulates without name collisions") {
    val dir = freshDir()
    mkDf(10, "a").write.format("graft-tsv").mode("overwrite").save(dir)
    mkDf(10, "a").write.format("graft-tsv").mode("overwrite").save(dir)
    val read = () => spark.read.format("graft-tsv").schema(schema).load(dir)
    assert(read().count() == 10, "overwrite must replace, not accumulate")
    mkDf(7, "b").write.format("graft-tsv").mode("append").save(dir)
    assert(read().count() == 17)
    assert(read().filter(col("name").startsWith("b")).count() == 7)
  }

  test("a successful job leaves only visible parts and _SUCCESS") {
    val dir = freshDir()
    mkDf(20, "v").repartition(3)
      .write.format("graft-tsv").mode("overwrite").save(dir)
    val names = new java.io.File(dir).listFiles().map(_.getName)
    assert(names.count(_.startsWith(".staging-")) == 0,
      s"staging leak: ${names.mkString(",")}")
    assert(names.contains("_SUCCESS"))
    assert(names.count(n => n.startsWith("part-") && n.endsWith(".tsv")) > 0)
  }

  test("a value containing the delimiter fails the write, not the framing") {
    val dir = freshDir()
    import spark.implicits._
    val bad = Seq((1L, "has\ttab", 1.0, java.sql.Date.valueOf("2024-03-05")))
      .toDF("id", "name", "score", "day")
    val e = intercept[Exception] {
      bad.write.format("graft-tsv").mode("overwrite").save(dir)
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(c =>
      Option(c.getMessage).exists(_.contains("contains the delimiter"))), e.toString)
    // failed job published nothing
    val f = new java.io.File(dir)
    assert(!f.exists() || f.listFiles().forall(x =>
      !(x.getName.startsWith("part-") || x.getName == "_SUCCESS")))
  }

  test("speculative duplicate attempt: only the committed attempt publishes") {
    // drive the write API directly — the seam Spark's speculation uses:
    // two attempts of the SAME partition write different staging files;
    // the driver's commit receives only the winner's message, the
    // loser's abort() runs. Exactly-once means the loser's rows never
    // become visible and its staging file is gone.
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.unsafe.types.UTF8String
    val dir = freshDir()
    val s = StructType(Seq(StructField("id", LongType),
      StructField("name", StringType)))
    val info = new org.apache.spark.sql.connector.write.LogicalWriteInfo {
      override def queryId(): String = "specjob"
      override def schema(): StructType = s
      override def options() =
        new org.apache.spark.sql.util.CaseInsensitiveStringMap(
          java.util.Collections.emptyMap())
    }
    val write = new graft.sources.GraftTsvWriteBuilder(s,
      graft.sources.GraftTsvOptions(Map("path" -> dir)), info)
      .build().toBatch
    val factory = write.createBatchWriterFactory(null)
    def row(id: Long, name: String) =
      InternalRow(id, UTF8String.fromString(name))
    val winner = factory.createWriter(0, 1L)
    winner.write(row(1, "winner"))
    val winnerMsg = winner.commit()
    val loser = factory.createWriter(0, 2L) // speculative twin
    loser.write(row(2, "loser"))
    loser.abort() // killed by the scheduler after the winner committed
    write.commit(Array(winnerMsg))
    val back = spark.read.format("graft-tsv").schema(s).load(dir).collect()
    assert(back.map(_.getString(1)).toSeq === Seq("winner"))
    val names = new java.io.File(dir).listFiles().map(_.getName)
    assert(!names.exists(_.startsWith(".staging-")),
      s"loser's staging must be cleaned: ${names.mkString(",")}")
  }

  test("overwrite visibility is atomic: every crash state is a complete generation") {
    // walk the commit protocol's observable directory states by hand and
    // assert each one READS as exactly one complete generation — never
    // empty, never a mix of generations. This is the guarantee the _gen
    // manifest swap exists for: visibility flips on ONE rename.
    val s = StructType(Seq(StructField("id", LongType)))
    val dir = new java.io.File(freshDir()); dir.mkdirs()
    def put(name: String, lines: String*): Unit = {
      val w = new java.io.PrintWriter(new java.io.File(dir, name), "UTF-8")
      lines.foreach(w.println); w.close()
    }
    def readIds(): Seq[Long] = spark.read.format("graft-tsv").schema(s)
      .load(dir.getAbsolutePath).collect().map(_.getLong(0)).sorted.toSeq

    // generation 1 published: part-old visible
    put("part-old-00000.tsv", "1", "2")
    put("_gen-0000000001", "part-old-00000.tsv")
    assert(readIds() === Seq(1L, 2L))
    // crash state: new job staged its file — invisible (dot name)
    put(".staging-job2-0-1-abc", "10", "11")
    assert(readIds() === Seq(1L, 2L))
    // crash state: new parts renamed in but manifest NOT yet swapped —
    // visible-style NAME, still unreferenced, still invisible
    put("part-new-00000.tsv", "10", "11")
    assert(readIds() === Seq(1L, 2L), "unreferenced part must stay invisible")
    // the swap: one file appears and the table flips to the new
    // generation, old parts still on disk but superseded
    put("_gen-0000000002", "part-new-00000.tsv")
    assert(readIds() === Seq(10L, 11L), "highest generation wins")
    // the NEXT real overwrite cleans older generations but RETAINS the
    // one it just superseded (gen 2 + part-new) — a reader that resolved
    // gen 2 moments before this commit must still be able to open it
    mkDf(3, "z").write.format("graft-tsv").mode("overwrite")
      .save(dir.getAbsolutePath)
    val names = dir.listFiles().map(_.getName).toSeq
    assert(names.count(_.startsWith("_gen-")) == 2,
      s"superseded + current manifests retained: $names")
    assert(!names.contains("part-old-00000.tsv"),
      s"generations older than the superseded one swept: $names")
    assert(names.contains("part-new-00000.tsv"),
      s"the just-superseded generation is retained for in-flight readers: $names")
    assert(!names.exists(_.startsWith(".staging-")), s"orphan staging swept: $names")
    val back = spark.read.format("graft-tsv").schema(schema)
      .load(dir.getAbsolutePath)
    assert(back.count() == 3)
    // ...and the commit after next retires it
    mkDf(2, "w").write.format("graft-tsv").mode("overwrite")
      .save(dir.getAbsolutePath)
    val names2 = dir.listFiles().map(_.getName).toSeq
    assert(!names2.contains("part-new-00000.tsv"),
      s"retention is one generation deep: $names2")
  }

  test("adoption and cleanup never touch files outside the table's scope") {
    // a pre-existing plain directory with a STRAY SUBDIRECTORY: the first
    // commit adopts only reader-visible files (root level for an
    // unpartitioned table) — adopting backup/old.tsv would make every
    // later read fail its manifest check (the reader never lists it),
    // and cleanup deleting it would destroy data this sink never owned
    val dir = new java.io.File(freshDir()); dir.mkdirs()
    val w1 = new java.io.PrintWriter(new java.io.File(dir, "legacy.tsv"), "UTF-8")
    w1.println("7\tlegacy"); w1.close()
    val sub = new java.io.File(dir, "backup"); sub.mkdirs()
    val w2 = new java.io.PrintWriter(new java.io.File(sub, "old.tsv"), "UTF-8")
    w2.println("8\tforeign"); w2.close()
    val s = StructType(Seq(StructField("id", LongType),
      StructField("name", StringType)))
    import spark.implicits._
    Seq((1L, "new")).toDF("id", "name").write.format("graft-tsv")
      .mode("append").save(dir.getAbsolutePath)
    // table reads: legacy root file adopted + appended row; stays readable
    val back = spark.read.format("graft-tsv").schema(s)
      .load(dir.getAbsolutePath).collect().map(_.getLong(0)).sorted.toSeq
    assert(back === Seq(1L, 7L))
    // the foreign subdirectory file survived both adoption and cleanup
    assert(new java.io.File(sub, "old.tsv").exists(),
      "cleanup must not delete files outside the table's partition scope")
  }

  test("a manifest referencing a missing part fails loudly, not silently short") {
    val dir = new java.io.File(freshDir()); dir.mkdirs()
    val w = new java.io.PrintWriter(new java.io.File(dir, "_gen-0000000001"), "UTF-8")
    w.println("part-ghost-00000.tsv"); w.close()
    val s = StructType(Seq(StructField("id", LongType)))
    val e = intercept[Exception] {
      spark.read.format("graft-tsv").schema(s).load(dir.getAbsolutePath).collect()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(c => Option(c.getMessage)
      .exists(_.contains("references missing part"))), e.toString)
  }

  test("single-data-column NULL/empty rows round-trip (no empty-line loss)") {
    // the writer serializes a row whose ONLY data column is NULL or
    // empty-string as an empty LINE; the reader must treat such lines as
    // rows (they are writer-produced), not skip them as garbage —
    // skipping was silent round-trip data loss through the connector's
    // own sink. Multi-column tables keep ignoring empty lines (a real
    // row there always carries delimiters).
    import spark.implicits._
    val dir = freshDir()
    val s = StructType(Seq(StructField("v", StringType)))
    Seq(Some("a"), None, Some(""), Some("b")).toDF("v")
      .coalesce(1).write.format("graft-tsv").mode("overwrite").save(dir)
    val back = spark.read.format("graft-tsv").schema(s).load(dir)
    assert(back.count() == 4, "pushed COUNT(*) must count empty-line rows")
    val vals = back.collect().map(r => if (r.isNullAt(0)) null else r.getString(0))
    assert(vals.length == 4, "the row path must emit empty-line rows")
    // text convention: NULL and "" both serialize to an empty field and
    // read back as "" for strings (the documented lossy string case)
    assert(vals.sorted.toSeq === Seq("", "", "a", "b"))

    val dir2 = freshDir()
    val s2 = StructType(Seq(StructField("x", LongType)))
    Seq[Option[Long]](Some(1L), None, Some(3L)).toDF("x")
      .coalesce(1).write.format("graft-tsv").mode("overwrite").save(dir2)
    val b2 = spark.read.format("graft-tsv").schema(s2).load(dir2).collect()
    assert(b2.length == 3)
    assert(b2.count(_.isNullAt(0)) == 1, "a NULL long row must round-trip as NULL")
    assert(b2.filterNot(_.isNullAt(0)).map(_.getLong(0)).sorted.toSeq === Seq(1L, 3L))
  }

  test("a crashed publish's orphan targets are replaced on replay, not wedged") {
    // crash window: a previous attempt renamed its parts to their
    // visible-style names but died before the _gen swap. The replay uses
    // the SAME label and indices, so its rename targets already exist;
    // on HDFS/object stores rename-onto-existing returns false and the
    // job would wedge permanently. The commit must delete unreferenced
    // orphans at its target names first — and the result must be the
    // replay's data, never the crashed attempt's.
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.unsafe.types.UTF8String
    val dir = freshDir()
    val s = StructType(Seq(StructField("id", LongType),
      StructField("name", StringType)))
    def mkWrite(qid: String) = {
      val info = new org.apache.spark.sql.connector.write.LogicalWriteInfo {
        override def queryId(): String = qid
        override def schema(): StructType = s
        override def options() =
          new org.apache.spark.sql.util.CaseInsensitiveStringMap(
            java.util.Collections.emptyMap())
      }
      new graft.sources.GraftTsvWriteBuilder(s,
        graft.sources.GraftTsvOptions(Map("path" -> dir)), info).build().toBatch
    }
    def commitOne(qid: String, id: Long, name: String): Unit = {
      val write = mkWrite(qid)
      val w = write.createBatchWriterFactory(null).createWriter(0, 1L)
      w.write(InternalRow(id, UTF8String.fromString(name)))
      write.commit(Array(w.commit()))
    }
    commitOne("basejob", 7L, "base") // a published generation exists
    // the crashed attempt's orphan, at exactly the replay's target name
    val w = new java.io.PrintWriter(
      new java.io.File(dir, "part-orphjob0-00000.tsv"), "UTF-8")
    w.println("999\tstale"); w.close()
    commitOne("orphjob0", 1L, "fresh") // the replay
    val back = spark.read.format("graft-tsv").schema(s).load(dir)
      .collect().map(_.getString(1)).sorted.toSeq
    assert(back === Seq("base", "fresh"),
      s"replay must replace the orphan, never surface stale data: $back")
  }

  test("empty partitions produce no empty part files") {
    val dir = freshDir()
    mkDf(2, "e").repartition(8)
      .write.format("graft-tsv").mode("overwrite").save(dir)
    val parts = new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith("part-")).toSeq
    assert(parts.size <= 2, s"expected <=2 non-empty parts, got ${parts.size}")
    assert(parts.forall(_.length > 0))
  }
}
