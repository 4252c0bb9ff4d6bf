package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** Micro-batch streaming seam of the graft-tsv connector
  * (GraftTsvMicroBatchStream): file-arrival batches over a directory with
  * integer file-count offsets. Proves:
  *  - incremental delivery: files written between starts are picked up by
  *    the next run, already-processed ones are not re-read (offsets resume
  *    from the checkpoint);
  *  - transforms over the stream produce batch-identical results (the
  *    micro-batches run through the same reader factory as a batch scan);
  *  - the monotonic-name contract is enforced, not assumed: a file that
  *    sorts below the processed high-water mark fails the stream with a
  *    named error instead of being silently skipped.
  */
class Dsv2StreamSpec extends SparkSuite {

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("v", StringType)))

  private def writeFile(dir: String, name: String, rows: Range): Unit = {
    val w = new java.io.PrintWriter(new java.io.File(dir, name), "UTF-8")
    rows.foreach(i => w.println(s"$i\tv$i"))
    w.close()
  }

  // file sink (not memory): the memory sink refuses checkpoint RECOVERY,
  // and resuming from the committed offset is exactly what's under test
  private def runAvailableNow(dir: String, ckpt: String, outDir: String): Unit = {
    val q = spark.readStream.format("graft-tsv").schema(schema).load(dir)
      .filter(col("id") % 2 === 0)
      .writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", ckpt)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    q.stop()
  }

  test("file-arrival micro-batches: incremental, resumable, batch-identical") {
    val root = Files.createTempDirectory("graft_dsv2_stream").toFile
    root.deleteOnExit()
    val dir = new java.io.File(root, "in"); dir.mkdirs()
    val ckpt = new java.io.File(root, "ckpt").getAbsolutePath
    val out = new java.io.File(root, "out").getAbsolutePath
    writeFile(dir.getAbsolutePath, "f-000.tsv", 0 until 10)
    writeFile(dir.getAbsolutePath, "f-001.tsv", 10 until 20)
    runAvailableNow(dir.getAbsolutePath, ckpt, out)
    assert(spark.read.parquet(out).collect().map(_.getLong(0)).sorted.toSeq ===
      (0 until 20 by 2).map(_.toLong))

    // second generation arrives; the resumed run must deliver ONLY it —
    // a re-read of f-000/f-001 would surface as duplicate rows in the sink
    writeFile(dir.getAbsolutePath, "f-002.tsv", 20 until 30)
    runAvailableNow(dir.getAbsolutePath, ckpt, out)
    val all = spark.read.parquet(out).collect().map(_.getLong(0)).sorted
    assert(all.toSeq === (0 until 30 by 2).map(_.toLong),
      s"resumed stream re-read processed files: ${all.mkString(",")}")
  }

  test("streaming WRITE: graft-tsv → graft-tsv end-to-end, exactly once across resumes") {
    // the full loop on the connector's own seams: stream-read a TSV
    // directory, stream-write a TSV directory — each epoch publishes a
    // generation through the same manifest swap as a batch commit
    val root = Files.createTempDirectory("graft_dsv2_swrite").toFile
    root.deleteOnExit()
    val dir = new java.io.File(root, "in"); dir.mkdirs()
    val ckpt = new java.io.File(root, "ckpt").getAbsolutePath
    val out = new java.io.File(root, "out").getAbsolutePath
    def run(): Unit = {
      val q = spark.readStream.format("graft-tsv").schema(schema).load(dir.getAbsolutePath)
        .filter(col("id") % 2 === 0)
        .writeStream.format("graft-tsv").option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(); q.stop()
    }
    writeFile(dir.getAbsolutePath, "g-000.tsv", 0 until 10)
    run()
    def readOut(): Seq[Long] = spark.read.format("graft-tsv").schema(schema)
      .load(out).collect().map(_.getLong(0)).sorted.toSeq
    assert(readOut() === (0 until 10 by 2).map(_.toLong))
    // resume with a new generation: only the delta is appended
    writeFile(dir.getAbsolutePath, "g-001.tsv", 10 until 20)
    run()
    assert(readOut() === (0 until 20 by 2).map(_.toLong),
      "resumed streaming write must append exactly the new epoch")
    // the output is manifest-governed: a generation file exists and no
    // staging leftovers survive
    val names = new java.io.File(out).listFiles().map(_.getName)
    assert(names.exists(_.startsWith("_gen-")), names.mkString(","))
    assert(!names.exists(_.startsWith(".staging-")), names.mkString(","))
  }

  test("a replayed streaming epoch publishes nothing (manifest epoch marker)") {
    // drive the streaming write API directly at the seam Spark uses on
    // recovery: the same epoch commits twice (sink committed, query's own
    // commit log didn't — the standard replay window). The second commit
    // must be a no-op, not a duplicate generation.
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.unsafe.types.UTF8String
    val out = new java.io.File(
      Files.createTempDirectory("graft_dsv2_replay").toFile, "out").getAbsolutePath
    val s = StructType(Seq(StructField("id", LongType),
      StructField("v", StringType)))
    val info = new org.apache.spark.sql.connector.write.LogicalWriteInfo {
      override def queryId(): String = "replayq"
      override def schema(): StructType = s
      override def options() =
        new org.apache.spark.sql.util.CaseInsensitiveStringMap(
          java.util.Collections.emptyMap())
    }
    val write = new graft.sources.GraftTsvWriteBuilder(s,
      graft.sources.GraftTsvOptions(Map("path" -> out)), info)
      .build().toStreaming
    def commitEpoch(epoch: Long, ids: Seq[Long]): Unit = {
      val factory = write.createStreamingWriterFactory(null)
      val w = factory.createWriter(0, epoch * 100 + 1, epoch)
      ids.foreach(i => w.write(InternalRow(i, UTF8String.fromString(s"v$i"))))
      write.commit(epoch, Array(w.commit()))
    }
    commitEpoch(0, Seq(1L, 2L))
    commitEpoch(1, Seq(3L))
    // REPLAY of epoch 1 with the same rows staged again
    commitEpoch(1, Seq(3L))
    val back = spark.read.format("graft-tsv").schema(s).load(out)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(back === Seq(1L, 2L, 3L),
      s"replayed epoch must publish nothing: $back")
    val names = new java.io.File(out).listFiles().map(_.getName)
    // current + the one-generation retention for in-flight readers
    assert(names.count(_.startsWith("_gen-")) == 2, names.mkString(","))
    assert(!names.exists(_.startsWith(".staging-")),
      s"replay's staged duplicate must be swept: ${names.mkString(",")}")
  }

  test("published part names stay monotonic across epoch 9 to 10 (zero-padded)") {
    // the graft-tsv streaming SOURCE requires monotonic file names; an
    // unpadded epoch label would sort e10 below e9 and fail a
    // tsv-to-tsv streaming chain at the 11th micro-batch
    import org.apache.spark.sql.catalyst.InternalRow
    val out = new java.io.File(
      Files.createTempDirectory("graft_dsv2_epad").toFile, "out").getAbsolutePath
    val s = StructType(Seq(StructField("id", LongType)))
    val info = new org.apache.spark.sql.connector.write.LogicalWriteInfo {
      override def queryId(): String = "epadq"
      override def schema(): StructType = s
      override def options() =
        new org.apache.spark.sql.util.CaseInsensitiveStringMap(
          java.util.Collections.emptyMap())
    }
    val write = new graft.sources.GraftTsvWriteBuilder(s,
      graft.sources.GraftTsvOptions(Map("path" -> out)), info)
      .build().toStreaming
    Seq(9L, 10L).foreach { epoch =>
      val w = write.createStreamingWriterFactory(null).createWriter(0, epoch, epoch)
      w.write(InternalRow(epoch))
      write.commit(epoch, Array(w.commit()))
    }
    val parts = new java.io.File(out).listFiles().map(_.getName)
      .filter(_.startsWith("part-")).sorted.toSeq
    assert(parts.size == 2, parts.mkString(","))
    assert(parts.last.contains("-e000000000010-"),
      s"epoch 10's parts must sort after epoch 9's: ${parts.mkString(",")}")
  }

  test("replaying a batch whose window lost a file fails fast, never shrinks") {
    // restart replay of a committed batch (start, end]: the original
    // validation only checked the files at/below start.hi — a file
    // deleted from INSIDE the window (external compaction) was silently
    // omitted from the replayed batch. The slice must hold exactly
    // end.n - start.n files or fail the monotonic contract by name.
    val root = Files.createTempDirectory("graft_dsv2_replay_del").toFile
    root.deleteOnExit()
    val dir = new java.io.File(root, "in"); dir.mkdirs()
    writeFile(dir.getAbsolutePath, "f-000.tsv", 0 until 5)
    writeFile(dir.getAbsolutePath, "f-001.tsv", 5 until 10)
    writeFile(dir.getAbsolutePath, "f-002.tsv", 10 until 15)
    def mkStream() = new graft.sources.GraftTsvScanBuilder(schema,
      graft.sources.GraftTsvOptions(Map("path" -> dir.getAbsolutePath)))
      .build().toMicroBatchStream("unused")
    val s1 = mkStream()
    val start = s1.initialOffset()
    val end = s1.latestOffset()
    // a RESTARTED stream recovers both offsets from the checkpoint and
    // re-lists; meanwhile the middle file vanished
    assert(new java.io.File(dir, "f-001.tsv").delete())
    val s2 = mkStream()
    val e = intercept[IllegalStateException] {
      s2.planInputPartitions(
        s2.deserializeOffset(start.json()), s2.deserializeOffset(end.json()))
    }
    assert(e.getMessage.contains("non-monotonically"), e.getMessage)
  }

  test("a file sorting below the processed high-water mark fails fast, never skips") {
    val root = Files.createTempDirectory("graft_dsv2_stream_bad").toFile
    root.deleteOnExit()
    val dir = new java.io.File(root, "in"); dir.mkdirs()
    val ckpt = new java.io.File(root, "ckpt").getAbsolutePath
    val out = new java.io.File(root, "out").getAbsolutePath
    writeFile(dir.getAbsolutePath, "f-005.tsv", 0 until 5)
    runAvailableNow(dir.getAbsolutePath, ckpt, out)
    assert(spark.read.parquet(out).count() == 3)

    // violates the monotonic-name contract: sorts before f-005
    writeFile(dir.getAbsolutePath, "f-001.tsv", 5 until 10)
    val e = intercept[Exception] {
      runAvailableNow(dir.getAbsolutePath, ckpt, out)
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(c => Option(c.getMessage)
      .exists(_.contains("non-monotonically"))), e.toString)
    // and nothing from the violating generation got published
    assert(spark.read.parquet(out).count() == 3)
  }

  test("max.files.per.trigger drains a backlog in bounded batches, exactly once") {
    val root = Files.createTempDirectory("graft_dsv2_stream_rate").toFile
    root.deleteOnExit()
    val dir = new java.io.File(root, "in"); dir.mkdirs()
    val ckpt = new java.io.File(root, "ckpt").getAbsolutePath
    val out = new java.io.File(root, "out").getAbsolutePath
    (0 until 5).foreach(i =>
      writeFile(dir.getAbsolutePath, f"f-$i%03d.tsv", i * 10 until (i + 1) * 10))
    val q = spark.readStream.format("graft-tsv").schema(schema)
      .option("max.files.per.trigger", "2").load(dir.getAbsolutePath)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val batches = q.recentProgress.filter(_.numInputRows > 0)
    q.stop()
    // 5 files / cap 2 = 3 non-empty micro-batches, not one catch-up batch
    assert(batches.length == 3,
      s"expected 3 bounded batches, got ${batches.map(_.numInputRows).toSeq}")
    assert(batches.map(_.numInputRows).toSeq == Seq(20L, 20L, 10L))
    // exactly once despite the multi-batch drain
    assert(spark.read.parquet(out).collect().map(_.getLong(0)).sorted.toSeq ===
      (0L until 50L))
  }

  test("a malformed max.files.per.trigger fails loudly naming the option") {
    val root = Files.createTempDirectory("graft_dsv2_stream_badopt").toFile
    root.deleteOnExit()
    val dir = new java.io.File(root, "in"); dir.mkdirs()
    writeFile(dir.getAbsolutePath, "f-000.tsv", 0 until 3)
    val e = intercept[Exception] {
      val q = spark.readStream.format("graft-tsv").schema(schema)
        .option("max.files.per.trigger", "zero").load(dir.getAbsolutePath)
        .writeStream.format("noop")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(c => Option(c.getMessage)
      .exists(_.contains("max.files.per.trigger"))), e.toString)
  }
}
