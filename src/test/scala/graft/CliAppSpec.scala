package graft

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

import graft.cli.{TopkCommonWordsApp, WordCountApp}

/** End-to-end CLI contract: the reference's invocation shape in, the
  * reference's TextOutputFormat files out — diffed against the shipped
  * golden answers. */
class CliAppSpec extends SparkSuite {
  private val ref = "/root/reference/input"
  // the WordCount tutorial pair is kept in the repo (FIXTURES.md)
  private val tutorial = getClass.getResource("/reference").getPath

  private def readOut(dir: Path): Seq[String] =
    Files.list(dir).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-"))
      .flatMap(p => Files.readAllLines(p).asScala)
      .toSeq

  test("TopkCommonWordsApp reproduces answer2.txt through the CLI surface") {
    val out = Files.createTempDirectory("graft-topk")
    TopkCommonWordsApp.run(spark,
      s"$ref/task1-input1.txt", s"$ref/task1-input2.txt",
      s"$ref/stopwords.txt", out.toString)
    // single text part (pipeline ends in limit 20 → one partition)
    val got = readOut(out)
    val expected = Files.readAllLines(java.nio.file.Paths.get(s"$ref/answer2.txt")).asScala.toSeq
    assert(got.sorted === expected.sorted)
    assert(got.length === 20)
  }

  test("WordCountApp writes word<TAB>count over the tutorial corpus") {
    val out = Files.createTempDirectory("graft-wc")
    WordCountApp.run(spark, Seq(s"$tutorial/file01.txt", s"$tutorial/file02.txt"), out.toString)
    assert(readOut(out).sorted ===
      Seq("Bye\t1", "Goodbye\t1", "Hadoop\t2", "Hello\t2", "World\t2"))
  }
}
