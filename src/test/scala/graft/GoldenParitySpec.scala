package graft

import org.apache.spark.sql.functions._
import graft.operators.TextOps

/** Byte-exact golden parity against the reference's shipped corpora and
  * answer files (SURVEY.md §5.1-5.2). These tests encode every §2.2 rule:
  * whitespace-only case-sensitive tokenization, exact stopword match,
  * inner-join commonality, max vs min merge, count-desc/word-desc tie order,
  * k=20, and the `count<TAB>word` sink format. */
class GoldenParitySpec extends SparkSuite {
  private val ref = "/root/reference/input"
  // the WordCount tutorial pair is kept in the repo (FIXTURES.md)
  private val tutorial = getClass.getResource("/reference").getPath

  private def readLines(path: String): Seq[String] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().toList finally src.close()
  }

  private def topk(useMax: Boolean): Seq[String] = {
    import spark.implicits._
    val a = spark.read.textFile(s"$ref/task1-input1.txt")
    val b = spark.read.textFile(s"$ref/task1-input2.txt")
    val stop = readLines(s"$ref/stopwords.txt")
    TextOps.topKCommonPipeline(spark, a, b, stop, k = 20, useMax = useMax)
      .collect().map(r => s"${r.getLong(0)}\t${r.getString(1)}").toSeq
  }

  test("Q2 Topk max-variant matches answer2.txt byte-for-byte") {
    assert(topk(useMax = true) === readLines(s"$ref/answer2.txt"))
  }

  test("Q2 Topk min-variant matches answer1.txt byte-for-byte") {
    assert(topk(useMax = false) === readLines(s"$ref/answer1.txt"))
  }

  test("Q1 WordCount matches the derived golden for the tutorial corpus") {
    val lines = spark.read.textFile(s"$tutorial/file01.txt", s"$tutorial/file02.txt")
    val got = TextOps.wordCountPipeline(lines)
      .collect().map(r => s"${r.getString(0)}\t${r.getLong(1)}").toSeq
    val expected = Seq("Bye\t1", "Goodbye\t1", "Hadoop\t2", "Hello\t2", "World\t2")
    assert(got === expected)
  }

  test("Q1 WordCount conservation: counts sum to token count") {
    import spark.implicits._
    val lines = spark.read.textFile(s"$ref/task1-input1.txt")
    val wc = TextOps.wordCountPipeline(lines)
    val total = wc.agg(sum("n")).collect()(0).getLong(0)
    val tokens = lines.flatMap(_.split("\\s+")).filter(_.nonEmpty).count()
    assert(total === tokens)
  }
}
