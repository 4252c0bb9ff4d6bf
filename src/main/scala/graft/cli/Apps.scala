package graft.cli

import org.apache.spark.sql.SparkSession

import graft.operators.TextOps

/** Drop-in CLI entry points matching the reference's invocation contracts
  * (reference `.vscode/launch.json:13,34`):
  *
  *   WordCountApp <inPath...> <outDir>             (reference WordCount.java:51-63)
  *   TopkCommonWordsApp <in1> <in2> <stop> <outDir> (reference TopkCommonWords.java:157-176)
  *
  * Output is the reference's TextOutputFormat shape — `key<TAB>value`
  * lines (WordCount: `word<TAB>count` ascending; Topk: `count<TAB>word`,
  * count desc / word desc, 20 rows). A reference user can point these at
  * the same inputs and diff the outputs. */
object WordCountApp {
  def run(spark: SparkSession, inPaths: Seq[String], outDir: String): Unit =
    TextOps.writeTabText(
      TextOps.wordCountPipeline(spark.read.textFile(inPaths: _*)), outDir)

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: WordCountApp <in...> <outDir>")
    val spark = graft.Measure.session("graft-wordcount")
    try run(spark, args.init.toIndexedSeq, args.last) finally spark.stop()
  }
}

object TopkCommonWordsApp {
  def run(spark: SparkSession, in1: String, in2: String,
      stopPath: String, outDir: String, useMax: Boolean = true): Unit = {
    val stop = spark.read.textFile(stopPath).collect().toIndexedSeq
    TextOps.writeTabText(
      TextOps.topKCommonPipeline(spark,
        spark.read.textFile(in1), spark.read.textFile(in2),
        stop, k = 20, useMax = useMax), outDir)
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 4,
      "usage: TopkCommonWordsApp <in1> <in2> <stopwords> <outDir>")
    val spark = graft.Measure.session("graft-topk")
    try run(spark, args(0), args(1), args(2), args(3)) finally spark.stop()
  }
}
