package graft.queries

import scala.collection.mutable.ListBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

/** One incremental-maintenance (IVM) window over a fresh per-run
  * `graft-tsv` table: the one owner of that table's lifecycle, which every
  * IVM builder and stateful parity exhibit runs through.
  *
  * Lifecycle, in order ([[IvmWindow.run]]):
  *  1. name the table `gparity.db.<prefix>_<dirDigest>_<nonce>`
  *     ([[ArtifactStore.freshTable]], which sweeps stale siblings) and
  *     `CREATE TABLE` it with the given columns and retained generations;
  *  2. run the body: it commits generations ([[append]],
  *     [[deleteMatching]], or SQL verbs on [[sql]]), reads the net delta
  *     ([[delta]]) and applies it;
  *  3. in a `finally`, whether the body returned or threw: release every
  *     frame the window holds ([[hold]], [[delta]]), delete its work dirs
  *     ([[workDir]]), then drop the table. An exception from the body
  *     propagates unchanged; a cleanup step that fails is attached to it
  *     as suppressed (and thrown itself when the body returned).
  *
  * A frame the body returns must not read anything step 3 removes: not
  * the table, a held frame, or a work dir. The body localizes a bounded
  * result ([[localize]]) or spills a data-sized one
  * ([[ArtifactStore.spillResult]]) before it returns; a checkpoint the
  * result reads (BM25's maintained `dl1`/`tf1`) is left unheld. */
final class IvmWindow private (spark: SparkSession, dir: String,
    val table: ArtifactStore.ParityTable) {

  private val held = ListBuffer.empty[DataFrame]
  private val dirs = ListBuffer.empty[String]

  /** The table's qualified name, for SQL verbs. */
  def sql: String = table.sql

  /** Releases `df` (a checkpoint root) when the window closes. */
  def hold(df: DataFrame): DataFrame = { held += df; df }

  /** Commits `df` as the table's next generation. */
  def append(df: DataFrame): Unit = df.writeTo(sql).append()

  /** Commits the next generation by deleting the rows that match a row
    * of `dels` on every column in `keys`: a copy-on-write MERGE. */
  def deleteMatching(dels: DataFrame, keys: String*): Unit = {
    val v = s"${table.name}_dels"
    dels.createOrReplaceTempView(v)
    try spark.sql(s"""MERGE INTO $sql tgt USING $v d
      ON ${keys.map(k => s"tgt.$k = d.$k").mkString(" AND ")}
      WHEN MATCHED THEN DELETE""")
    finally spark.catalog.dropTempView(v)
  }

  /** Net row delta of the table (columns exactly `keys`) since its base
    * snapshot (gen 1), read off the SIGNED changes feed
    * ([[graft.sources.GraftTsvCatalog.netChanges]]: the changed files
    * only, one aggregate): (`keys`…, `sgn`), sgn > 0 net inserted copies,
    * < 0 net deleted. A no-op mutation pair (possible at a degenerate SF)
    * nets to an empty delta. Lazy and unheld; [[delta]] materializes it. */
  def netDelta(keys: Seq[String], sgn: String = "sgn"): DataFrame = {
    val tdir = new org.apache.hadoop.fs.Path(table.dir)
    val headGen = tdir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(tdir).map(_.getPath.getName)
      .flatMap(graft.sources.GraftTsvManifest.genNumber).max
    val net =
      if (headGen <= 1L)
        spark.table(sql)
          .withColumn(graft.sources.GraftTsvMeta.NetCol, lit(0L)).limit(0)
      else
        ArtifactStore.parityCatalog(spark)
          .netChanges(spark, table.ident, "1", headGen.toString)
    net.select(keys.map(col) :+
      col(graft.sources.GraftTsvMeta.NetCol).as(sgn): _*)
  }

  /** [[netDelta]], truncated and held. */
  def delta(keys: Seq[String], sgn: String = "sgn"): DataFrame =
    hold(graft.Checkpoints.truncate(netDelta(keys, sgn)))

  /** A fresh per-run work dir ([[ArtifactStore.freshDir]]), deleted when
    * the window closes. */
  def workDir(prefix: String): String = {
    val d = ArtifactStore.freshDir(spark, dir, prefix)
    dirs += d
    d
  }

  /** A bounded result collected to the driver and returned as a
    * one-partition frame sorted by `order`, so it outlives the window. */
  def localize(df: DataFrame, order: Column*): DataFrame = {
    val rows = df.collect().toSeq
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), df.schema)
      .orderBy(order: _*)
  }

  private def close(failure: Option[Throwable]): Unit = {
    var first = failure
    def step(f: => Unit): Unit =
      try f catch {
        case NonFatal(e) => first match {
          case Some(t) => t.addSuppressed(e)
          case None => first = Some(e)
        }
      }
    held.foreach(df => step(graft.Checkpoints.release(df)))
    dirs.foreach { d =>
      step {
        val p = new org.apache.hadoop.fs.Path(d)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      }
    }
    step(ArtifactStore.dropTable(spark, table))
    if (failure.isEmpty) first.foreach(e => throw e)
  }
}

object IvmWindow {

  /** Runs `body` in a window over a fresh table `<prefix>_<dirDigest>_…`
    * with `columns` (SQL column definitions) that retains `retain`
    * generations; the class doc gives the lifecycle. */
  def run[A](spark: SparkSession, dir: String, prefix: String,
      columns: String, retain: Int = 4)(body: IvmWindow => A): A = {
    val w = new IvmWindow(spark, dir,
      ArtifactStore.freshTable(spark, dir, prefix))
    spark.sql(s"""CREATE TABLE ${w.sql} ($columns) USING `graft-tsv`
      TBLPROPERTIES ('retain.generations' = '$retain')""")
    var failure: Option[Throwable] = None
    try body(w)
    catch { case e: Throwable => failure = Some(e); throw e }
    finally w.close(failure)
  }
}
