package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.Text
import org.apache.hadoop.util.LineReader
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._

/** Row-level DELETE for graft-tsv tables — `DELETE FROM cat.ns.t WHERE
  * <pred>` through [[GraftTsvCatalog]], the mutation a corpus-curation
  * workload runs constantly ("drop these dedup-condemned doc_ids"). The
  * reference's only mutation story is full overwrite (TextOutputFormat,
  * reference WordCount.java:61); this is the engine's Spark-first
  * copy-on-write restatement on the generation-manifest substrate:
  *
  *   1. PRUNE: the same partition-value and manifest-stats pruning the
  *      read path plans with ([[GraftTsvScan.pruneFiles]]) splits the
  *      table into files that PROVABLY contain no matching row (kept
  *      verbatim — never opened, never rewritten, stats cells carried)
  *      and possibly-affected files. A delete keyed on the partition or
  *      sort column touches only the covering files; a delete whose
  *      predicates are ALL partition-column equalities rewrites nothing
  *      at all (metadata-only partition drop).
  *   2. REWRITE, distributed: one Spark task per affected file streams
  *      its lines, evaluates the compiled predicates per line (the same
  *      Spark-semantics comparators the reader pushes down with), copies
  *      SURVIVORS byte-verbatim to a staging file in the same partition
  *      leaf, and re-derives the file's column min/max + row-count stats.
  *      Rows are deleted iff the conjunction is TRUE (SQL semantics:
  *      NULL keeps the row). File-granular parallelism is the COW shape
  *      every manifest table format uses — at 100 TB the work is
  *      O(affected bytes) spread over the cluster, never driver-side.
  *   3. PUBLISH: one generation commit ([[GraftTsvPublisher]]) whose
  *      manifest drops the affected files' old names and adds the
  *      rewritten ones — visibility flips on the single `_gen` rename,
  *      so a concurrent reader sees the table entirely before or
  *      entirely after the delete; a crash mid-rewrite leaves only
  *      invisible staging files (swept by the next commit) and the old
  *      generation fully readable. The superseded files get the standard
  *      one-generation retention.
  *
  * Supported predicates are exactly the reader's pushdown surface
  * (=, <, <=, >, >=, IN, IS NOT NULL over long/int/double/string/date,
  * plus DELETE-without-WHERE as an empty-generation truncate);
  * `canDeleteWhere` refuses anything else, and Spark then routes the
  * statement through the group-based copy-on-write rewrite
  * ([[GraftTsvRowLevelOperation]]) instead — this fast path only ever
  * serves the metadata-only-translatable shapes (Spark's
  * OptimizeMetadataOnlyDeleteFromTable rule picks between the two).
  */
object GraftTsvDelete {

  /** True iff every conjunct is evaluable by the rewrite (AlwaysTrue /
    * AlwaysFalse are trivial). Headered tables are refused: a rewrite
    * would have to re-thread each file's header line, and the catalog —
    * the only surface SQL DELETE reaches tables through — never writes
    * headers. */
  def canDelete(schema: StructType, header: Boolean, filters: Array[Filter]): Boolean =
    !header && filters.forall {
      case _: AlwaysTrue | _: AlwaysFalse => true
      case f => GraftTsvPushdown.supported(schema, f)
    }

  def deleteWhere(schema: StructType, table: GraftTsvOptions, filters: Array[Filter]): Unit = {
    // plain values: the per-file rewrite closure ships them to executors
    val (path, delimiter, partCols) = (table.path, table.delimiter, table.partCols)
    require(canDelete(schema, table.header, filters),
      s"graft-tsv DELETE: unsupported predicate in [${filters.mkString(", ")}]")
    // a FALSE conjunct makes the whole conjunction false: nothing matches
    if (filters.exists(_.isInstanceOf[AlwaysFalse])) return
    val real = filters.filterNot(_.isInstanceOf[AlwaysTrue])

    val spark = SparkSession.active
    val hconf = SerializableHadoopConf.fromSession()
    val dir = new Path(path)
    val fs = dir.getFileSystem(hconf.value)
    val lbl = "del" + java.util.UUID.randomUUID().toString.replace("-", "").take(10)

    // the scan owns listing + pruning; reuse it verbatim so DELETE's idea
    // of "cannot match" is exactly the read path's (conservative, typed)
    val scan = new GraftTsvScan(schema, schema, Array.empty, table, hconf = hconf)
    val files = scan.listFiles()
    if (files.isEmpty) return

    if (real.isEmpty) {
      // DELETE without WHERE: publish an empty generation, rewrite nothing
      GraftTsvPublisher.publish(fs, dir, Seq.empty, lbl, epochMarker = None,
        truncate = true, dropped = Set.empty, partCols,
        sweepPrefix = s".staging-$lbl", retainGenerations = table.retainGenerations,
        pinnedGens = table.pinned)
      return
    }

    val affected = scan.pruneFiles(files, real)
    if (affected.isEmpty) return // provably no matching row: table untouched

    // predicates on partition columns are file-constant and already TRUE
    // for every affected file (pruning evaluated them exactly) — only
    // data-column predicates need per-line evaluation
    val partSet = partCols.toSet
    val dataFilters = real.filter(f => !partSet.contains(f.references.head))

    val staged: Seq[(String, String)] =
      if (dataFilters.isEmpty) Seq.empty // pure partition delete: drop whole files
      else {
        val work = affected.map(e => (e.path, e.rel)).zipWithIndex
        val slices = math.min(work.size, math.max(1, spark.sparkContext.defaultParallelism))
        spark.sparkContext.parallelize(work, slices)
          .map { case ((abs, rel), i) =>
            // the attempt token is generated TASK-SIDE so speculative /
            // zombie retry attempts of the same file write distinct
            // staging paths and can never interleave bytes into the
            // winner's file (same protocol as GraftTsvDataWriter's
            // staged names); the losing attempt's file stays invisible
            // and is swept by publish's .staging-$lbl prefix sweep
            rewriteOne(hconf, schema, delimiter, partCols, dataFilters,
              abs, rel,
              f".staging-$lbl-$i%05d-a" +
                java.util.UUID.randomUUID().toString.replace("-", "").take(8))
          }
          .collect().toSeq.flatten
      }

    GraftTsvPublisher.publish(fs, dir, staged, lbl, epochMarker = None,
      truncate = false, dropped = affected.map(_.rel).toSet, partCols,
      sweepPrefix = s".staging-$lbl", retainGenerations = table.retainGenerations,
      pinnedGens = table.pinned)
  }

  /** Task-side copy-on-write of one file: stream lines, keep those whose
    * data-column conjunction is NOT true, write them byte-verbatim to a
    * staging file in the same partition leaf, track fresh column stats.
    * Returns the (staged rel path, stats cell) for the publish step, or
    * None when no row survived (the file simply disappears from the next
    * generation). */
  private def rewriteOne(
      hconf: SerializableHadoopConf,
      schema: StructType,
      delimiter: Char,
      partCols: Seq[String],
      dataFilters: Array[Filter],
      absPath: String,
      rel: String,
      stagedName: String): Option[(String, String)] = {
    // line-position mapping (identical to GraftTsvPartitionReader):
    // partition columns are not in the data lines
    val partIdx = partCols.map(schema.fieldIndex).toSet
    val lineFieldSchemaIdx = schema.fields.indices.filterNot(partIdx).toArray
    val schemaToLinePos = {
      val a = Array.fill(schema.length)(-1)
      lineFieldSchemaIdx.zipWithIndex.foreach { case (si, lp) => a(si) = lp }
      a
    }
    val preds = dataFilters.map(GraftTsvPushdown.compile(schema, _))
    val statIdx = lineFieldSchemaIdx.filter(i =>
      GraftTsvPushdown.supportedType(schema.fields(i).dataType))
    val neededLine = (preds.map(_._1) ++ statIdx).distinct
      .map(schemaToLinePos).sorted
    val maxNeeded = if (neededLine.isEmpty) -1 else neededLine.max
    val emptyLineIsRow = lineFieldSchemaIdx.length == 1

    val scratch = new Array[Any](schema.length)
    def parse(line: String): Unit = {
      var field = 0; var from = 0; var n = 0
      val len = line.length
      while (n < neededLine.length && field <= maxNeeded && from <= len) {
        val to0 = line.indexOf(delimiter, from)
        val to = if (to0 < 0) len else to0
        if (field == neededLine(n)) {
          val si = lineFieldSchemaIdx(field)
          scratch(si) =
            if (to == from && schema(si).dataType != StringType) null
            else GraftTsvPushdown.convertCell(
              schema(si).dataType, line.substring(from, to))
          n += 1
        }
        field += 1
        from = to + 1
        if (to0 < 0 && field <= maxNeeded && n < neededLine.length) {
          while (n < neededLine.length) {
            scratch(lineFieldSchemaIdx(neededLine(n))) = null; n += 1
          }
        }
      }
    }

    val src = new Path(absPath)
    val fs = src.getFileSystem(hconf.value)
    val stagedRel =
      (if (rel.contains('/')) rel.substring(0, rel.lastIndexOf('/') + 1) else "") +
        stagedName
    val stagedPath = new Path(src.getParent, stagedName)
    val in = fs.open(src)
    val lr = new LineReader(in)
    val text = new Text()
    val mins = new Array[Any](schema.length)
    val maxs = new Array[Any](schema.length)
    var rows = 0L
    var out: java.io.OutputStream = null // opened on the first survivor
    try {
      var more = true
      while (more) {
        val bytes = lr.readLine(text)
        if (bytes == 0) more = false
        else {
          val line = text.toString
          // empty lines: a row only for single-data-column tables (the
          // writer's NULL→empty-field convention); otherwise invisible
          // garbage the rewrite simply drops
          if (line.nonEmpty || emptyLineIsRow) {
            parse(line)
            val matches = preds.forall { case (i, t) => t(scratch(i)) }
            if (!matches) { // SQL DELETE: remove iff TRUE; FALSE/NULL keep
              if (out == null)
                out = new java.io.BufferedOutputStream(fs.create(stagedPath, true))
              out.write(text.getBytes, 0, text.getLength)
              out.write('\n')
              rows += 1
              var j = 0
              while (j < statIdx.length) {
                val si = statIdx(j)
                val v = scratch(si)
                if (v != null) {
                  val dt = schema.fields(si).dataType
                  if (mins(si) == null || GraftTsvPushdown.cmp(dt, v, mins(si)) < 0)
                    mins(si) = v
                  if (maxs(si) == null || GraftTsvPushdown.cmp(dt, v, maxs(si)) > 0)
                    maxs(si) = v
                }
                j += 1
              }
            }
          }
        }
      }
    } finally {
      lr.close()
      if (out != null) out.close()
    }
    if (out == null) None
    else Some((stagedRel,
      GraftTsvManifest.statsCell(schema, statIdx, mins, maxs, rows)))
  }
}
