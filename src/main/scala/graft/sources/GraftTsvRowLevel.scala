package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.connector.catalog.MetadataColumn
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.{DataType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The `_file` metadata column ([[GraftTsvTable]] implements
  * `SupportsMetadataColumns`): the absolute path of the file a row came
  * from, split-constant in the readers — queryable directly
  * (`SELECT _file, ...`) and, more importantly, the GROUP IDENTITY for
  * copy-on-write row-level operations. Spark's runtime group filtering
  * scans the table once for rows MATCHING the command's condition,
  * collects their `_file` values, and hands the set to the rewrite scan
  * as a runtime `IN` — so a MERGE/UPDATE/DELETE rewrites only the files
  * that actually contain affected rows, not the table. */
object GraftTsvMeta {
  val FileCol = "_file"

  /** Virtual sign column of the generation stream's CHANGE-FEED mode
    * (`stream.changes=true`): split-constant `insert`/`delete`, injected
    * through the same mechanism as hive partition values (the column is
    * in the declared schema but never in the data lines; its value rides
    * the split). See [[GraftTsvGenerationStream]]. */
  val ChangeCol = "_change_type"

  /** Net multiplicity column of the batch changes feed's SIGNED form
    * (`GraftTsvCatalog.netChanges`): each distinct row of the diff once,
    * with its net copy count — > 0 net inserted, < 0 net deleted. */
  val NetCol = "_change_n"

  /** `fullSchema` + the virtual `_file` column appended (identity when a
    * real column already shadows the name — `SupportsMetadataColumns`
    * hides the metadata column in that case, `canRenameConflictingMetadataColumns`
    * = false). Shared by the readers (index math) and the scan's filter
    * acceptance. */
  def augment(fullSchema: StructType): StructType =
    if (fullSchema.fieldNames.contains(FileCol)) fullSchema
    else fullSchema.add(FileCol, StringType, nullable = false)

  object FileMetadataColumn extends MetadataColumn {
    override def name(): String = FileCol
    override def dataType(): DataType = StringType
    override def isNullable(): Boolean = false
    override def comment(): String =
      "absolute path of the data file the row was read from"
  }
}

/** Group-based (copy-on-write) row-level operations for graft-tsv —
  * SQL `UPDATE`, `MERGE INTO`, and the DELETEs whose predicates exceed
  * the pushdown surface ([[GraftTsvDelete]] keeps serving the
  * translatable ones via Spark's metadata-only-delete optimizer rule).
  * The mutation verbs a corpus-curation pipeline runs constantly
  * ("reweight these documents", "upsert today's crawl") on the same
  * generation-manifest substrate every other write uses:
  *
  *   1. GROUP FILTER (Spark-planned): Spark scans the table for rows
  *      matching the command's condition, collects their `_file` values
  *      (this operation's `requiredMetadataAttributes`), and runtime-
  *      filters the rewrite scan to exactly those files — at 100 TB a
  *      MERGE touching one day's partition rewrites that day, not the
  *      corpus. The matching scan gets full predicate pushdown; the
  *      rewrite scan deliberately pushes NOTHING (its contract is "every
  *      row of every affected file", and stats-pruning a file whose rows
  *      all match the condition would silently resurrect them).
  *   2. REWRITE (Spark-computed): Spark's ReplaceData plan reads the
  *      affected files through [[GraftTsvScan]] (with `fileFilterOnly` —
  *      the runtime `IN` prunes at file granularity and the planned rel
  *      paths are recorded on this operation), applies the
  *      update/merge/delete row logic, and writes the replacement rows
  *      through the standard staged task writers ([[GraftTsvDataWriter]]
  *      — same stats blocks, same partition routing, so an UPDATE that
  *      changes a partition value just routes the row to its new leaf).
  *   3. PUBLISH: one generation commit ([[GraftTsvPublisher]]) dropping
  *      the affected files and adding the rewritten ones — visibility
  *      flips on the single `_gen` rename, a concurrent reader sees the
  *      table entirely before or entirely after the MERGE, and a crash
  *      anywhere leaves only invisible staging (swept by the next
  *      commit) with the old generation fully readable. Time-travel
  *      retention applies as usual: the pre-merge snapshot stays
  *      pinnable for `retain.generations` more commits.
  */
final class GraftTsvRowLevelOperation(
    cmd: RowLevelOperation.Command,
    schema: StructType,
    table: GraftTsvOptions) extends RowLevelOperation {
  import table.{delimiter, partCols, path}

  /** Root-relative paths of the files the rewrite scan planned — the
    * groups whose rows the ReplaceData query read and whose replacement
    * the write publishes. planInputPartitions can run more than once
    * (e.g. once before the runtime group filter delivers and once
    * after); the SMALLEST set wins: runtime filters only ever narrow,
    * and the execution RDD always uses the narrowed plan — committing a
    * broader set would drop files whose rows were never read back. */
  @volatile private var affected: Option[Seq[String]] = None

  private def record(rels: Seq[String]): Unit = synchronized {
    affected = Some(affected match {
      case Some(old) if old.size <= rels.size => old
      case _ => rels
    })
  }

  override def command(): RowLevelOperation.Command = cmd

  override def description(): String =
    s"graft-tsv copy-on-write $cmd on $path"

  override def requiredMetadataAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions
      .column(GraftTsvMeta.FileCol))

  /** The rewrite scan: NO filter pushdown (see class doc — group-based
    * semantics forbid dropping rows of an affected file), column pruning
    * only (Spark still prunes to the columns the rewrite projects, which
    * includes `_file`). Row-based readers (the `_file` constant rides
    * the row path; the rewrite is write-dominated anyway) — the
    * `fileFilterOnly` scan selects them. */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownRequiredColumns {
      private var required: StructType = GraftTsvMeta.augment(schema)
      override def pruneColumns(requiredSchema: StructType): Unit =
        required = requiredSchema
      override def build(): Scan =
        new GraftTsvScan(schema, required, Array.empty, table,
          fileFilterOnly = true, onPlanned = Some(record))
    }

  /** The replacement write: standard staged task writers, commit =
    * generation publish with `dropped` = the recorded affected files.
    * Same advisory partition clustering as the batch write. */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new Write
          with RequiresDistributionAndOrdering {
        import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder}

        override def requiredDistribution()
            : org.apache.spark.sql.connector.distributions.Distribution =
          if (partCols.isEmpty)
            org.apache.spark.sql.connector.distributions.Distributions.unspecified()
          else org.apache.spark.sql.connector.distributions.Distributions.clustered(
            partCols.toArray.map(c =>
              Expressions.column(c): org.apache.spark.sql.connector.expressions.Expression))

        override def distributionStrictlyRequired(): Boolean = false

        override def requiredOrdering(): Array[SortOrder] =
          partCols.toArray.map(c =>
            Expressions.sort(Expressions.column(c), SortDirection.ASCENDING))

        override def toBatch: BatchWrite =
          new GraftTsvRowLevelBatchWrite(info.queryId())
      }
    }

  private final class GraftTsvRowLevelBatchWrite(queryId: String)
      extends BatchWrite {
    private val hconf = SerializableHadoopConf.fromSession()

    override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
      new GraftTsvWriterFactory(schema, path, delimiter, queryId, hconf, partCols)

    override def useCommitCoordinator(): Boolean = true

    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      val staged = messages.collect {
        case GraftTsvCommitMessage(names) => names
      }.flatten.toSeq
      val dropped = affected.getOrElse(throw new IllegalStateException(
        "graft-tsv row-level commit: the rewrite scan never planned — " +
          "cannot determine which files the operation replaced")).toSet
      val dir = new Path(path)
      val f = dir.getFileSystem(hconf.value)
      if (staged.isEmpty && dropped.isEmpty)
        // nothing matched, nothing inserted: no-op, don't publish an
        // identical generation (mirrors GraftTsvDelete's early return)
        GraftTsvPublisher.sweep(f, dir, s".staging-$queryId")
      else {
        val label = "rl" + queryId.replaceAll("[^a-zA-Z0-9]", "").take(8)
        GraftTsvPublisher.publish(f, dir, staged, label, epochMarker = None,
          truncate = false, dropped = dropped, partCols,
          sweepPrefix = s".staging-$queryId",
          retainGenerations = table.retainGenerations, pinnedGens = table.pinned)
      }
    }

    override def abort(messages: Array[WriterCommitMessage]): Unit =
      GraftTsvPublisher.sweep(new Path(path).getFileSystem(hconf.value),
        new Path(path), s".staging-$queryId")
  }
}
