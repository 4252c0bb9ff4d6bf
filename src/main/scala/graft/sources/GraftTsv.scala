package graft.sources

import java.util.OptionalLong

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileSystem, Path}
import org.apache.hadoop.io.Text
import org.apache.hadoop.util.LineReader
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** `graft-tsv` — a DataSource V2 connector for schema'd tab-separated
  * text, the third leg of the extension surface next to the custom
  * Expressions (`graft.plans.VectorExpressions`) and the custom
  * plan/strategy (`graft.plans.Sessionize`): where those extend Catalyst's
  * EXPRESSION and OPERATOR seams, this extends the SOURCE seam that
  * `spark.read` plans through.
  *
  * The reference engine's only input contract is line-split text carved
  * into byte-range splits by `TextInputFormat` (reference
  * WordCount.java:60, TopkCommonWords.java:172-173 use the default input
  * format). This connector re-expresses that contract Spark-first as a
  * `TableProvider`, keeping the two properties that make line-split text
  * viable at 100 TB and adding the two it lacks:
  *
  *   - SPLITTABLE (kept): each file is cut into byte ranges at planning
  *     time (`split.bytes`, default 64 MiB); readers realign to line
  *     boundaries with the classic protocol — a non-first split discards
  *     its first (possibly partial) line, every split reads THROUGH its
  *     end boundary to finish its last line — so a 1000-executor scan of
  *     one huge file parallelizes without coordination and every line is
  *     read exactly once.
  *   - SCHEMA'D (added): an explicit `StructType` is REQUIRED (no
  *     inference pass — at 100 TB schema inference is a full extra read
  *     of the corpus before the first real job).
  *   - COLUMN PRUNING (added): `SupportsPushDownRequiredColumns` — a
  *     2-column projection over a 16-column TSV parses 2 fields per line;
  *     the rest of each line is never materialized (only delimiter
  *     positions are scanned past).
  *   - FILTER PUSHDOWN (added): `SupportsPushDownFilters` — =, <, <=, >,
  *     >=, IN, IS NOT NULL on long/int/double/string/date columns are
  *     evaluated inside the reader against the parsed field, BEFORE the
  *     row is built or crosses into the query, and are reported via
  *     `Scan.description()` so `.explain` shows what was pushed (the
  *     plan-visibility contract PlanAuditSpec relies on). A filter column
  *     pruned out of the projection is still parsed for the predicate —
  *     just never output. Unsupported predicates are returned to Spark as
  *     residuals and evaluated post-scan as usual.
  *
  * Statistics (`SupportsReportStatistics`) report total file bytes so the
  * planner's broadcast decision sees a real size instead of defaulting to
  * "unknown = huge" (CBO picks broadcast joins for small TSV dims).
  *
  * Conventions (documented, enforced by the exporter in
  * `SourceParity.q_dsv2_source`): no header by default (`header=true`
  * skips line one of each file), empty field = NULL for non-string types,
  * timestamps travel as epoch-ms longs (text has no timezone), dates as
  * ISO `yyyy-MM-dd`. Fields must not contain the delimiter — this is the
  * same no-embedded-delimiter contract the reference's tab-separated
  * output format has (its K\tV sink at TextOutputFormat defaults).
  */
/** Hadoop `Configuration` is not `java.io.Serializable`, but every task
  * (reader and writer) needs the DRIVER's filesystem settings —
  * `spark.hadoop.*`, core-site credentials, object-store endpoints. Built
  * on the driver from a snapshot COPY of `sparkContext.hadoopConfiguration`
  * (a copy so concurrent driver-side mutation can't race serialization)
  * and shipped via `Configuration`'s own Writable encoding. Without this,
  * `new Configuration()` would silently drop the session's fs config and
  * the connector would only work on an unauthenticated local FS. */
final class SerializableHadoopConf(@transient var value: Configuration)
    extends Serializable {
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new Configuration(false)
    value.readFields(in)
  }
}

object SerializableHadoopConf {
  /** Snapshot the active session's Hadoop conf (driver side only). */
  def fromSession(): SerializableHadoopConf = new SerializableHadoopConf(
    new Configuration(
      org.apache.spark.sql.SparkSession.active.sparkContext.hadoopConfiguration))
}

final class GraftTsvDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-tsv"

  override def supportsExternalMetadata(): Boolean = true

  /** Called only when the caller omitted `.schema(...)` — refuse rather
    * than silently scan the corpus to guess (the explicit-schema stance
    * of Tables.scala, applied to the connector). */
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    throw new IllegalArgumentException(
      "graft-tsv requires an explicit schema: spark.read.format(\"graft-tsv\")" +
        ".schema(...).load(path) — schema inference would be a full corpus scan")

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new GraftTsvTable(schema, GraftTsvOptions(properties.asScala.toMap))
}

final class GraftTsvTable(tableSchema: StructType, opts: GraftTsvOptions)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {
  override def name(): String = s"graft-tsv ${opts.location.orNull}"
  override def schema(): StructType = tableSchema

  /** `_file` — the row's source file path, split-constant in the readers;
    * also the GROUP IDENTITY for copy-on-write row-level operations (see
    * [[GraftTsvMeta]]). A real column named `_file` shadows it (default
    * `canRenameConflictingMetadataColumns` = false). */
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(GraftTsvMeta.FileMetadataColumn)

  /** SQL `UPDATE` / `MERGE INTO` / non-pushdown `DELETE` — the group-based
    * copy-on-write rewrite ([[GraftTsvRowLevelOperation]]). Pushdown-
    * translatable DELETEs still take the [[GraftTsvDelete]] fast path via
    * Spark's metadata-only-delete optimizer rule. */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    require(!opts.header,
      s"graft-tsv: row-level ${info.command()} is not supported on headered " +
        "tables (a rewrite would have to re-thread per-file header lines; " +
        "catalog tables never write headers)")
    () => new GraftTsvRowLevelOperation(info.command(), tableSchema, opts)
  }
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.MICRO_BATCH_READ, TableCapability.STREAMING_WRITE)

  /** Row-level DELETE (`DELETE FROM cat.ns.t WHERE ...` through
    * [[GraftTsvCatalog]]): copy-on-write generation rewrite of only the
    * files the predicate can touch — see [[GraftTsvDelete]]. */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    GraftTsvDelete.canDelete(tableSchema, opts.header, filters)

  override def deleteWhere(filters: Array[Filter]): Unit =
    GraftTsvDelete.deleteWhere(tableSchema, opts, filters)

  /** Write path in GraftTsvWrite.scala: two-phase commit (dot-prefixed
    * staging files, driver-side rename) — only committed task output
    * becomes visible; visibility itself is the atomic `_gen` manifest
    * swap (GraftTsvManifest), which the read path resolves, so a
    * concurrent reader sees exactly one complete generation. */
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new GraftTsvWriteBuilder(info.schema(), opts, info)
  // DataFrameReader merges load(path) and .option(...) into the TABLE
  // properties; per-scan options arrive here and win.
  override def newScanBuilder(caseInsensitiveOptions: CaseInsensitiveStringMap): ScanBuilder =
    new GraftTsvScanBuilder(tableSchema, opts.forScan(caseInsensitiveOptions))
}

/** The predicate machinery shared by the reader (per-line evaluation),
  * plan-time pushdown (ScanBuilder), RUNTIME filtering (the scan's
  * SupportsRuntimeV2Filtering seam), and PARTITION pruning (the same
  * compiled predicates evaluated against hive-path values at planning,
  * where they drop whole files instead of rows). */
private[sources] object GraftTsvPushdown {
  def supportedType(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | DoubleType | StringType | DateType => true
    case _ => false
  }

  private def toEpochDay(v: Any): Int = v match {
    case d: java.sql.Date => d.toLocalDate.toEpochDay.toInt
    case d: java.time.LocalDate => d.toEpochDay.toInt
    case n: java.lang.Number => n.intValue() // runtime filters: internal epoch-day
    case other => throw new IllegalArgumentException(s"date literal: $other")
  }

  /** A filter literal, converted ONCE to the column's internal form. */
  def litFor(dt: DataType, v: Any): Any = dt match {
    case LongType => v match {
      case n: java.lang.Number => n.longValue()
      case other => other.toString.toLong
    }
    case IntegerType => v match {
      case n: java.lang.Number => n.intValue()
      case other => other.toString.toInt
    }
    case DoubleType => v match {
      case n: java.lang.Number => n.doubleValue()
      case other => other.toString.toDouble
    }
    case StringType => UTF8String.fromString(v.toString)
    case DateType => toEpochDay(v)
    case other => throw new IllegalArgumentException(s"unsupported type $other")
  }

  /** A raw text cell (line field or hive partition-path value) converted
    * to the internal form the comparators and rows use. */
  def convertCell(dt: DataType, s: String): Any = dt match {
    case StringType => UTF8String.fromString(s)
    case LongType => java.lang.Long.parseLong(s)
    case IntegerType => Integer.parseInt(s)
    case DoubleType => java.lang.Double.parseDouble(s)
    case DateType => java.time.LocalDate.parse(s).toEpochDay.toInt
    case other => throw new IllegalArgumentException(s"unsupported type $other")
  }

  /** Comparison with SPARK's SQL semantics, not Java's — a pushed filter
    * is not re-evaluated post-scan, so any divergence here is silent
    * wrong results. Two deliberate departures from the obvious Java code:
    * doubles normalize -0.0 to 0.0 before Double.compare (Spark: -0.0 =
    * 0.0 is true, -0.0 < 0.0 is false; Double.compare alone says -1),
    * keeping Double.compare's NaN handling (NaN = NaN true, NaN largest —
    * Spark's documented NaN semantics). Strings compare as UTF8String
    * (unsigned UTF-8 bytes) — String.compareTo is UTF-16 code-unit order,
    * which disagrees above the BMP (a surrogate 0xD800-0xDFFF sorts below
    * U+E000..U+FFFF, but its code point is higher). */
  def cmp(dt: DataType, a: Any, b: Any): Int = dt match {
    case LongType => java.lang.Long.compare(a.asInstanceOf[Long], b.asInstanceOf[Long])
    case IntegerType | DateType =>
      Integer.compare(a.asInstanceOf[Int], b.asInstanceOf[Int])
    case DoubleType =>
      def norm(d: Double): Double = if (d == 0.0) 0.0 else d
      java.lang.Double.compare(norm(a.asInstanceOf[Double]), norm(b.asInstanceOf[Double]))
    case StringType => a.asInstanceOf[UTF8String].compareTo(b.asInstanceOf[UTF8String])
    case other => throw new IllegalArgumentException(s"unsupported type $other")
  }

  /** A pushed predicate compiled to (full-schema index, test over the
    * column's internal value), converting the literal once here, not per
    * row/file. */
  def compile(schema: StructType, f: Filter): (Int, Any => Boolean) = {
    def at(c: String): (Int, DataType) = {
      val i = schema.fieldIndex(c); (i, schema(i).dataType)
    }
    f match {
      case EqualTo(c, v) =>
        val (i, dt) = at(c); val lit = litFor(dt, v)
        (i, x => x != null && cmp(dt, x, lit) == 0)
      case GreaterThan(c, v) =>
        val (i, dt) = at(c); val lit = litFor(dt, v)
        (i, x => x != null && cmp(dt, x, lit) > 0)
      case GreaterThanOrEqual(c, v) =>
        val (i, dt) = at(c); val lit = litFor(dt, v)
        (i, x => x != null && cmp(dt, x, lit) >= 0)
      case LessThan(c, v) =>
        val (i, dt) = at(c); val lit = litFor(dt, v)
        (i, x => x != null && cmp(dt, x, lit) < 0)
      case LessThanOrEqual(c, v) =>
        val (i, dt) = at(c); val lit = litFor(dt, v)
        (i, x => x != null && cmp(dt, x, lit) <= 0)
      case In(c, vs) =>
        // hash lookup, NOT a linear cmp scan: a runtime-filter IN carries
        // the whole realized dim key set (thousands of keys), and
        // O(lines × keys) would cost more than not filtering. Internal
        // values' equals/hashCode agree with cmp==0 once doubles are
        // normalized (-0.0 → 0.0 on both sides; boxed NaN.equals(NaN) is
        // true, matching Spark's NaN = NaN).
        val (i, dt) = at(c)
        def norm(v: Any): Any = dt match {
          case DoubleType =>
            val d = v.asInstanceOf[Double]; if (d == 0.0) 0.0 else d
          case _ => v
        }
        val lits = vs.map(litFor(dt, _)).map(norm).toSet
        (i, x => x != null && lits.contains(norm(x)))
      case IsNotNull(c) =>
        (schema.fieldIndex(c), x => x != null)
      case other =>
        throw new IllegalStateException(s"unpushable filter reached reader: $other")
    }
  }

  private def colOk(schema: StructType, name: String): Boolean =
    schema.fieldNames.contains(name) &&
      supportedType(schema(schema.fieldIndex(name)).dataType)

  // the characters Hive/Spark escape in partition path segments (plus
  // everything below 0x20 and DEL); kept in sync with unescapePathValue
  private val EscapedChars: Set[Char] =
    "\"#%'*/:=?\\{[]^".toSet

  /** Hive-style partition-path escaping for the WRITE side: each special
    * char becomes `%XX`. Round-trips through [[unescapePathValue]] and
    * matches what Spark's own partitioned writers produce. */
  def escapePathValue(s: String): String =
    if (!s.exists(c => c < 0x20 || c == 0x7f || EscapedChars(c))) s
    else {
      val sb = new java.lang.StringBuilder(s.length + 8)
      s.foreach { c =>
        if (c < 0x20 || c == 0x7f || EscapedChars(c)) sb.append(f"%%${c.toInt}%02X")
        else sb.append(c)
      }
      sb.toString
    }

  /** Undo Spark/Hive's partition-path escaping (`%XX` per escaped char —
    * NOT URL encoding: '+' is literal, only '%' sequences decode). */
  def unescapePathValue(s: String): String =
    if (!s.contains('%')) s
    else {
      val sb = new java.lang.StringBuilder(s.length)
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (c == '%' && i + 3 <= s.length) {
          try {
            sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
            i += 3
          } catch { case _: NumberFormatException => sb.append(c); i += 1 }
        } else { sb.append(c); i += 1 }
      }
      sb.toString
    }

  def supported(schema: StructType, f: Filter): Boolean = f match {
    case EqualTo(c, v) => colOk(schema, c) && v != null
    case GreaterThan(c, v) => colOk(schema, c) && v != null
    case GreaterThanOrEqual(c, v) => colOk(schema, c) && v != null
    case LessThan(c, v) => colOk(schema, c) && v != null
    case LessThanOrEqual(c, v) => colOk(schema, c) && v != null
    case In(c, vs) => colOk(schema, c) && vs != null && vs.forall(_ != null)
    case IsNotNull(c) => colOk(schema, c)
    case _ => false
  }

  /** V2 `Predicate` → V1 `Filter` for the shapes runtime filtering emits
    * (the realized join key set is an IN; Spark's own converter is
    * `private[sql]`). Literal values arrive Catalyst-INTERNAL
    * (`UTF8String`, epoch-day ints) — the reader's literal conversion
    * accepts both internal and external forms. Anything unconvertible
    * maps to None and is dropped: a runtime filter may under-filter
    * (the join re-checks), never over-filter. */
  def predicateToV1(
      p: org.apache.spark.sql.connector.expressions.filter.Predicate): Option[Filter] = {
    import org.apache.spark.sql.connector.expressions.{Expression, NamedReference}
    def ref(e: Expression): Option[String] = e match {
      case n: NamedReference if n.fieldNames.length == 1 => Some(n.fieldNames()(0))
      case _ => None
    }
    def lit(e: Expression): Option[Any] = e match {
      case l: org.apache.spark.sql.connector.expressions.Literal[_]
          if l.value != null => Some(l.value match {
        case s: UTF8String => s.toString
        case v => v
      })
      case _ => None
    }
    def binary(mk: (String, Any) => Filter): Option[Filter] = p.children() match {
      case Array(c, v) => for (cc <- ref(c); vv <- lit(v)) yield mk(cc, vv)
      case _ => None
    }
    p.name() match {
      case "IN" => p.children() match {
        // a zero-value IN is legitimate (a runtime group filter whose
        // build side matched nothing) and prunes EVERYTHING — dropping it
        // would turn "touch no files" into "touch every file"
        case kids if kids.length >= 1 =>
          val vs = kids.tail.map(lit)
          for (c <- ref(kids.head); _ <- if (vs.forall(_.isDefined)) Some(()) else None)
            yield In(c, vs.map(_.get))
        case _ => None
      }
      case "=" => binary(EqualTo)
      case ">" => binary(GreaterThan)
      case ">=" => binary(GreaterThanOrEqual)
      case "<" => binary(LessThan)
      case "<=" => binary(LessThanOrEqual)
      case "IS_NOT_NULL" => p.children() match {
        case Array(c) => ref(c).map(IsNotNull)
        case _ => None
      }
      case _ => None
    }
  }
}

final class GraftTsvScanBuilder(fullSchema: StructType, opts: GraftTsvOptions)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates with SupportsPushDownLimit {

  private var required: StructType = fullSchema
  private var pushed: Array[Filter] = Array.empty
  private var countStarPushed = false
  private var metaAgg: Option[(StructType, Seq[Array[Any]])] = None
  private var limit: Option[Int] = None

  /** LIMIT pushdown: planning TRUNCATES the file list using the
    * manifest's writer row counts — `SELECT * FROM t LIMIT n` over a
    * million-file corpus plans just enough leading files to cover n rows
    * instead of scheduling a task per split of the corpus (the readers
    * are pull-based iterators, so rows beyond the limit were never
    * parsed; the task COUNT is what this buys). Partial by contract
    * (`isPartiallyPushed` stays true): the planned files hold AT LEAST n
    * rows and Spark's own Limit does the exact cut. Declined when any
    * filter is pushed (a file's rows may not match), when a file lacks a
    * row count (unknown provenance), or on partitioned tables (the
    * storage-partitioned-join report counts the FULL listing's partition
    * values — truncation would desynchronize them). */
  override def pushLimit(l: Int): Boolean = { limit = Some(l); true }

  /** METADATA-COMPLETE aggregates: a filterless global COUNT(*) / MIN /
    * MAX whose answer the generation manifest already holds (writer-
    * recorded `#n:` row counts and per-column min/max cells) is answered
    * on the DRIVER from the listing — the scan becomes a [[LocalScan]]
    * and NO distributed job runs at all. Over 100 TB that is the
    * difference between a cluster-wide read and one manifest read. The
    * proof obligations (checked per file, any miss falls back):
    *  - every listed file carries a writer row count (`#n:` present) —
    *    provenance that the stats cell is OURS, so an absent column cell
    *    provably means the column is all-null in that file (the writer
    *    omits all-null columns), which contributes nothing to MIN/MAX —
    *    exactly Spark's null semantics;
    *  - a present cell's type tag matches the read schema (the reader
    *    may re-type columns; a mismatch means the recorded order is not
    *    this type's order);
    *  - partition-column MIN/MAX reads the hive path values of files
    *    with rows > 0 (an empty file's partition value has no rows to
    *    contribute).
    * Pushed filters or group-bys disable the metadata path (per-file
    * ranges cannot re-aggregate under a predicate); a bare COUNT(*) then
    * still takes the PARTIAL pushdown below. */
  override def supportCompletePushDown(
      aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    metaAgg = planMetaAgg(aggregation)
    metaAgg.isDefined
  }

  /** COUNT(*) pushdown (PARTIAL: one count row per split, Spark sums the
    * partials): the reader counts lines that pass the pushed predicates
    * without building a row per line — over 100 TB of text a bare
    * count(*) parses NOTHING (predicate columns only, when present) and
    * ships one long per split. Group-bys and other aggregates stay in
    * Spark, where partial aggregation already does the right thing. */
  override def pushAggregation(
      aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    if (metaAgg.isDefined) return true
    val ok = aggregation.groupByExpressions().isEmpty &&
      aggregation.aggregateExpressions().length == 1 &&
      aggregation.aggregateExpressions()(0)
        .isInstanceOf[org.apache.spark.sql.connector.expressions.aggregate.CountStar]
    if (ok) countStarPushed = true
    ok
  }

  private def planMetaAgg(
      aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[(StructType, Seq[Array[Any]])] = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.connector.expressions.aggregate.{CountStar, Max, Min}
    if (pushed.nonEmpty) return None
    // a headered table can only have gotten a manifest by hand (the
    // writer never writes headers) — its row counts are untrusted
    if (opts.header) return None
    val partCols = opts.partCols
    def refOf(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[String] = e match {
      case nr: NamedReference if nr.fieldNames().length == 1 =>
        Some(nr.fieldNames()(0)).filter(c =>
          fullSchema.fieldNames.contains(c) && GraftTsvPushdown.supportedType(
            fullSchema(fullSchema.fieldIndex(c)).dataType))
      case _ => None
    }
    // GROUP BY is metadata-answerable exactly when every key is a hive
    // partition column (possibly a subset of them): the listing already
    // partitions files by those values, so each group is a set of whole
    // files and the per-file counts/ranges re-aggregate exactly
    val gbExprs = aggregation.groupByExpressions().toSeq
    val gbCols: Seq[String] = gbExprs.flatMap(refOf)
    if (gbCols.length != gbExprs.length ||
        !gbCols.forall(partCols.contains)) return None
    sealed trait Op
    case object CountAll extends Op
    final case class MinOf(c: String) extends Op
    final case class MaxOf(c: String) extends Op
    val exprs = aggregation.aggregateExpressions().toSeq
    val ops: Seq[Op] = exprs.flatMap {
      case _: CountStar => Seq(CountAll)
      case m: Min => refOf(m.column()).map(MinOf.apply).toSeq
      case m: Max => refOf(m.column()).map(MaxOf.apply).toSeq
      case _ => Seq.empty
    }
    if (ops.length != exprs.length || ops.isEmpty) return None
    // the same manifest-resolved listing the batch scan would read
    // (generation pin and hive layout included); the listing is
    // O(files) driver metadata, no data bytes
    val entries =
      try mkScan(fullSchema, countOnly = false).listFiles()
      catch { case _: Exception => return None } // unreadable: let the scan surface it
    if (!entries.forall(_.rows.isDefined)) return None // unknown provenance
    val aliases = opts.aliases
    def dtOf(c: String): DataType = fullSchema(fullSchema.fieldIndex(c)).dataType
    def minMax(es: Seq[GraftTsvFileEntry], c: String, wantMin: Boolean)
        : Option[Any] = {
      val dt = dtOf(c)
      val pi = partCols.indexOf(c)
      var acc: Any = null
      for (e <- es if e.rows.exists(_ > 0)) {
        val v: Option[Any] =
          if (pi >= 0) Option(e.partVals(pi))
            .map(GraftTsvPushdown.convertCell(dt, _))
          else e.stats.get(c)
            .orElse(aliases.getOrElse(c, Nil).iterator
              .flatMap(e.stats.get).nextOption()) match {
            case Some((tn, mn, mx)) if tn == dt.typeName =>
              try Some(GraftTsvPushdown.convertCell(dt, if (wantMin) mn else mx))
              catch { case _: RuntimeException => return None } // corrupt cell
            case Some(_) => return None // re-typed column: order untrusted
            case None => None // all-null in this file: contributes nothing
          }
        v.foreach { x =>
          if (acc == null ||
              (if (wantMin) GraftTsvPushdown.cmp(dt, x, acc) < 0
               else GraftTsvPushdown.cmp(dt, x, acc) > 0)) acc = x
        }
      }
      Some(acc)
    }
    def aggRow(es: Seq[GraftTsvFileEntry]): Option[Seq[Any]] = {
      val vals = ops.map {
        case CountAll => Some(es.flatMap(_.rows).sum: Any)
        case MinOf(c) => minMax(es, c, wantMin = true)
        case MaxOf(c) => minMax(es, c, wantMin = false)
      }
      if (vals.exists(_.isEmpty)) None else Some(vals.map(_.get))
    }
    // complete-pushdown output contract: group-by columns FIRST (in the
    // pushed order), then the aggregate columns
    val aggFields = ops.map {
      case CountAll => StructField("count(*)", LongType, nullable = false)
      case MinOf(c) => StructField(s"min($c)", dtOf(c))
      case MaxOf(c) => StructField(s"max($c)", dtOf(c))
    }
    if (gbCols.isEmpty) {
      aggRow(entries).map(r => (StructType(aggFields), Seq(r.toArray)))
    } else {
      val gbIdx = gbCols.map(partCols.indexOf)
      // a group exists only if it has ROWS: a partition directory whose
      // files are all empty contributes no group (SQL GROUP BY semantics)
      val groups = entries.groupBy(e => gbIdx.map(e.partVals(_)))
        .filter(_._2.flatMap(_.rows).sum > 0)
      val rows = groups.toSeq.map { case (key, es) =>
        aggRow(es).map { r =>
          (key.zip(gbCols).map { case (raw, c) =>
            if (raw == null) null else GraftTsvPushdown.convertCell(dtOf(c), raw)
          } ++ r).toArray
        }
      }
      if (rows.exists(_.isEmpty)) None
      else Some((StructType(gbCols.map(c => StructField(c, dtOf(c)))
        ++ aggFields), rows.map(_.get)))
    }
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (sup, residual) =
      filters.partition(GraftTsvPushdown.supported(fullSchema, _))
    pushed = sup
    residual // Spark keeps evaluating these above the scan
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = metaAgg match {
    case Some((aggSchema, outRows)) =>
      // metadata answered the whole aggregation: a driver-local scan —
      // Spark plans LocalTableScan, no cluster job at all (one row for a
      // global aggregate, one per partition value for a grouped one)
      new org.apache.spark.sql.connector.read.LocalScan {
        override def readSchema(): StructType = aggSchema
        override def rows(): Array[InternalRow] =
          outRows.map(r => new GenericInternalRow(r): InternalRow).toArray
        override def description(): String =
          s"GraftTsvMetaAggScan path=${opts.path}, " +
            s"PushedAggregation(metadata-complete): " +
            s"[${aggSchema.fieldNames.mkString(", ")}]"
      }
    case None => mkScan(required, countOnly = countStarPushed)
  }

  private def mkScan(requiredSchema: StructType, countOnly: Boolean)
      : GraftTsvScan = {
    opts.partCols.foreach { c =>
      require(fullSchema.fieldNames.contains(c),
        s"graft-tsv: partition column '$c' is not in the schema")
      require(GraftTsvPushdown.supportedType(
        fullSchema(fullSchema.fieldIndex(c)).dataType),
        s"graft-tsv: partition column '$c' has an unsupported type")
    }
    new GraftTsvScan(fullSchema, requiredSchema, pushed, opts,
      countOnly = countOnly, pushedLimit = limit)
  }
}

/** One planned graft-tsv read. `opts` carries every option-derived
  * setting (location, layout, pins, diff endpoints, stream modes). A
  * `fileFilterOnly` scan is a copy-on-write rewrite's: it accepts only the
  * `_file` group filter and reads through the row reader (the `_file`
  * constant rides the row path). */
final class GraftTsvScan(
    fullSchema: StructType,
    required: StructType,
    pushed: Array[Filter],
    opts: GraftTsvOptions,
    countOnly: Boolean = false,
    hconf: SerializableHadoopConf = SerializableHadoopConf.fromSession(),
    fileFilterOnly: Boolean = false,
    onPlanned: Option[Seq[String] => Unit] = None,
    pushedLimit: Option[Int] = None)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsRuntimeV2Filtering with SupportsReportPartitioning {
  import opts.{aliases, branch, delimiter, excludeGeneration, excludeLineage,
    generation, header, maxFilesPerTrigger, partCols, path, splitBytes,
    streamAllowRewrites, streamByGeneration, streamChanges}

  // CHANGE-FEED streaming contract checks run at scan build so misuse
  // fails before any job is planned: the mode rides the generation
  // stream, and the sign column must be declared (STRING, not a real
  // partition column) — its values come from the splits, never the lines.
  if (streamChanges) {
    require(streamByGeneration,
      "graft-tsv: stream.changes=true requires stream.by.generation=true " +
        "(the change feed is commit-clocked; the file-arrival stream has " +
        "no commit to diff)")
    require(fullSchema.fieldNames.contains(GraftTsvMeta.ChangeCol) &&
      fullSchema(fullSchema.fieldIndex(GraftTsvMeta.ChangeCol))
        .dataType == StringType,
      s"graft-tsv: stream.changes=true requires the declared schema to " +
        s"include `${GraftTsvMeta.ChangeCol}` STRING (the per-row " +
        s"insert/delete sign)")
    require(!partCols.contains(GraftTsvMeta.ChangeCol),
      s"graft-tsv: `${GraftTsvMeta.ChangeCol}` cannot also be a " +
        "partition column")
  }

  /** Partition-column data types in `partition.columns` order — drives
    * both the typed [[HasPartitionKey]] keys on every planned split and
    * the reported [[outputPartitioning]]. */
  private lazy val partTypes: Array[DataType] =
    partCols.map(c => fullSchema(fullSchema.fieldIndex(c)).dataType).toArray

  /** STORAGE-PARTITIONED JOINS: a hive-partitioned table reports
    * `KeyGroupedPartitioning(identity(partition cols))`, so two tables
    * laid out on the same keys join with ZERO Exchange — Spark groups
    * this scan's splits by their [[HasPartitionKey]] values and aligns
    * the groups across the join instead of shuffling both sides
    * (`spark.sql.sources.v2.bucketing.enabled`; off = grouping is never
    * consulted and planning is unchanged). At 100 TB this is the
    * connector-side half of the bucketed-join story: a date/tenant-
    * partitioned fact co-located with a same-partitioned snapshot joins
    * partition-by-partition, and the shuffle that would otherwise move
    * BOTH corpora never exists. The reported partition count is the
    * distinct partition-value count of the statically-pruned listing —
    * the groups the batch will actually produce. Count-only and
    * row-level-rewrite scans report unknown: their output rows are not
    * the table's rows. */
  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning = {
    val groups =
      if (partCols.isEmpty || countOnly || fileFilterOnly) 0
      else pruneFiles(batchListing, pushed)
        .map(_.partVals.toSeq).distinct.size
    if (groups == 0)
      new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)
    else
      new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
        partCols.map(c => org.apache.spark.sql.connector.expressions.Expressions
          .identity(c)).toArray,
        groups)
  }

  /** Manifest stats lookup through the RENAME COLUMN name map: a cell
    * written before a rename is keyed under the column's historical name,
    * so a miss under the current name retries each alias (catalog option
    * `column.aliases`, from the descriptor's rename history). The type
    * tag check at every consumer still applies to whatever cell this
    * returns — an alias can restore skipping, never mis-prune. */
  private def statsFor(
      stats: Map[String, (String, String, String)], c: String)
      : Option[(String, String, String)] =
    stats.get(c).orElse(aliases.getOrElse(c, Nil).iterator
      .flatMap(stats.get).nextOption())

  /** RUNTIME filtering (dynamic "partition" pruning's DSv2 seam): after a
    * join's build side executes, Spark hands this scan the realized key
    * set (typically `IN (<dim keys>)`) and re-plans. A text source has no
    * per-file statistics to prune whole SPLITS with, but the reader
    * evaluates predicates per line BEFORE building rows — so the runtime
    * set rides the same in-reader path as plan-time pushdown and
    * stream-side rows that cannot match the join die inside the scan,
    * before the row exists, instead of crossing into the probe. At 100 TB
    * that is the difference between parsing the corpus and parsing the
    * fraction that joins. Unconvertible or reader-unsupported runtime
    * predicates are simply dropped: runtime filters are an optimization
    * licensed to under-filter (the join re-checks), never to over-filter
    * — which is also why the comparator semantics in [[cmp]] matching
    * Spark exactly still matters here. */
  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    if (countOnly) Array.empty // count already left the row domain
    else if (fileFilterOnly)
      // row-level rewrite scan: the only runtime filter it accepts is the
      // group filter on `_file` — a data-column filter would drop rows of
      // an affected file, which group-based semantics forbid
      Array(org.apache.spark.sql.connector.expressions.Expressions
        .column(GraftTsvMeta.FileCol))
    else required.fields // Spark resolves these against the PRUNED output
      .filter(f => GraftTsvPushdown.supportedType(f.dataType))
      .map(f => org.apache.spark.sql.connector.expressions.Expressions.column(f.name))

  override def filter(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate])
      : Unit =
    factory.runtimeFilters = predicates.flatMap(GraftTsvPushdown.predicateToV1)
      .filter(GraftTsvPushdown.supported(GraftTsvMeta.augment(fullSchema), _))

  private[sources] def pushedFilters: Array[Filter] = pushed

  // under pushed COUNT(*) the scan's output is the partial count, one
  // long per split (Spark's positional mapping; the name is cosmetic)
  override def readSchema(): StructType =
    if (countOnly) StructType(Seq(StructField("count(*)", LongType, nullable = false)))
    else required
  override def toBatch: Batch = this

  /** Plan visibility: v2 scans surface `description()` in `.explain`, so
    * the pushed filters and pruned schema are auditable exactly like the
    * parquet reader's PushedFilters/ReadSchema lines. */
  override def description(): String =
    s"GraftTsvScan path=$path, " +
      s"PushedFilters: [${pushed.mkString(", ")}], " +
      (if (countOnly) "PushedAggregation: [COUNT(*)], " else "") +
      pushedLimit.map(n => s"PushedLimit: $n, ").getOrElse("") +
      generation.map(g => s"Generation: $g, ").getOrElse("") +
      excludeGeneration.map(g => s"DiffExcludeGeneration: $g, ").getOrElse("") +
      branch.map(b => s"Branch: $b, ").getOrElse("") +
      (if (partCols.nonEmpty) s"PartitionColumns: [${partCols.mkString(", ")}], " else "") +
      s"ReadSchema: ${readSchema().catalogString}"

  /** Fresh directory listing — streaming triggers need to SEE new files,
    * so this is uncached; the batch paths go through [[batchListing]].
    * With `partition.columns` set, directories are walked hive-style
    * (`col=value` segments in declared order) and each leaf file carries
    * its partition values; either way, each LEAF directory resolves
    * through its `_gen` manifest when one exists. */
  private[sources] def listFiles(): Seq[GraftTsvFileEntry] =
    listFilesAt(generation, excludeGeneration)

  /** [[listFiles]] with explicit generation endpoints — the generation
    * STREAM re-lists with per-batch pins ((start, end] = end's manifest
    * minus start's), where the batch scan uses the scan-fixed options. */
  private[sources] def listFilesAt(generation: Option[Long],
      excludeGeneration: Option[Long]): Seq[GraftTsvFileEntry] = {
    val p = new Path(path)
    val fs = p.getFileSystem(hconf.value)
    val matched = Option(fs.globStatus(p)).map(_.toSeq).getOrElse(Seq.empty)

    // (status, path relative to the matched ROOT, partition values);
    // `children` is the already-listed content of the current level
    def walk(children: Seq[org.apache.hadoop.fs.FileStatus], depth: Int,
        rel: String, vals: List[String])
        : Seq[(org.apache.hadoop.fs.FileStatus, String, Array[String])] =
      if (depth == partCols.length)
        children.filter(_.isFile).map(st =>
          (st, rel + st.getPath.getName, vals.reverse.toArray))
      else {
        val want = partCols(depth) + "="
        children.flatMap { st =>
          val n = st.getPath.getName
          if (st.isDirectory && n.startsWith(want)) {
            val raw = GraftTsvPushdown.unescapePathValue(n.substring(want.length))
            val v = if (raw == "__HIVE_DEFAULT_PARTITION__") null else raw
            walk(fs.listStatus(st.getPath).toSeq, depth + 1, rel + n + "/", v :: vals)
          }
          else if (st.isFile && !n.startsWith("_") && !n.startsWith("."))
            throw new IllegalStateException(
              s"graft-tsv: expected ${partCols(depth)}=<value> directories under " +
                s"${st.getPath.getParent} (hive layout, partition.columns order), " +
                s"found file $n")
          else Seq.empty // hidden files, foreign dirs: ignored
        }
      }

    val expanded = matched.flatMap { st =>
      if (st.isDirectory) {
        // generation resolution at the TABLE ROOT: the highest _gen-N
        // manifest lists the current files as ROOT-RELATIVE paths (plain
        // names for unpartitioned tables, `col=v/part-...` for
        // partitioned ones), so ONE swap governs every partition
        // atomically. No manifest = plain listing (legacy path dirs), but
        // a catalog table before its first commit is EMPTY: the part
        // files a first writer has renamed in are not visible until its
        // manifest publishes them.
        val rootChildren = fs.listStatus(st.getPath).toSeq
        val entries = walk(rootChildren, 0, "", Nil)
        val gens = rootChildren.flatMap { c =>
          val n = c.getPath.getName
          (branch match {
            case Some(b) => GraftTsvManifest.branchGenNumber(n, b)
            case None => GraftTsvManifest.genNumber(n)
          }).map(_ -> c.getPath)
        }
        branch.foreach { b =>
          if (gens.isEmpty) {
            val known = rootChildren
              .flatMap(c => GraftTsvManifest.branchOf(c.getPath.getName))
              .distinct.sorted
            throw new IllegalArgumentException(
              s"graft-tsv: branch '$b' does not exist in ${st.getPath}" +
                (if (known.isEmpty) " (no branches)"
                 else s" (branches: ${known.mkString(", ")})"))
          }
        }
        if (gens.isEmpty) {
          // TIME TRAVEL needs a manifest history — a legacy plain dir has none
          (generation orElse excludeGeneration).foreach { g =>
            throw new IllegalArgumentException(
              s"graft-tsv: generation $g requested but ${st.getPath} has no " +
                "generation manifests (plain directory, no time-travel history)")
          }
          val isCatalogTable = rootChildren
            .exists(_.getPath.getName == GraftTsvCatalog.MetaName)
          if (isCatalogTable) Seq.empty
          else entries.map(e => (e._1, e._2, e._3, ""))
        } else {
          // TIME TRAVEL: a pinned generation resolves ITS manifest instead of
          // the latest — the snapshot a reproducible training run pins. Only
          // generations inside the retention window survive cleanup, so a
          // miss names what IS retained and the knob that widens the window.
          val latest = generation match {
            case None => gens.maxBy(_._1)._2
            case Some(g) => gens.collectFirst { case (`g`, p) => p }.getOrElse(
              throw new IllegalArgumentException(
                s"graft-tsv: generation $g is not available in ${st.getPath} " +
                  s"(retained: ${gens.map(_._1).sorted.mkString(", ")}) — " +
                  "older generations are reclaimed by cleanup; raise the " +
                  "retain.generations write option to keep a deeper history"))
          }
          val refEntries = GraftTsvManifest.readEntries(fs, latest).toMap
          val present = entries.collect {
            case (fst, rel, vals) if refEntries.contains(rel) =>
              (fst, rel, vals, refEntries(rel))
          }
          if (present.size != refEntries.size) {
            val missing = refEntries.keySet -- present.map(_._2).toSet
            throw new IllegalStateException(
              s"graft-tsv: manifest ${latest.getName} in ${st.getPath} references " +
                s"missing part files (${missing.take(3).mkString(", ")}) — directory " +
                "state corrupted (files deleted outside the commit protocol?)")
          }
          // GENERATION DIFF (the changes-feed planning seam): drop every
          // file the OTHER generation also lists. Part files are
          // content-immutable under the copy-on-write protocol (every
          // mutation writes new parts and swaps one manifest), so a
          // relpath shared by both manifests is byte-identical in both
          // snapshots and cannot contribute a row-level change — at
          // 100 TB this is what makes a changes read scale with the size
          // of the DELTA, not the table: an append's diff plans only the
          // appended files, and only rewritten files ever reach the
          // signed-diff aggregate (at most one shuffle of the
          // changed-file rows, none when they are small).
          excludeGeneration match {
            case None => present
            case Some(x) =>
              // the excluded manifest resolves in the READ lineage unless
              // diff.exclude.lineage names the other one (cross-lineage
              // diff: branchConflicts excludes the branch chain's BASE
              // while reading main, and main's head while reading the
              // branch)
              val exclGens = excludeLineage match {
                case None => gens
                case Some(lin) => rootChildren.flatMap { c =>
                  val n = c.getPath.getName
                  (if (lin == "main") GraftTsvManifest.genNumber(n)
                   else GraftTsvManifest.branchGenNumber(
                     n, lin.stripPrefix("branch:"))).map(_ -> c.getPath)
                }
              }
              val exclManifest = exclGens.collectFirst { case (`x`, mp) => mp }
                .getOrElse(throw new IllegalArgumentException(
                  s"graft-tsv: diff.exclude.generation $x is not available " +
                    s"in ${st.getPath}" +
                    excludeLineage.map(l => s" (lineage $l)").getOrElse("") +
                    s" (retained: " +
                    s"${exclGens.map(_._1).sorted.mkString(", ")}) — older " +
                    "generations are reclaimed by cleanup; raise the " +
                    "retain.generations write option to keep a deeper history"))
              val shared = GraftTsvManifest.read(fs, exclManifest).toSet
              present.filterNot(e => shared.contains(e._2))
          }
        }
      } else {
        require(partCols.isEmpty,
          s"graft-tsv: partition.columns set but $path matches a plain file")
        Seq((st, st.getPath.getName, Array.empty[String], ""))
      }
    }
    expanded
      .collect { case (st, rel, vals, stats)
          if st.getLen > 0 && {
            val n = st.getPath.getName
            !n.startsWith("_") && !n.startsWith(".")
          } =>
        GraftTsvFileEntry(st.getPath.toString, rel, st.getLen, vals,
          GraftTsvManifest.parseStats(stats),
          GraftTsvManifest.rowCountOf(stats),
          GraftTsvManifest.parseBlocks(stats))
      }
      .sortBy(_.path)
  }

  /** Drop whole FILES at planning, two ways, both with the same compiled
    * Spark-semantics comparators the readers use — and both composing
    * with runtime filtering (a join's realized key set prunes files here
    * on the re-plan, not just rows):
    *  - hive partition values failing a partition-column predicate — the
    *    pruning that turns a corpus scan into a partition scan;
    *  - manifest column RANGES excluding a data-column predicate — file
    *    skipping without partitioning (the writer records per-file
    *    min/max; absent stats keep the file, so skipping can only ever
    *    UNDER-prune). */
  private[sources] def pruneFiles(
      files: Seq[GraftTsvFileEntry], filters: Array[Filter]): Seq[GraftTsvFileEntry] = {
    val single = filters.filter(_.references.length == 1)
    // `_file` predicates (the row-level runtime group filter, typically
    // IN(<matched files>)) prune at file granularity against the listed
    // absolute path — the reader-side constant uses the same string, so
    // pruning here and evaluating there can never disagree
    val afterFile = {
      val filePreds = single
        .filter(f => f.references.head == GraftTsvMeta.FileCol &&
          !fullSchema.fieldNames.contains(GraftTsvMeta.FileCol))
        .map(GraftTsvPushdown.compile(
          StructType(Seq(StructField(GraftTsvMeta.FileCol, StringType))), _))
      if (filePreds.isEmpty) files
      else files.filter { e =>
        val v = UTF8String.fromString(e.path)
        filePreds.forall { case (_, test) => test(v) }
      }
    }
    val afterPart =
      if (partCols.isEmpty) afterFile
      else {
        val partSchema =
          StructType(partCols.map(c => fullSchema(fullSchema.fieldIndex(c))))
        val partSet = partCols.toSet
        val preds = single
          .filter(f => partSet.contains(f.references.head))
          .map(GraftTsvPushdown.compile(partSchema, _))
        if (preds.isEmpty) afterFile
        else afterFile.filter { e =>
          val typed = e.partVals.zipWithIndex.map { case (raw, i) =>
            if (raw == null) null
            else GraftTsvPushdown.convertCell(partSchema(i).dataType, raw)
          }
          preds.forall { case (i, test) => test(typed(i)) }
        }
      }
    // stats predicates compile ONCE per planning — literals converted
    // here, not per file (a runtime IN carries thousands of keys, and
    // per-file literal conversion would make re-planning O(files × keys))
    val statPreds = single.flatMap(compileStatPred)
    if (statPreds.isEmpty) afterPart
    else afterPart.filter { e =>
      e.stats.isEmpty || statPreds.forall { case (c, tn, dt, test) =>
        statsFor(e.stats, c) match {
          case Some((fileType, mnRaw, mxRaw)) if fileType == tn =>
            // the TYPE TAG must match the READ schema's type: min/max
            // order is type-specific, and a reader may legally declare a
            // different type than the writer used — mismatched ordering
            // would over-prune, so such entries are ignored
            try test(GraftTsvPushdown.convertCell(dt, mnRaw),
              GraftTsvPushdown.convertCell(dt, mxRaw))
            catch { case _: RuntimeException => true } // corrupt cell: keep
          case _ => true
        }
      }
    }
  }

  /** A single-column filter compiled to a conservative (min, max) test:
    * false ONLY when the file's recorded range PROVABLY excludes every
    * matching value. */
  private def compileStatPred(f: Filter)
      : Option[(String, String, DataType, (Any, Any) => Boolean)] = {
    val c = f.references.head
    if (!fullSchema.fieldNames.contains(c)) return None
    val dt = fullSchema(fullSchema.fieldIndex(c)).dataType
    if (!GraftTsvPushdown.supportedType(dt)) return None
    def lit(v: Any) = GraftTsvPushdown.litFor(dt, v)
    def cmp(a: Any, b: Any) = GraftTsvPushdown.cmp(dt, a, b)
    val testOpt: Option[(Any, Any) => Boolean] = f match {
      case EqualTo(_, v) if v != null =>
        val l = lit(v)
        Some((mn, mx) => cmp(l, mn) >= 0 && cmp(l, mx) <= 0)
      case In(_, vs) if vs != null && vs.forall(_ != null) =>
        val ls = vs.map(lit)
        Some((mn, mx) => ls.exists(l => cmp(l, mn) >= 0 && cmp(l, mx) <= 0))
      case GreaterThan(_, v) if v != null =>
        val l = lit(v); Some((_, mx) => cmp(mx, l) > 0)
      case GreaterThanOrEqual(_, v) if v != null =>
        val l = lit(v); Some((_, mx) => cmp(mx, l) >= 0)
      case LessThan(_, v) if v != null =>
        val l = lit(v); Some((mn, _) => cmp(mn, l) < 0)
      case LessThanOrEqual(_, v) if v != null =>
        val l = lit(v); Some((mn, _) => cmp(mn, l) <= 0)
      case _ => None // IsNotNull etc: min/max cannot exclude
    }
    testOpt.map(t => (c, dt.typeName, dt, t))
  }

  /** One listing per BATCH scan: estimateStatistics and
    * planInputPartitions (and repeated stats consultations by the
    * planner) share this snapshot, so a query pays exactly one directory
    * listing — against an object store with 100k+ files each listing is
    * thousands of paged LIST calls of driver latency, and a second one
    * would also race concurrent file arrival between stats and planning. */
  private lazy val batchListing: Seq[GraftTsvFileEntry] = listFiles()

  /** One InputPartition per byte range: planning is METADATA-ONLY (a file
    * listing — no data read), so planning cost is O(files), not O(bytes);
    * the ranges give a 100 TB single-directory scan bytes/splitBytes-way
    * parallelism regardless of file count. Partition-pruned by the static
    * pushed filters AND — on the re-plan BatchScanExec triggers after
    * runtime filtering — by the realized join key set, so a selective
    * join reads only the matching hive partitions' bytes; split-pruned
    * by the per-block manifest stats ([[splitsFor]]). */
  override def planInputPartitions(): Array[InputPartition] = {
    // the factory's const-column set includes the sign column in change
    // mode — a BATCH read through it would mis-map line fields
    require(!streamChanges,
      "graft-tsv: stream.changes=true is a streaming-read option " +
        "(readStream); batch diffs are the changes feed " +
        "(GraftTsvCatalog.changes)")
    val filters = pushed ++ factory.runtimeFilters
    val statPreds = compiledStatPreds(filters)
    val pruned = pruneFiles(batchListing, filters)
    // row-level rewrite scans report the planned FILES (the groups the
    // operation replaces) back to the operation; see GraftTsvRowLevelOperation
    onPlanned.foreach(_(pruned.map(_.rel)))
    // pushed LIMIT: enough leading files to cover n rows (see pushLimit's
    // scaladoc for the decline conditions — all re-checked here because
    // runtime filters arrive after the limit was pushed)
    val planned = pushedLimit match {
      case Some(n) if filters.isEmpty && partCols.isEmpty &&
          pruned.forall(_.rows.isDefined) =>
        var cum = 0L
        val b = Seq.newBuilder[GraftTsvFileEntry]
        val it = pruned.iterator
        while (cum < n && it.hasNext) {
          val e = it.next(); b += e; cum += e.rows.getOrElse(0L)
        }
        b.result()
      case _ => pruned
    }
    planned.flatMap(splitsFor(_, statPreds)).toArray
  }

  /** The stat predicates compiled ONCE per planning (literal conversion
    * is per-predicate here, not per file or per split — a runtime IN can
    * carry thousands of keys). */
  private[sources] def compiledStatPreds(filters: Array[Filter])
      : Array[(String, String, DataType, (Any, Any) => Boolean)] =
    filters.filter(_.references.length == 1).flatMap(compileStatPred)

  /** Byte-range splits of one file, minus the splits whose overlapping
    * stats BLOCKS all provably exclude a predicate — parquet-row-group-
    * style skipping INSIDE large files, where file-level pruning is
    * powerless (one big sorted file matches almost any range overall,
    * but each split overlaps only a few blocks). Correctness: block
    * bounds are line boundaries, and every line a split is responsible
    * for (start position in (off, off+len], plus 0 for the first split)
    * lies inside a block intersecting [off, off+len] — so a split whose
    * intersecting blocks are ALL excluded provably owns no matching
    * line. Absent blocks, absent stats, or type-tag mismatches keep the
    * split: skipping only ever under-prunes. */
  private[sources] def splitsFor(
      e: GraftTsvFileEntry,
      statPreds: Array[(String, String, DataType, (Any, Any) => Boolean)])
      : Seq[GraftTsvInputPartition] = {
    def blockExcluded(stats: Map[String, (String, String, String)]): Boolean =
      statPreds.exists { case (c, tn, dt, test) =>
        statsFor(stats, c) match {
          case Some((fileType, mnRaw, mxRaw)) if fileType == tn =>
            try !test(GraftTsvPushdown.convertCell(dt, mnRaw),
              GraftTsvPushdown.convertCell(dt, mxRaw))
            catch { case _: RuntimeException => false } // corrupt cell: keep
          case _ => false
        }
      }
    def allSplits: Seq[GraftTsvInputPartition] =
      (0L until e.len by splitBytes).map { off =>
        GraftTsvInputPartition(e.path, off, math.min(splitBytes, e.len - off),
          e.partVals, partTypes)
      }
    // pruning is sound only when the blocks TILE the whole file — a gap
    // (corrupt/dropped entry, external rewrite) means a split's rows can
    // live in bytes no surviving block represents, and "all intersecting
    // blocks excluded" proves nothing about them. One O(blocks) check per
    // file; failure keeps every split (under-prune only).
    val blocks = e.blocks
    val tiled = blocks.nonEmpty && blocks.head._1 == 0L &&
      blocks.last._2 >= e.len &&
      (1 until blocks.length).forall(i => blocks(i)._1 == blocks(i - 1)._2)
    if (statPreds.isEmpty || !tiled) return allSplits
    // per-block exclusion decided ONCE per file (literal/stat conversion
    // per block, not per overlapping split), then a single merge-style
    // sweep: blocks are in ascending byte order, so planning is
    // O(splits + blocks) per file, not O(splits × blocks) — a TB-scale
    // sorted file has ~16k splits × ~260k blocks, where the quadratic
    // form is minutes of driver time per (re-)plan.
    val excl = blocks.map(b => blockExcluded(b._3)).toArray
    val out = Seq.newBuilder[GraftTsvInputPartition]
    var j = 0
    var off = 0L
    while (off < e.len) {
      val len = math.min(splitBytes, e.len - off)
      while (j < blocks.length && blocks(j)._2 <= off) j += 1
      // blocks intersecting [off, off+len] start at j (tiling ⇒ nonempty);
      // a split stays dead only while every intersecting block excludes
      var k = j
      var dead = true
      while (dead && k < blocks.length && blocks(k)._1 <= off + len) {
        if (!excl(k)) dead = false
        k += 1
      }
      if (!dead) out += GraftTsvInputPartition(e.path, off, len, e.partVals,
        partTypes)
      off += splitBytes
    }
    out.result()
  }

  // ONE factory per scan, handed out every time: Spark forces the factory
  // during PLANNING (supportsColumnar probes it) — before filter() runs at
  // execution — so a factory built with a frozen filter set would never
  // see the runtime keys. filter() mutates the cached factory instead;
  // tasks serialize it at job submit, which is AFTER BatchScanExec calls
  // filter() (filteredPartitions is evaluated first), so executors get
  // the final set.
  private lazy val factory =
    new GraftTsvReaderFactory(fullSchema, required, pushed, delimiter, header,
      countOnly, hconf,
      // change-feed mode: the sign column is split-constant — thread it
      // through the SAME machinery as hive partition values (in the
      // schema, never in the data lines, value carried by the split)
      if (streamChanges) partCols :+ GraftTsvMeta.ChangeCol else partCols,
      opts.vectorized && !fileFilterOnly)

  override def createReaderFactory(): PartitionReaderFactory = factory

  override def estimateStatistics(): Statistics = {
    // statically-pruned size: CBO decisions see the partitions/files the
    // query will actually read, not the whole table. When every
    // surviving file carries a writer-recorded row count, report exact
    // numRows too — cardinality beats bytes-only for join estimates.
    val pruned = pruneFiles(batchListing, pushed)
    if (countOnly) {
      // under pushed COUNT(*) the scan's REAL output is one partial-count
      // row per planned split — reporting the table's row total here
      // would hand post-pushdown CBO a cardinality orders of magnitude
      // above the relation's actual output
      val statPreds = compiledStatPreds(pushed)
      val splits = pruned.iterator.map(e => splitsFor(e, statPreds).size.toLong).sum
      return new Statistics {
        override def sizeInBytes(): OptionalLong =
          OptionalLong.of(splits * 8L) // one long per split
        override def numRows(): OptionalLong = OptionalLong.of(splits)
      }
    }
    // Pushed predicates never leave a residual Filter node (the reader
    // evaluates them exactly), so no FilterEstimation ever runs above
    // this scan — if the estimate ignored them, a 1%-selective pushed
    // range would still be costed as the full (file-pruned) table and a
    // broadcast-able join side would stay sort-merge. Estimate their
    // selectivity here from the SAME manifest column bounds file
    // skipping uses (uniformity assumption, miniature FilterEstimation),
    // and scale rows and bytes by it.
    val bounds = manifestBounds(pruned)
    val sel = pushedSelectivity(bounds)
    val bytes = math.max(1L, math.round(pruned.map(_.len).sum * sel))
    val rowTotal: Option[Long] =
      if (pruned.nonEmpty && pruned.forall(_.rows.isDefined))
        Some(math.max(1L, math.round(pruned.flatMap(_.rows).sum * sel)))
      else None
    // The same bounds surface as V2 column statistics: with these,
    // catalyst filter estimation can compute a (non-pushed) range
    // predicate's selectivity and shrink the estimated output — which
    // is what lets the planner flip a selective-filter join to
    // broadcast on a TSV dim instead of assuming the filter keeps
    // everything.
    val colStats = new java.util.HashMap[
      org.apache.spark.sql.connector.expressions.NamedReference,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
    bounds.foreach { case (name, (_, mn, mx)) =>
      colStats.put(
        org.apache.spark.sql.connector.expressions.Expressions.column(name),
        new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
          override def min(): java.util.Optional[Object] =
            java.util.Optional.of(mn.asInstanceOf[Object])
          override def max(): java.util.Optional[Object] =
            java.util.Optional.of(mx.asInstanceOf[Object])
        })
    }
    new Statistics {
      override def sizeInBytes(): OptionalLong = OptionalLong.of(bytes)
      override def numRows(): OptionalLong =
        rowTotal.fold(OptionalLong.empty())(OptionalLong.of)
      override def columnStats(): java.util.Map[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = colStats
    }
  }

  /** Per-column (type, typed min, typed max) aggregated over the PRUNED
    * listing — the ONE place manifest stats cells become planner bound
    * inputs, shared by the V2 column statistics and the pushed-filter
    * selectivity estimate. A column qualifies only when EVERY surviving
    * file records a matching-type cell for it (one unknown file =
    * unbounded column); numeric/date only (string bounds don't drive
    * estimation); a corrupt cell omits the column. */
  private def manifestBounds(pruned: Seq[GraftTsvFileEntry])
      : Map[String, (DataType, Any, Any)] =
    if (pruned.isEmpty) Map.empty
    else fullSchema.fields.iterator.flatMap { f =>
      val dt = f.dataType
      val numeric = dt match {
        case LongType | IntegerType | DoubleType | DateType => true
        case _ => false
      }
      if (!numeric) None
      else {
        val cells = pruned.map(e => statsFor(e.stats, f.name))
        if (!cells.forall(_.exists(_._1 == dt.typeName))) None
        else try {
          val bs = cells.map(_.get).map { case (_, mnRaw, mxRaw) =>
            (GraftTsvPushdown.convertCell(dt, mnRaw),
              GraftTsvPushdown.convertCell(dt, mxRaw))
          }
          val mn = bs.map(_._1)
            .reduce((a, b) => if (GraftTsvPushdown.cmp(dt, a, b) <= 0) a else b)
          val mx = bs.map(_._2)
            .reduce((a, b) => if (GraftTsvPushdown.cmp(dt, a, b) >= 0) a else b)
          Some(f.name -> ((dt, mn, mx)))
        } catch { case _: RuntimeException => None }
      }
    }.toMap

  /** Numeric/date internal value → double axis for interpolation. */
  private def toD(v: Any): Double = v match {
    case l: java.lang.Long => l.toDouble
    case i: java.lang.Integer => i.toDouble
    case d: java.lang.Double => d
    case other => throw new IllegalArgumentException(s"non-numeric $other")
  }

  /** Estimated fraction of rows surviving the pushed predicates, from
    * the aggregated [[manifestBounds]]: linear interpolation for ranges
    * (uniformity assumption — CBO's own default), a fixed default for
    * equality/IN (no distinct counts in the manifest), 1.0 where bounds
    * are unknown. Estimation only — execution correctness never depends
    * on it. */
  private def pushedSelectivity(bounds: Map[String, (DataType, Any, Any)]): Double = {
    if (bounds.isEmpty || pushed.isEmpty) return 1.0
    def boundsOf(c: String): Option[(Double, Double)] =
      bounds.get(c).flatMap { case (_, mnV, mxV) =>
        try {
          val (mn, mx) = (toD(mnV), toD(mxV))
          if (mn.isNaN || mx.isNaN) None else Some((mn, mx))
        } catch { case _: RuntimeException => None }
      }
    def litD(c: String, v: Any): Option[Double] = {
      val dt = fullSchema(fullSchema.fieldIndex(c)).dataType
      try Some(toD(GraftTsvPushdown.litFor(dt, v)))
      catch { case _: RuntimeException => None }
    }
    def frac(c: String, v: Any, below: Boolean): Double =
      (boundsOf(c), litD(c, v)) match {
        case (Some((mn, mx)), Some(l)) =>
          if (mx <= mn) { // degenerate range: all rows share one value
            val in = if (below) l >= mn else l <= mn
            if (in) 1.0 else 0.0
          } else {
            val f = (l - mn) / (mx - mn)
            val g = if (below) f else 1.0 - f
            math.min(1.0, math.max(0.0, g))
          }
        case _ => 1.0
      }
    val EqSel = 0.05 // CBO default in the absence of distinct counts
    val sels = pushed.iterator.map {
      case LessThan(c, v) => frac(c, v, below = true)
      case LessThanOrEqual(c, v) => frac(c, v, below = true)
      case GreaterThan(c, v) => frac(c, v, below = false)
      case GreaterThanOrEqual(c, v) => frac(c, v, below = false)
      case EqualTo(c, v) if boundsOf(c).isDefined =>
        (boundsOf(c), litD(c, v)) match {
          case (Some((mn, mx)), Some(l)) if l < mn || l > mx => 0.0
          case _ => EqSel
        }
      case In(c, vs) if boundsOf(c).isDefined && vs != null =>
        math.min(1.0, EqSel * vs.length)
      case _ => 1.0 // IsNotNull, string predicates: unknown
    }
    sels.product
  }

  override def supportedCustomMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    Array(new GraftTsvLinesReadMetric, new GraftTsvRowsEmittedMetric)

  /** Streaming seam of the same scan — see [[GraftTsvMicroBatchStream]].
    * The micro-batches reuse this scan's reader factory, so whatever the
    * ScanBuilder negotiated (projection, predicates, metrics) rides along
    * unchanged — the "declarative plan doesn't know its source is
    * bounded" claim at the connector level. */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    // STREAMING READS refuse a branch: the generation stream's offset
    // clock (listGenerations) follows the MAIN manifest chain while a
    // branch-scoped scan would resolve those pins inside the branch
    // chain — a silent main/branch mix; and the file-arrival stream
    // ignores manifests entirely, so a branch option there would be
    // silently meaningless. Batch-read the branch, or merge it first.
    require(branch.isEmpty,
      "graft-tsv: a streaming read cannot target a branch — offsets ride " +
        "the MAIN manifest chain; batch-read the branch (or merge it) instead")
    if (streamByGeneration)
      new GraftTsvGenerationStream(this, streamAllowRewrites, streamChanges,
        maxFilesPerTrigger)
    else new GraftTsvMicroBatchStream(this, splitBytes, maxFilesPerTrigger)
  }

  /** Retained generation numbers of the table directory, sorted — the
    * generation stream's offset domain. Single-directory tables only
    * (a glob of directories has no shared generation clock). */
  private[sources] def listGenerations(): Seq[Long] = {
    val p = new Path(path)
    val fs = p.getFileSystem(hconf.value)
    val matched = Option(fs.globStatus(p)).map(_.toSeq).getOrElse(Seq.empty)
      .filter(_.isDirectory)
    require(matched.size <= 1,
      s"graft-tsv: stream.by.generation needs ONE table directory, " +
        s"$path matches ${matched.size}")
    matched.flatMap(st => fs.listStatus(st.getPath).toSeq
      .flatMap(c => GraftTsvManifest.genNumber(c.getPath.getName))).sorted
  }
}

/** Micro-batch FILE-ARRIVAL streaming over a graft-tsv directory: batch
  * (start, end] is "the files that arrived since the last trigger", each
  * cut into the same byte-range splits as the batch scan and read by the
  * SAME reader factory (pushdown + pruning + metrics included).
  *
  * The offset is (count, high-water NAME) of the name-sorted listing —
  * O(1) in the checkpoint regardless of files-ever-seen, unlike a
  * seen-files map. That works under the standard log-rotation contract:
  * file names are MONOTONIC (a new arrival sorts after every processed
  * file — timestamped or counter-suffixed names give this for free; the
  * graft-tsv batch writer's job-unique part names do NOT promise
  * cross-job order, so feed a streaming dir from one writer or
  * timestamp-rotated names) and processed files are immutable. The
  * contract is ENFORCED, not assumed, and STATELESSLY — every batch plan
  * revalidates against its start offset alone, so the check survives
  * query restarts: if the files at/below start.hi are no longer exactly
  * start.n (late-sorting arrival ⇒ would be silently skipped; deletion ⇒
  * the window would shift), the stream fails naming the violation
  * instead of losing data. */
final class GraftTsvMicroBatchStream(scan: GraftTsvScan, splitBytes: Long,
    maxFilesPerTrigger: Option[Int] = None)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit, ReadMaxFiles}

  private case class FilesOffset(n: Int, hi: String) extends Offset {
    override def json(): String = {
      val esc = hi.replace("\\", "\\\\").replace("\"", "\\\"")
      s"""{"n":$n,"hi":"$esc"}"""
    }
  }

  private val OffsetRe = """\{"n":(\d+),"hi":"(.*)"\}""".r

  override def initialOffset(): Offset = FilesOffset(0, "")

  override def deserializeOffset(json: String): Offset = json.trim match {
    case OffsetRe(n, hi) =>
      FilesOffset(n.toInt, hi.replace("\\\"", "\"").replace("\\\\", "\\"))
    case other =>
      throw new IllegalArgumentException(s"graft-tsv streaming offset: $other")
  }

  // One listing per trigger, not three: snapshot() (latestOffset) caches
  // the listing keyed by the offset it produced, and planInputPartitions
  // reuses it when planning to that same end offset — only a restart
  // (end offset recovered from the checkpoint, no cached snapshot)
  // re-lists. The monotonic-contract validation runs against whichever
  // listing is actually used.
  @volatile private var lastSnapshot: (FilesOffset, Seq[GraftTsvFileEntry]) = _

  private def snapshot(): FilesOffset = {
    val files = scan.listFiles() // name-sorted
    val off = FilesOffset(files.size, files.lastOption.map(_.path).getOrElse(""))
    lastSnapshot = (off, files)
    off
  }

  // Trigger.AvailableNow: pin the end offset at prepare time so the run
  // drains exactly the data present at start and stops — files arriving
  // mid-run belong to the next invocation.
  @volatile private var availableNowEnd: Option[FilesOffset] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEnd = Some(snapshot())

  override def latestOffset(): Offset =
    availableNowEnd.getOrElse(snapshot())

  /** ADMISSION CONTROL (`max.files.per.trigger`): the source advertises
    * `ReadLimit.maxFiles(k)` as its default, and the per-trigger end
    * offset advances at most k files past `start` — a backlogged
    * directory drains in bounded micro-batches instead of one giant
    * catch-up batch whose state update and sink commit dwarf the steady
    * state. Under Trigger.AvailableNow the PINNED snapshot stays the
    * overall goalpost: each batch takes ≤ k files from the remaining
    * window and Spark keeps triggering until the pinned end is reached,
    * so the drain-everything-then-stop contract survives rate limiting.
    * Without the option the previous behavior is unchanged (drain to the
    * snapshot in one batch). */
  override def getDefaultReadLimit: ReadLimit =
    maxFilesPerTrigger.map(ReadLimit.maxFiles).getOrElse(ReadLimit.allAvailable())

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val endAll = latestOffset().asInstanceOf[FilesOffset]
    val cap = limit match {
      case mf: ReadMaxFiles => Some(mf.maxFiles())
      case _ => None
    }
    cap match {
      case None => endAll
      case Some(k) =>
        val s = start.asInstanceOf[FilesOffset]
        val snap = lastSnapshot
        val files =
          if (snap != null && snap._1 == endAll) snap._2 else scan.listFiles()
        val window = files.filter(f =>
          f.path > s.hi && (endAll.hi.isEmpty || f.path <= endAll.hi))
        val take = window.take(k)
        if (take.isEmpty) s
        else FilesOffset(s.n + take.size, take.last.path)
    }
  }

  override def planInputPartitions(start: Offset, `end`: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[FilesOffset]
    val e = `end`.asInstanceOf[FilesOffset]
    val snap = lastSnapshot
    val files = if (snap != null && snap._1 == e) snap._2 else scan.listFiles()
    val below = files.filter(_.path <= s.hi)
    if (below.size != s.n)
      throw new IllegalStateException(
        s"graft-tsv streaming: directory mutated non-monotonically — " +
          s"expected ${s.n} files at/below processed high-water '${s.hi}', " +
          s"found ${below.size} (${below.map(_.path).takeRight(3).mkString(", ")}); " +
          "file names must be monotonic (rotate by timestamp/counter) and " +
          "processed files immutable; refusing to silently skip or re-read")
    val slice = files.filter(f => f.path > s.hi && (e.hi.isEmpty || f.path <= e.hi))
    // replay of a committed batch (query restart): the slice between the
    // two offsets must still hold exactly the files the original batch
    // read — a file deleted from INSIDE the (start.hi, end.hi] window
    // would otherwise be silently omitted from the replayed batch
    if (slice.size != e.n - s.n)
      throw new IllegalStateException(
        s"graft-tsv streaming: directory mutated non-monotonically — " +
          s"batch (${s.hi}, ${e.hi}] expected ${e.n - s.n} files, found " +
          s"${slice.size} (${slice.map(_.path).takeRight(3).mkString(", ")}); " +
          "file names must be monotonic and processed files immutable; " +
          "refusing to silently skip or re-read")
    // the same block-stats split pruning as the batch path — the pushed
    // predicates ride the scan, so a filtered stream skips dead splits
    val statPreds = scan.compiledStatPreds(scan.pushedFilters)
    slice.flatMap(f => scan.splitsFor(f, statPreds)).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    scan.createReaderFactory()

  override def commit(`end`: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** GENERATION streaming (`stream.by.generation=true`): micro-batches
  * follow the table's COMMIT clock instead of file arrival — offset =
  * generation number, batch (s, e] = the part files e's manifest lists
  * that s's does not (the same planning seam as the changes feed). The
  * first batch from a fresh checkpoint is the INITIAL SNAPSHOT (every
  * file of the then-current generation); each later batch is exactly one
  * or more commits' appended files. This is the incremental-consumer
  * contract a curation pipeline wants downstream of a mutating catalog
  * table: "give me each commit's inserts, exactly once, resumable" —
  * where the file-arrival stream wants a log-rotation directory, this
  * wants a TABLE, and inherits none of the name-monotonicity contract
  * (manifests pin file sets; names are irrelevant).
  *
  * APPEND-ONLY BY CONTRACT: a commit that DROPPED files (delete, merge,
  * compact, zorder, overwrite — any copy-on-write rewrite) fails the
  * stream with a named error, because a file-level feed would re-emit a
  * rewritten file's carried-over rows as if they were new data. The
  * `stream.allow.rewrites=true` opt-out accepts that re-emission
  * (downstream dedup by key, or layout-only compacts where re-reads are
  * tolerable); row-exact rewrite diffs are the batch changes feed's job
  * (`GraftTsvCatalog.changes` — its signed aggregate needs both sides
  * complete and is not expressible inside a streaming scan).
  *
  * CHANGE-FEED MODE (`stream.changes=true`): every batch emits BOTH
  * diff directions — added files' rows signed `insert`, dropped files'
  * rows signed `delete` (the virtual [[GraftTsvMeta.ChangeCol]] column,
  * split-constant like a hive partition value). Rewrites are legal here
  * by construction: a copy-on-write commit streams as delete(old) +
  * insert(new), the carried-over rows cancel under signed aggregation,
  * and only the true row delta survives — the streaming side of
  * incremental view maintenance (q_stream_ivm; restart/cancellation
  * semantics pinned in Dsv2GenStreamSpec).
  *
  * Retention interaction: offsets are generations, so a paused consumer
  * must resume within the retention window — a reclaimed start
  * generation fails at planning naming the retained window and the
  * `retain.generations` knob (deepen it to the longest pause you need
  * to survive). Batches re-list by pinned endpoints, so a replayed
  * committed batch reads byte-identical input (manifests are immutable
  * once published). */
final class GraftTsvGenerationStream(scan: GraftTsvScan, allowRewrites: Boolean,
    changes: Boolean = false, maxFilesPerTrigger: Option[Int] = None)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.Offset

  private case class GenOffset(gen: Long) extends Offset {
    override def json(): String = s"""{"gen":$gen}"""
  }

  private val OffsetRe = """\{"gen":(\d+)\}""".r

  /** 0 = nothing consumed: the first batch (0, current] is the initial
    * snapshot of whatever generation is current at the first trigger. */
  override def initialOffset(): Offset = GenOffset(0L)

  override def deserializeOffset(json: String): Offset = json.trim match {
    case OffsetRe(g) => GenOffset(g.toLong)
    case other =>
      throw new IllegalArgumentException(s"graft-tsv generation offset: $other")
  }

  @volatile private var availableNowEnd: Option[GenOffset] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEnd = Some(current())

  private def current(): GenOffset =
    GenOffset(scan.listGenerations().lastOption.getOrElse(0L))

  override def latestOffset(): Offset = availableNowEnd.getOrElse(current())

  /** Admission control: by DEFAULT one trigger drains to the (possibly
    * pinned) latest generation in ONE batch — maximal coalescing, which
    * is also the cheapest shape: in change-feed mode a coalesced range
    * (s, e] cancels every intermediate rewrite's carried-over files at
    * PLANNING time, while subdivided batches re-emit them signed both
    * ways (correct under the consumer's net aggregate, but paid in
    * bytes). `max.files.per.trigger` opts into bounded batches anyway —
    * the latency/cost trade a continuously-ingesting consumer tunes
    * (measured in SCALE.md §34): the offset advances generation by
    * generation until the batch's incremental file count would exceed
    * the budget, always admitting at least one generation so the stream
    * can never stall. */
  override def getDefaultReadLimit
      : org.apache.spark.sql.connector.read.streaming.ReadLimit =
    maxFilesPerTrigger
      .map(org.apache.spark.sql.connector.read.streaming.ReadLimit.maxFiles)
      .getOrElse(
        org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable())

  override def latestOffset(start: Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit): Offset = {
    val cap = availableNowEnd.getOrElse(current()).gen
    val s = start.asInstanceOf[GenOffset].gen
    limit match {
      case mf: org.apache.spark.sql.connector.read.streaming.ReadMaxFiles =>
        val gens = scan.listGenerations().filter(g => g > s && g <= cap)
        if (gens.isEmpty) GenOffset(cap.max(s))
        else {
          var budget = mf.maxFiles().toLong
          var end = s
          var admitted = 0
          val it = gens.iterator
          var stop = false
          while (it.hasNext && !stop) {
            val g = it.next()
            val n =
              (if (end == 0L) scan.listFilesAt(Some(g), None)
               else scan.listFilesAt(Some(g), Some(end))).size.toLong
            if (admitted == 0 || n <= budget) {
              budget -= n; end = g; admitted += 1
            } else stop = true
          }
          GenOffset(end)
        }
      case _ => GenOffset(cap)
    }
  }

  override def planInputPartitions(start: Offset, `end`: Offset)
      : Array[InputPartition] = {
    val s = start.asInstanceOf[GenOffset].gen
    val e = `end`.asInstanceOf[GenOffset].gen
    if (e <= s) return Array.empty
    val statPreds = scan.compiledStatPreds(scan.pushedFilters)
    // CHANGE-FEED mode (`stream.changes=true`): batch (s, e] = the files
    // e's manifest lists that s's does not, signed `insert`, PLUS the
    // files s lists that e does not, signed `delete` — file-level signed
    // re-emission. A copy-on-write rewrite (DELETE/UPDATE/MERGE) thus
    // streams as delete(old file) + insert(new file); the carried-over
    // rows appear once with each sign and CANCEL under any commutative
    // signed aggregate, so a downstream view maintained as
    // sum(sign)/sum(sign·x) is row-exact without the batch feed's
    // net-count aggregate — the streaming IVM contract (q_stream_ivm).
    // Compaction/zorder (pure layout rewrites) cancel to zero net effect.
    // The sign rides each split like a hive partition value
    // (GraftTsvMeta.ChangeCol is in the factory's const-column set).
    if (changes) {
      def signed(fs: Seq[GraftTsvFileEntry], sign: String) =
        fs.flatMap(f => scan.splitsFor(f, statPreds))
          .map(sp => sp.copy(partVals = sp.partVals :+ sign))
      val inserts =
        if (s == 0L) scan.listFilesAt(Some(e), None)
        else scan.listFilesAt(Some(e), Some(s))
      val deletes =
        if (s == 0L) Seq.empty else scan.listFilesAt(Some(s), Some(e))
      return (signed(inserts, "insert") ++ signed(deletes, "delete")).toArray
    }
    // initial snapshot reads e whole; an increment excludes s's files
    val files =
      if (s == 0L) scan.listFilesAt(Some(e), None)
      else {
        if (!allowRewrites) {
          val dropped = scan.listFilesAt(Some(s), Some(e))
          if (dropped.nonEmpty)
            throw new IllegalStateException(
              s"graft-tsv generation stream: commits ($s, $e] REWROTE " +
                s"${dropped.size} file(s) (${dropped.take(3).map(_.rel).mkString(", ")}) " +
                "— delete/merge/compact/zorder/overwrite break the " +
                "append-only feed contract (a file-level stream would " +
                "re-emit carried-over rows as new data). Use the batch " +
                "changes feed (GraftTsvCatalog.changes) for row-exact " +
                "diffs, the streaming change feed (stream.changes=true) " +
                "for signed row deltas, or set stream.allow.rewrites=true " +
                "to accept re-emission")
        }
        scan.listFilesAt(Some(e), Some(s))
      }
    files.flatMap(f => scan.splitsFor(f, statPreds)).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    scan.createReaderFactory()

  override def commit(`end`: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** A listed data file plus the hive partition values carved from its
  * directory path (empty when the table is unpartitioned; a null element
  * is `__HIVE_DEFAULT_PARTITION__`) and the per-file column
  * (typeName, min, max) ranges recorded in the manifest (empty =
  * unknown, never pruned). */
private[sources] final case class GraftTsvFileEntry(
    path: String, rel: String, len: Long, partVals: Array[String],
    stats: Map[String, (String, String, String)] = Map.empty,
    rows: Option[Long] = None,
    blocks: Seq[(Long, Long, Map[String, (String, String, String)])] = Seq.empty)

/** One byte-range split of one file. When the table is hive-partitioned,
  * the split carries its partition values TWICE: raw strings (`partVals`,
  * what the readers append to every row) and, via [[HasPartitionKey]],
  * the typed internal form (`partTypes` drives the conversion) — the key
  * Spark's storage-partitioned-join machinery groups splits by. The key
  * is built once per split object and is stable across calls, as the
  * interface requires; an unpartitioned split answers an EMPTY row, which
  * is never consulted because the scan then reports unknown partitioning. */
final case class GraftTsvInputPartition(
    file: String, start: Long, length: Long,
    partVals: Array[String] = Array.empty,
    partTypes: Array[DataType] = Array.empty)
    extends InputPartition with HasPartitionKey {
  @transient private lazy val key: InternalRow =
    new GenericInternalRow(partVals.zip(partTypes).map {
      case (null, _) => null
      case (raw, dt) => GraftTsvPushdown.convertCell(dt, raw)
    }: Array[Any])
  override def partitionKey(): InternalRow = key
}

/** SQL-metric surface of the scan (the no-silent-work rule applied to the
  * connector): `linesRead` counts every line the readers consumed,
  * `rowsEmitted` what survived the pushed predicates — their difference
  * is the measured selectivity the pushdown bought, visible in the Spark
  * UI / `BatchScanExec.metrics` instead of inferred. */
final class GraftTsvLinesReadMetric extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "linesRead"
  override def description(): String = "lines read from byte-range splits"
}
final class GraftTsvRowsEmittedMetric extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "rowsEmitted"
  override def description(): String = "rows surviving in-reader pushdown"
}
final case class GraftTsvTaskMetric(metricName: String, metricValue: Long)
    extends org.apache.spark.sql.connector.metric.CustomTaskMetric {
  override def name(): String = metricName
  override def value(): Long = metricValue
}

final class GraftTsvReaderFactory(
    fullSchema: StructType,
    required: StructType,
    pushed: Array[Filter],
    delimiter: Char,
    header: Boolean,
    countOnly: Boolean,
    hconf: SerializableHadoopConf,
    partCols: Seq[String] = Seq.empty,
    vectorized: Boolean = true) extends PartitionReaderFactory {
  /** Set by GraftTsvScan.filter() when runtime filtering delivers the
    * realized join key set — AFTER this factory was built (see the
    * factory-caching note on the scan). Shipped to executors by the
    * factory's own task serialization. */
  @volatile var runtimeFilters: Array[Filter] = Array.empty

  /** Vectorized by default ([[GraftTsvColumnarReader]]); the pushed
    * COUNT(*) path stays row-based (its output is one partial-count row
    * per split — nothing to vectorize). A projection of the VIRTUAL
    * `_file` metadata column also takes the row path (it's a rare,
    * metadata-driven shape — the group-filter scan of a row-level
    * operation — not a data hot path). Spark probes this at PLANNING
    * (it decides whether a `ColumnarToRow` bridge is planned), which is
    * why the factory is scan-cached and runtime filters mutate it. */
  override def supportColumnarReads(partition: InputPartition): Boolean =
    vectorized && !countOnly &&
      !(required.fieldNames.contains(GraftTsvMeta.FileCol) &&
        !fullSchema.fieldNames.contains(GraftTsvMeta.FileCol))

  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val p = partition.asInstanceOf[GraftTsvInputPartition]
    new GraftTsvColumnarReader(p, fullSchema, required, pushed ++ runtimeFilters,
      delimiter, header, hconf, partCols)
  }

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GraftTsvInputPartition]
    new GraftTsvPartitionReader(p, fullSchema, required, pushed ++ runtimeFilters,
      delimiter, header, countOnly, hconf, partCols)
  }
}

/** Byte-range line reader with in-reader projection and predicate
  * evaluation. Parses ONLY the fields the projection or a pushed predicate
  * needs (everything else is skipped by scanning delimiter positions), and
  * drops non-matching lines before any InternalRow is built. */
final class GraftTsvPartitionReader(
    split: GraftTsvInputPartition,
    fullSchema: StructType,
    required: StructType,
    pushed: Array[Filter],
    delimiter: Char,
    header: Boolean,
    countOnly: Boolean,
    hconf: SerializableHadoopConf,
    partCols: Seq[String] = Seq.empty) extends PartitionReader[InternalRow] {

  private val end = split.start + split.length

  // index math runs over the AUGMENTED schema (fullSchema + the virtual
  // `_file` metadata column appended, when no real column shadows it) —
  // `_file` is split-constant exactly like a hive partition value
  private val augSchema: StructType = GraftTsvMeta.augment(fullSchema)
  private val virtFileIdx: Int =
    if (augSchema.length > fullSchema.length) fullSchema.length else -1

  // hive layout: partition columns are NOT in the data lines — a line's
  // field at position p is the p-th NON-constant schema field
  private val partSchemaIdx: Array[Int] = partCols.map(fullSchema.fieldIndex).toArray
  private val isConst: Array[Boolean] = {
    val a = new Array[Boolean](augSchema.length)
    partSchemaIdx.foreach(a(_) = true)
    if (virtFileIdx >= 0) a(virtFileIdx) = true
    a
  }
  private val lineFieldSchemaIdx: Array[Int] =
    augSchema.fields.indices.filterNot(isConst).toArray
  private val schemaToLinePos: Array[Int] = {
    val a = Array.fill(augSchema.length)(-1)
    lineFieldSchemaIdx.zipWithIndex.foreach { case (si, lp) => a(si) = lp }
    a
  }

  // line positions needed by projection ∪ predicates (split-constant
  // columns excluded — their values come from the split, not the line)
  private val outIdx: Array[Int] =
    required.fields.map(f => augSchema.fieldIndex(f.name))
  private val filterCols: Array[String] = pushed.flatMap(_.references).distinct
  private val neededIdx: Array[Int] =
    (outIdx ++ filterCols.map(augSchema.fieldIndex)).distinct
      .filterNot(isConst).map(schemaToLinePos).sorted
  private val maxNeeded: Int = if (neededIdx.isEmpty) -1 else neededIdx.max

  // parsed INTERNAL values (Long/Int/Double/epoch-day Int/UTF8String)
  // land in a dense scratch array indexed by AUGMENTED schema position
  // (bounded by the schema width, not the corpus). Partition values and
  // `_file` are CONSTANT for the whole split — converted once here,
  // never re-parsed.
  private val scratch = new Array[Any](augSchema.length)
  partSchemaIdx.zipWithIndex.foreach { case (si, j) =>
    val raw = split.partVals(j)
    scratch(si) =
      if (raw == null) null
      else GraftTsvPushdown.convertCell(fullSchema(si).dataType, raw)
  }
  if (virtFileIdx >= 0) scratch(virtFileIdx) = UTF8String.fromString(split.file)

  /** Pushed predicates compiled to (augmented-schema index, test),
    * compared in the column's INTERNAL type via GraftTsvPushdown's
    * Spark-semantics comparators, converting each literal once.
    * Predicates referencing ONLY split-constant columns (partition
    * values, `_file`) are evaluated once here against the prefilled
    * scratch values (normally true — planning already pruned the files —
    * but runtime filters can arrive for shapes planning could not prune)
    * and excluded from the per-line set, so a partition-key or
    * group-filter runtime IN costs nothing per line. */
  private val (preds, splitAlive): (Array[(Int, Any => Boolean)], Boolean) = {
    val constSet = augSchema.fields.indices.filter(isConst).toSet
    val (constOnly, perLine) = pushed
      .map(GraftTsvPushdown.compile(augSchema, _))
      .partition { case (i, _) => constSet.contains(i) }
    (perLine, constOnly.forall { case (i, test) => test(scratch(i)) })
  }

  private val fs: FileSystem =
    new Path(split.file).getFileSystem(hconf.value)
  private val stream: FSDataInputStream = fs.open(new Path(split.file))
  private var pos: Long = split.start
  private val lineReader: LineReader = {
    if (split.start != 0) {
      stream.seek(split.start)
      val lr = new LineReader(stream)
      // realign: discard the (possibly partial) first line — the previous
      // split owns every line that STARTS at or before our start boundary
      pos += lr.readLine(new Text())
      lr
    } else {
      val lr = new LineReader(stream)
      if (header) pos += lr.readLine(new Text()) // skip the header line
      lr
    }
  }

  private val text = new Text()
  private var current: InternalRow = _
  private var linesRead = 0L
  private var rowsEmitted = 0L

  // A table with EXACTLY ONE data column serializes a NULL (or
  // empty-string) row as an empty line — the writer's documented
  // NULL→empty-field convention leaves nothing else on the line. Such
  // lines are therefore valid rows and must round-trip, not be skipped
  // as garbage; with two or more data columns an empty line can never be
  // a writer-produced row (it would have delimiters) and stays ignored.
  private val emptyLineIsRow: Boolean = lineFieldSchemaIdx.length == 1

  /** Splits `line` on the delimiter, parsing only needed fields into
    * `scratch` (external values). Returns false if the line fails a
    * pushed predicate. */
  private def parseAndFilter(line: String): Boolean = {
    var field = 0
    var from = 0
    var n = 0 // needed-idx cursor
    val len = line.length
    while (n < neededIdx.length && field <= maxNeeded && from <= len) {
      val to0 = line.indexOf(delimiter, from)
      val to = if (to0 < 0) len else to0
      if (field == neededIdx(n)) {
        val si = lineFieldSchemaIdx(field)
        scratch(si) =
          if (to == from && fullSchema(si).dataType != StringType) null
          else convert(fullSchema(si).dataType, line, from, to)
        n += 1
      }
      field += 1
      from = to + 1
      if (to0 < 0 && field <= maxNeeded && n < neededIdx.length) {
        // line ended early: remaining needed fields are null
        while (n < neededIdx.length) {
          scratch(lineFieldSchemaIdx(neededIdx(n))) = null; n += 1
        }
      }
    }
    var i = 0
    while (i < preds.length) {
      val (idx, test) = preds(i)
      if (!test(scratch(idx))) return false
      i += 1
    }
    true
  }

  private def convert(dt: DataType, line: String, from: Int, to: Int): Any =
    GraftTsvPushdown.convertCell(dt, line.substring(from, to))

  private def toRow(): InternalRow = {
    val row = new GenericInternalRow(outIdx.length)
    var i = 0
    while (i < outIdx.length) {
      // scratch values are already INTERNAL (Long/Int/Double/epoch-day
      // Int/UTF8String) — parsed once, compared and emitted with no
      // further conversion
      row.update(i, scratch(outIdx(i)))
      i += 1
    }
    row
  }

  private var countDone = false

  override def next(): Boolean = {
    // Pushed COUNT(*): drain the split counting predicate survivors and
    // emit ONE partial-count row — no per-line InternalRow ever exists.
    // (A partition-predicate-dead split still emits its 0 row: the final
    // sum over zero rows would be NULL, not 0.)
    if (countOnly) {
      if (countDone) return false
      var c = 0L
      if (!splitAlive) pos = end + 1 // skip the drain entirely
      while (pos <= end) {
        val bytes = lineReader.readLine(text)
        if (bytes == 0) { pos = end + 1 } // EOF
        else {
          pos += bytes
          linesRead += 1
          if ((text.getLength > 0 || emptyLineIsRow) &&
              (preds.isEmpty || parseAndFilter(text.toString)))
            c += 1
        }
      }
      rowsEmitted = 1
      current = new GenericInternalRow(Array[Any](c))
      countDone = true
      return true
    }
    if (!splitAlive) return false // a split-constant predicate failed
    // a line belongs to this split iff it STARTS at offset <= end (the
    // next split discards its first line, so we must read through the
    // boundary — TextInputFormat's exactly-once protocol)
    while (pos <= end) {
      val bytes = lineReader.readLine(text)
      if (bytes == 0) return false // EOF
      val line = text.toString
      pos += bytes
      linesRead += 1
      if ((line.nonEmpty || emptyLineIsRow) && parseAndFilter(line)) {
        rowsEmitted += 1
        current = toRow()
        return true
      }
    }
    false
  }

  override def get(): InternalRow = current

  override def currentMetricsValues()
      : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    Array(GraftTsvTaskMetric("linesRead", linesRead),
      GraftTsvTaskMetric("rowsEmitted", rowsEmitted))

  override def close(): Unit = {
    lineReader.close() // closes the underlying stream
  }
}
