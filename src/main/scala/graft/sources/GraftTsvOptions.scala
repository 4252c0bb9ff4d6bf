package graft.sources

import java.util.Locale

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The `graft-tsv` option surface: every table property, read option and
  * write option the connector takes, each with its one parse, default,
  * validation message and precedence. The table, scan, write, row-level
  * rewrite, DELETE and catalog seams read the typed fields below; none of
  * them looks up a key itself. Keys are case-insensitive.
  *
  * Scopes: ''table'' values come with the table (a path table's
  * `load`/`save` options, or the catalog descriptor — see [[catalogTable]]);
  * ''property'' keys are the ones a catalog table may persist as
  * TBLPROPERTIES ([[checkTableProperties]]); ''scan'' and ''write'' keys
  * may also be given per read or per write.
  *
  * {{{
  * key                           scope                 default    value
  * path                          table                 required   table directory (or glob, reads)
  * delimiter                     table                 TAB        exactly one character
  * header                        table, scan           false      true = skip line one of each file
  * partition.columns             table, scan, write    none       CSV of hive partition columns
  * column.aliases                table (catalog)       none       cur>old1,old2;... rename history
  * tags.pinned                   table (catalog)       none       CSV of tag-pinned generations
  * retain.generations            property, write       1          integer >= 1
  * compact.auto.files            property, write       0 (off)    integer >= 2
  * compact.auto.target.bytes     property, write       128 MiB    positive byte count
  * stream.max.files.per.trigger  property              none       integer >= 1
  * max.files.per.trigger         scan                  none       integer >= 1
  * split.bytes                   scan                  64 MiB     positive byte count
  * vectorized.read               scan                  true       false = row reader
  * generation                    table, scan           latest     generation number
  * branch                        table, scan, write    main       1-64 of [A-Za-z0-9_-]
  * diff.exclude.generation       scan                  none       generation number
  * diff.exclude.lineage          scan                  read side  main | branch:<name>
  * stream.by.generation          scan                  false      true = commit-clocked stream
  * stream.allow.rewrites         scan                  false      true = stream past rewrites
  * stream.changes                scan                  false      true = signed change feed
  * stats.block.bytes             write                 4 MiB      positive byte count
  * }}}
  *
  * Precedence: a per-scan option beats the table's value of the same key
  * ([[forScan]]). A per-write option beats the table's value for the
  * write keys only; `path` and `delimiter` always come from the table,
  * and a write `partition.columns` counts only when non-empty
  * ([[forWrite]]). `max.files.per.trigger` beats
  * `stream.max.files.per.trigger`.
  *
  * Each field is parsed the first time a seam reads it, so a key a given
  * read or write never uses is never rejected. A malformed value fails
  * with an `IllegalArgumentException` naming the key. */
final class GraftTsvOptions private (raw: Map[String, String]) {
  import GraftTsvOptions._

  private def opt(key: String): Option[String] = raw.get(key)
  private def flag(key: String): Boolean = opt(key).exists(_.equalsIgnoreCase("true"))
  private def parsed[T](key: String, rule: String)(parse: String => Option[T]): Option[T] =
    opt(key).map(v => parse(v).getOrElse(throw invalid(key, rule, v)))

  def location: Option[String] = opt(Path)
  lazy val path: String = location.getOrElse(
    throw new IllegalArgumentException("graft-tsv: no path given"))
  lazy val delimiter: Char =
    parsed(Delimiter, "exactly one character")(v => Option.when(v.length == 1)(v.charAt(0)))
      .getOrElse('\t')
  lazy val header: Boolean = flag(Header)
  lazy val partCols: Seq[String] = csv(opt(PartitionColumns))

  /** RENAME COLUMN history: current name → the historical names old
    * manifests may key stats under. */
  lazy val aliases: Map[String, Seq[String]] =
    opt(ColumnAliases).toSeq.flatMap(_.split(";").toSeq.filter(_.contains(">")).map { e =>
      val i = e.indexOf('>')
      e.take(i) -> e.drop(i + 1).split(",").toSeq.filter(_.nonEmpty)
    }).toMap

  /** Tag-pinned generations: every publish path retains these manifests
    * and their parts regardless of the `retain.generations` window. */
  lazy val pinned: Set[Long] = csv(opt(TagsPinned)).map(v => v.toLongOption.getOrElse(
    throw invalid(TagsPinned, "a CSV of generation numbers", v))).toSet

  /** Generation-history depth kept by commit cleanup (the time-travel
    * window); floor 1 = the concurrent-reader safety minimum. */
  lazy val retainGenerations: Int = parsed(Retain, "an integer >= 1")(atLeast(1)).getOrElse(1)

  /** Commit-time auto-compaction live-file threshold (0 = off): a batch
    * main-lineage commit leaving at least this many live files runs the
    * `CALL g.system.compact` byte concatenation as a follow-up
    * generation, so an ingest table's file count — and every metadata
    * cost that scales with it — stays bounded without a scheduler. */
  lazy val autoCompactFiles: Int =
    parsed(AutoCompactFiles, "an integer >= 2")(atLeast(2)).getOrElse(0)
  lazy val autoCompactBytes: Long =
    parsed(AutoCompactBytes, "a positive byte count")(positive).getOrElse(128L * 1024 * 1024)

  lazy val splitBytes: Long = parsed(SplitBytes, "positive")(positive).getOrElse(64L * 1024 * 1024)
  lazy val vectorized: Boolean = !opt(VectorizedRead).exists(_.equalsIgnoreCase("false"))
  lazy val generation: Option[Long] = parsed(Generation, GenRule)(_.toLongOption)
  lazy val branch: Option[String] =
    parsed(Branch, "a name of 1-64 letters, digits, '_' or '-'")(
      b => Option.when(GraftTsvManifest.validBranchName(b))(b))
  lazy val excludeGeneration: Option[Long] = parsed(ExcludeGeneration, GenRule)(_.toLongOption)
  lazy val excludeLineage: Option[String] =
    parsed(ExcludeLineage, "'main' or 'branch:<name>'")(
      v => Option.when(v == "main" || v.startsWith("branch:"))(v))
  lazy val maxFilesPerTrigger: Option[Int] =
    parsed(MaxFilesPerTrigger, "an integer >= 1")(atLeast(1))
      .orElse(parsed(StreamMaxFilesPerTrigger, "an integer >= 1")(atLeast(1)))
  lazy val streamByGeneration: Boolean = flag(StreamByGeneration)
  lazy val streamAllowRewrites: Boolean = flag(StreamAllowRewrites)
  lazy val streamChanges: Boolean = flag(StreamChanges)

  /** Block-stats granularity: how often the writer closes a stats block
    * inside each file — the split-skipping resolution for large sorted
    * files (one escaped manifest cell per block). */
  lazy val blockBytes: Long = parsed(StatsBlockBytes, "positive")(positive).getOrElse(4L * 1024 * 1024)

  /** These table options under one read's options (the read wins). */
  def forScan(scan: CaseInsensitiveStringMap): GraftTsvOptions =
    new GraftTsvOptions(raw ++ lowered(scan.asScala.toMap))

  /** These table options under one write's options: only the write keys
    * apply, and an empty `partition.columns` keeps the table's. */
  def forWrite(write: CaseInsensitiveStringMap): GraftTsvOptions =
    new GraftTsvOptions(raw ++ lowered(write.asScala.toMap).filter { case (k, v) =>
      WriteKeys(k) && (k != PartitionColumns || csv(Some(v)).nonEmpty)
    })
}

object GraftTsvOptions {
  val Path = "path"
  val Delimiter = "delimiter"
  val Header = "header"
  val PartitionColumns = "partition.columns"
  val ColumnAliases = "column.aliases"
  val TagsPinned = "tags.pinned"
  val Retain = "retain.generations"
  val AutoCompactFiles = "compact.auto.files"
  val AutoCompactBytes = "compact.auto.target.bytes"
  val StreamMaxFilesPerTrigger = "stream.max.files.per.trigger"
  val MaxFilesPerTrigger = "max.files.per.trigger"
  val SplitBytes = "split.bytes"
  val VectorizedRead = "vectorized.read"
  val Generation = "generation"
  val Branch = "branch"
  val ExcludeGeneration = "diff.exclude.generation"
  val ExcludeLineage = "diff.exclude.lineage"
  val StreamByGeneration = "stream.by.generation"
  val StreamAllowRewrites = "stream.allow.rewrites"
  val StreamChanges = "stream.changes"
  val StatsBlockBytes = "stats.block.bytes"

  private val WriteKeys =
    Set(Retain, AutoCompactFiles, AutoCompactBytes, PartitionColumns, Branch, StatsBlockBytes)

  private val GenRule = "an integer generation number"

  private def atLeast(min: Int)(v: String): Option[Int] = v.toIntOption.filter(_ >= min)
  private def positive(v: String): Option[Long] = v.toLongOption.filter(_ > 0)
  private def csv(v: Option[String]): Seq[String] =
    v.toSeq.flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
  private def invalid(key: String, rule: String, v: String) =
    new IllegalArgumentException(s"graft-tsv: $key must be $rule, got '$v'")
  private def lowered(m: Map[String, String]): Map[String, String] =
    m.map { case (k, v) => k.toLowerCase(Locale.ROOT) -> v }

  def apply(options: Map[String, String]): GraftTsvOptions = new GraftTsvOptions(lowered(options))

  /** The options a catalog table descriptor hands its [[GraftTsvTable]]:
    * location and layout, the persisted table properties, the rename
    * history as `column.aliases` (`cur>hist1,hist2;...`), the tag pins,
    * and an optional time-travel generation. */
  def catalogTable(path: String, delimiter: Char, partCols: Seq[String],
      props: Map[String, String], renames: Seq[(String, String)] = Nil,
      pinned: Iterable[Long] = Nil, generation: Option[Long] = None): Map[String, String] =
    Map(Path -> path, Delimiter -> delimiter.toString) ++
      Option.when(partCols.nonEmpty)(PartitionColumns -> partCols.mkString(",")) ++
      props ++
      Option.when(renames.nonEmpty)(ColumnAliases -> renames.groupBy(_._2).toSeq.sortBy(_._1)
        .map { case (cur, hist) => s"$cur>${hist.map(_._1).mkString(",")}" }.mkString(";")) ++
      Option.when(pinned.nonEmpty)(TagsPinned -> pinned.toSeq.distinct.sorted.mkString(",")) ++
      generation.map(g => Generation -> g.toString)

  private val TableProperties = Seq(
    Retain -> "time-travel history depth",
    AutoCompactFiles -> "auto-compaction live-file threshold",
    AutoCompactBytes -> "auto-compaction output size target",
    StreamMaxFilesPerTrigger -> "generation-stream admission budget, per-scan option overrides")

  /** CREATE/ALTER TABLE property check: each key must be a table property
    * and its value must parse; anything else is rejected loudly rather
    * than silently recorded and ignored. */
  def checkTableProperties(props: Map[String, String]): Unit = {
    val o = GraftTsvOptions(props)
    props.keys.foreach {
      case Retain => o.retainGenerations
      case AutoCompactFiles => o.autoCompactFiles
      case AutoCompactBytes => o.autoCompactBytes
      case StreamMaxFilesPerTrigger => o.maxFilesPerTrigger
      case k => throw new IllegalArgumentException(
        s"graft catalog: unsupported table property '$k' — supported: " +
          TableProperties.map { case (p, what) => s"$p ($what)" }.mkString(", "))
    }
  }
}
