package graft.sources

import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._

/** Batch WRITE path of the graft-tsv connector — the sink half of the
  * DSv2 seam, and the Spark-first restatement of the reference's only
  * output contract: tab-separated text (TextOutputFormat K\tV lines,
  * reference WordCount.java:61, TopkCommonWords.java:174). Where the
  * reference's sink is a single reducer writing one file, this one keeps
  * the write DISTRIBUTED and makes it EXACTLY-ONCE-EFFECT via the DSv2
  * two-phase commit:
  *
  *   - each task writes to a DOT-PREFIXED staging file in the target
  *     directory (`.staging-<query>-<partition>-<task>`) — invisible to
  *     the read path, which filters `_`/`.` names (GraftTsvScan), so a
  *     concurrent reader never sees a half-written file;
  *   - the task's commit MESSAGE carries the staging name; only the
  *     driver-side `BatchWrite.commit` renames staged files to
  *     `part-<job>-NNNNN.tsv` names — a speculative or failed duplicate
  *     task attempt is simply never renamed (its message is not in the
  *     commit set; `abort` sweeps leftovers);
  *   - VISIBILITY IS A MANIFEST SWAP, not the file rename: the table's
  *     current contents are the part names listed in the
  *     highest-numbered `_gen-NNNNNNNNNN` file ([[GraftTsvManifest]]),
  *     which the read path resolves; a part file not referenced there is
  *     invisible no matter what it is named. Commit renames the new parts
  *     in (unreferenced = still invisible), then renames ONE tmp file to
  *     `_gen-<n+1>` — a single atomic metadata operation, so a reader
  *     always resolves either generation n (complete old data) or n+1
  *     (complete new data), never empty, never a mix. Only AFTER the swap
  *     is anything deleted, and the JUST-SUPERSEDED generation is
  *     RETAINED (manifest + parts) until the commit after next — a
  *     reader that resolved generation n right before the swap can
  *     still open everything its listing promised. A crash anywhere
  *     leaves the last published generation fully readable (worst case:
  *     orphaned unreferenced files, cleaned by the next commit). Generations also make overwrite exactly-once against
  *     a DRIVER retry of commit itself: a replayed rename onto an
  *     existing `_gen` target fails loudly instead of double-publishing.
  *     Directories never written by this sink have no manifest and read
  *     as a plain listing (legacy mode); the first commit into one
  *     adopts the existing visible parts into generation 1.
  *     One writer per directory at a time (the standard single-writer
  *     contract of file-manifest tables); concurrent commits race on the
  *     `_gen` rename and the loser fails without corrupting state.
  *
  * Values serialize by the connector's documented text conventions
  * (GraftTsv.scala scaladoc): NULL → empty field, dates → ISO, and the
  * writer REJECTS a string containing the delimiter or a newline rather
  * than silently corrupting the line framing (the no-embedded-delimiter
  * contract, enforced where it can first be seen).
  */
final class GraftTsvWriteBuilder(
    schema: StructType,
    table: GraftTsvOptions,
    info: LogicalWriteInfo)
    extends WriteBuilder with SupportsTruncate {

  /** The table's options under this write's: per-write retention,
    * auto-compaction, stats block size, branch and (non-empty) partition
    * columns win; location and delimiter are the table's. Auto-compaction
    * applies to BATCH commits on the main lineage only — a streaming
    * epoch sink keeps its per-epoch latency (schedule `CALL
    * g.system.compact` out of band, or read via the changes feed which is
    * rewrite-exact anyway), and a branch commit never mutates main's
    * layout. BRANCH WRITES (`.option("branch", name)`) publish a
    * `_gen-N.b-<name>` manifest over the branch's own lineage; the branch
    * must already exist (the branch procedure seeds its base manifest). */
  private val opts = table.forWrite(info.options())
  import opts.{blockBytes, branch, delimiter, partCols, path, pinned, retainGenerations}

  private var truncateOnCommit = false

  override def truncate(): WriteBuilder = { truncateOnCommit = true; this }

  /** Hive-partitioned OUTPUT layout: `partition.columns` on the write
    * (the DSv2 path-based writer has no partitionBy seam without a
    * catalog, so the option carries it — symmetric with the read side),
    * or the TABLE's declared partitioning when writing through the graft
    * catalog (SQL INSERTs carry no write options, the table metadata is
    * authoritative). */
  partCols.foreach { c =>
    require(schema.fieldNames.contains(c),
      s"graft-tsv: partition column '$c' is not in the write schema")
  }
  require(partCols.size < schema.length || partCols.isEmpty,
    "graft-tsv: cannot partition by every column (no data columns left)")

  /** Partitioned writes REQUEST clustering + ordering by the partition
    * columns (what Spark's own dynamic-partition insert does with a
    * sort): each task then sees one partition value at a time and writes
    * exactly one file per leaf it owns — no file proliferation, and the
    * writer's FD cap never engages. Advisory, not load-bearing: the
    * writer stays correct for ANY row order (the cap + reopen path), so
    * distributionStrictlyRequired=false lets Spark skip the exchange
    * when the data is already clustered. */
  override def build(): Write = new Write
      with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
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
      new GraftTsvBatchWrite(schema, path, delimiter, truncateOnCommit,
        info.queryId(), SerializableHadoopConf.fromSession(), partCols,
        blockBytes, retainGenerations, pinned, branch,
        opts.autoCompactFiles, opts.autoCompactBytes)
    /** Streaming sink = the SAME commit protocol per epoch (Complete mode
      * arrives as truncate, Append as append), with the epoch id recorded
      * in the generation manifest as the replay-idempotence token. */
    override def toStreaming
        : org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
      // refuse branch targets at PLAN time — the commit-time check stays
      // as belt-and-braces, but firing there is after every task has
      // already staged the epoch's files (residue until a later sweep)
      require(branch.isEmpty,
        "graft-tsv: a streaming sink cannot target a branch — the epoch " +
          "replay-idempotence marker rides the MAIN manifest chain; write " +
          "to the main lineage or use foreachBatch with a batch write")
      new GraftTsvBatchWrite(schema, path, delimiter, truncateOnCommit,
        info.queryId(), SerializableHadoopConf.fromSession(), partCols,
        blockBytes, retainGenerations, pinned, branch)
    }
  }
}

/** The generation-manifest layer shared by the writer (publishes) and the
  * reader (resolves): `_gen-NNNNNNNNNN` files (zero-padded so lexical max
  * = numeric max) each list the part paths visible in that generation,
  * one per line, optionally followed by a TAB and the file's column
  * min/max stats cell — the metadata that lets the reader skip files on
  * data-column predicates without opening them. Underscore prefix keeps
  * manifests out of the data-file listing by the connector's own
  * hidden-file rule. */
object GraftTsvManifest {
  val Prefix = "_gen-"

  def genName(n: Long): String = f"$Prefix$n%010d"

  def genNumber(name: String): Option[Long] =
    if (name.startsWith(Prefix)) name.stripPrefix(Prefix).toLongOption else None

  // ---- BRANCHES: `_gen-N.b-<name>` manifest chains ----
  // A branch is nothing but a parallel chain of suffixed manifests over
  // the SAME part files (copy-on-write makes them shareable): `.b-` names
  // fail genNumber's toLongOption, so every main-lineage resolution,
  // retention sweep, and history listing is branch-blind BY CONSTRUCTION
  // — no read-path change can accidentally see branch state. The one
  // deliberate coupling is part-file protection: cleanup keep-sets union
  // in every branch manifest's file list (see the publish cleanup and
  // vacuum), so a main commit can never reclaim a part only a branch
  // references.
  private val BranchSep = ".b-"

  def validBranchName(b: String): Boolean =
    b.nonEmpty && b.length <= 64 &&
      b.forall(c => c.isLetterOrDigit || c == '_' || c == '-')

  def branchGenName(n: Long, branch: String): String =
    genName(n) + BranchSep + branch

  def branchGenNumber(name: String, branch: String): Option[Long] = {
    val suffix = BranchSep + branch
    if (name.startsWith(Prefix) && name.endsWith(suffix))
      name.stripPrefix(Prefix).stripSuffix(suffix).toLongOption
    else None
  }

  /** Is this ANY branch's manifest? (for keep-set protection and branch
    * discovery — main resolution never calls this). */
  def branchOf(name: String): Option[String] = {
    val i = name.indexOf(BranchSep)
    if (name.startsWith(Prefix) && i >= 0 &&
        name.substring(Prefix.length, i).toLongOption.isDefined)
      Some(name.substring(i + BranchSep.length)).filter(validBranchName)
    else None
  }

  private def lines(fs: FileSystem, manifest: Path): Seq[String] = {
    val in = fs.open(manifest)
    try {
      scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .filter(_.nonEmpty).toList
    } finally in.close()
  }

  // ---- TWO-LEVEL MANIFESTS: `_gen-N` deltas over shared `_mseg-*` ----
  // A naive full-list manifest makes COMMIT COST grow with table history:
  // every generation republishes the whole live-file list, so an
  // ingest-shaped table (many small appends) pays O(files) manifest bytes
  // per commit and O(history²) bytes total (measured quadratic in
  // SCALE.md §25). The fix is the public Delta-Lake/Iceberg shape — a
  // commit writes a DELTA, and the full list is checkpointed
  // periodically into a shared immutable segment:
  //   - `_mseg-<label>` files hold entry lines only (relpath[\tstats]) —
  //     written once at a CHECKPOINT commit, immutable, shared by every
  //     subsequent delta generation (and by branch seeds, which byte-copy
  //     the head manifest and thus reference the same segment);
  //   - a `_gen-N` file lists `#seg:<mseg-name>` references plus INLINE
  //     delta lines: `#del:<rel>` (file dropped vs the segment) and plain
  //     entry lines (files added since the segment). Resolution =
  //     segment entries minus dels plus inline adds — TWO small reads
  //     regardless of history length.
  // The legacy format (inline entries only, no `#seg:`) is the
  // degenerate case, so pre-existing tables and the maintenance verbs
  // that republish full lists (rollback, merge_branch) parse unchanged.
  // Generation RETENTION stays name-based on `_gen-N` exactly as before
  // — the external time-travel contract is untouched — while `_mseg`
  // files are garbage-collected by reachability (publish checkpoints and
  // vacuum scan the remaining manifests' `#seg:` references).
  val SegPrefix = "_mseg-"
  private val SegMarker = "#seg:"
  private val DelMarker = "#del:"
  private val RetiredMarker = "#retired:"
  /** Checkpoint policy floor: a delta generation carries at most this
    * many inline lines before the next commit folds everything into a
    * fresh segment (relative bound below keeps tiny tables inline-only
    * in practice while capping delta bloat on big ones). */
  val CheckpointInlineMin = 64

  /** Segment names referenced by a manifest, in order. */
  def segRefsOf(ls: Seq[String]): Seq[String] =
    ls.collect { case l if l.startsWith(SegMarker) =>
      l.stripPrefix(SegMarker) }

  /** Segment references of one manifest file on disk (for GC
    * reachability — publish checkpoints and vacuum). */
  def segRefs(fs: FileSystem, manifest: Path): Seq[String] =
    segRefsOf(lines(fs, manifest))

  /** Structural pieces of one manifest file: (#seg refs, #del set,
    * inline entries, #retired tombstones) — what publish needs to
    * compose the NEXT generation without materializing history. */
  def readDelta(fs: FileSystem, manifest: Path)
      : (Seq[String], Set[String], Seq[(String, String)], Seq[(Long, String)]) = {
    val ls = lines(fs, manifest)
    (segRefsOf(ls),
      ls.collect { case l if l.startsWith(DelMarker) =>
        l.stripPrefix(DelMarker) }.toSet,
      inlineEntries(ls),
      retiredOf(ls))
  }

  /** Dropped-but-retained tombstones riding the head manifest:
    * `#retired:<dropGen>:<relpath>` — the file left the live set at
    * <dropGen> but older retained generations still reference it. The
    * incremental reclamation in publish deletes it (and the tombstone)
    * once <dropGen> falls at or below the retention floor and no
    * tag/branch can reference it — WITHOUT re-reading every retained
    * manifest on every commit. */
  def retiredOf(ls: Seq[String]): Seq[(Long, String)] =
    ls.collect { case l if l.startsWith(RetiredMarker) =>
      val rest = l.stripPrefix(RetiredMarker)
      val c = rest.indexOf(':')
      (rest.substring(0, c).toLong, rest.substring(c + 1))
    }

  def retiredLine(dropGen: Long, rel: String): String =
    s"$RetiredMarker$dropGen:$rel"

  private def inlineEntries(ls: Seq[String]): Seq[(String, String)] =
    ls.filterNot(_.startsWith("#")).map { l =>
      val tab = l.indexOf('\t')
      if (tab < 0) (l, "") else (l.substring(0, tab), l.substring(tab + 1))
    }

  def entryLine(rel: String, stats: String): String =
    if (stats.isEmpty) rel else s"$rel\t$stats"

  /** Entry lines of one segment file (no markers inside segments). */
  def readSegment(fs: FileSystem, dir: Path, name: String): Seq[(String, String)] = {
    require(name.startsWith(SegPrefix) && !name.contains("/"),
      s"graft-tsv: manifest references invalid segment '$name' — corrupted")
    inlineEntries(lines(fs, new Path(dir, name)))
  }

  /** A manifest data line is `relpath<TAB>stats` — the optional stats
    * cell carries per-file column min/max ranges (`col:min:max,...`,
    * values %XX-escaped) that the reader uses for FILE SKIPPING on data
    * columns. Old manifests without the tab parse as stats-less.
    * RESOLVES `#seg:` references: the visible set is the referenced
    * segments' entries minus `#del:` lines plus the manifest's own
    * inline entries — two reads total, independent of table history. */
  def readEntries(fs: FileSystem, manifest: Path): Seq[(String, String)] = {
    val ls = lines(fs, manifest)
    val segs = segRefsOf(ls)
    val own = inlineEntries(ls)
    if (segs.isEmpty) own
    else {
      require(segs.size <= 8,
        s"graft-tsv: manifest ${manifest.getName} references ${segs.size} " +
          "segments — corrupted (the writer folds segments at checkpoints)")
      val dels = ls.collect { case l if l.startsWith(DelMarker) =>
        l.stripPrefix(DelMarker) }.toSet
      val dir = manifest.getParent
      // dels apply to SEGMENT entries only: an inline add always wins,
      // so re-adding a relpath that was previously deleted against the
      // segment is visible regardless of a carried #del (publish also
      // drops such dels at compose time — this is the read-side half of
      // the same invariant, not a reliance on job-unique part naming)
      (segs.flatMap(s => readSegment(fs, dir, s))
        .filterNot(e => dels.contains(e._1)) ++ own)
    }
  }

  /** Part names of the given manifest file (`#`-prefixed lines are
    * metadata markers, not part names). */
  def read(fs: FileSystem, manifest: Path): Seq[String] =
    readEntries(fs, manifest).map(_._1)

  // stats-cell escaping: make the separators and '%' safe inside values;
  // unescapePathValue's generic %XX decode reverses it
  def statEscape(s: String): String =
    if (!s.exists(c => c == '%' || c == ':' || c == ',' || c == '\t' ||
        c == '\n' || c == '\r')) s
    else s.flatMap {
      case '%' => "%25"
      case ':' => "%3A"
      case ',' => "%2C"
      case '\t' => "%09"
      case '\n' => "%0A"
      case '\r' => "%0D"
      case c => c.toString
    }

  /** Parse a stats cell to col -> (typeName, min, max) raw strings. The
    * TYPE TAG is load-bearing: min/max order is type-specific, and a
    * reader is free to declare a different type for the column than the
    * writer used (e.g. read a long column as string) — comparing string
    * literals against numerically-ordered stats would over-prune, so the
    * reader ignores any entry whose recorded type differs from its own.
    * `#`-prefixed elements are file-level metadata (`#n:<rowcount>`),
    * not column entries. */
  def parseStats(stats: String): Map[String, (String, String, String)] =
    if (stats.isEmpty) Map.empty
    else stats.split(',').flatMap { entry =>
      if (entry.startsWith("#")) None
      else entry.split(':') match {
        case Array(c, tn, mn, mx) =>
          Some(GraftTsvPushdown.unescapePathValue(c) ->
            ((tn, GraftTsvPushdown.unescapePathValue(mn),
              GraftTsvPushdown.unescapePathValue(mx))))
        case _ => None // unknown shape: ignore, never mis-prune
      }
    }.toMap

  /** Per-block (byte-range) stats recorded by the writer:
    * `#b:<startByte>:<endByte>:<escaped inner cell>` where the inner
    * cell is a full [[statsCell]] escaped once more (so its `:`/`,` are
    * inert in the outer grammar). Block bounds are LINE boundaries.
    * Returns (start, end, col → (type, min, max)); malformed entries are
    * dropped (never mis-prune). */
  def parseBlocks(stats: String): Seq[(Long, Long, Map[String, (String, String, String)])] =
    if (stats.isEmpty || !stats.contains("#b:")) Seq.empty
    else {
      val entries = stats.split(',').toSeq.filter(_.startsWith("#b:"))
      val parsed = entries.flatMap { entry =>
        entry.split(':') match {
          case Array(_, s, e, inner) =>
            for (ss <- s.toLongOption; ee <- e.toLongOption)
              yield (ss, ee, parseStats(GraftTsvPushdown.unescapePathValue(inner)))
          case _ => None
        }
      }
      // ALL-OR-NOTHING: dropping one structurally-corrupt block entry
      // while keeping the rest leaves a coverage gap — splitsFor would
      // then prune a split whose matching rows lived in the dropped
      // entry's byte range, silently losing rows. One bad entry
      // invalidates the whole block list for the file (the file is
      // still read; only sub-file skipping is lost). splitsFor
      // independently re-verifies the surviving blocks tile the file.
      if (parsed.length == entries.length) parsed else Seq.empty
    }

  private val RowsRe = """#n:(\d+)""".r

  /** The file's exact row count, recorded by the writer — fed to CBO as
    * `numRows` (summed over the PRUNED listing), which upgrades join
    * cardinality estimates from bytes-only guesses. */
  def rowCountOf(stats: String): Option[Long] =
    if (stats.isEmpty) None
    else stats.split(',').collectFirst { case RowsRe(n) => n.toLong }

  /** Render a stats cell (`#n:<rows>,col:type:min:max,...`, %XX-escaped
    * values, all-null columns absent) from per-column internal min/max
    * arrays indexed by schema position — the ONE encoder for the format
    * [[parseStats]]/[[rowCountOf]] decode, shared by the writer's
    * per-file tracking and the delete path's rewrite tracking. */
  def statsCell(schema: StructType, statIdx: Array[Int],
      mins: Array[Any], maxs: Array[Any], rows: Long): String =
    (Iterator(s"#n:$rows") ++ statIdx.iterator
      .filter(i => mins(i) != null)
      .map { i =>
        val dt = schema.fields(i).dataType
        def fmt(v: Any): String = dt match {
          case DateType => java.time.LocalDate.ofEpochDay(
            v.asInstanceOf[Int].toLong).toString
          case _ => v.toString // Long/Int/Double/UTF8String all round-trip
        }
        statEscape(schema.fields(i).name) + ":" +
          dt.typeName + ":" +
          statEscape(fmt(mins(i))) + ":" +
          statEscape(fmt(maxs(i)))
      }).mkString(",")

  private val EpochRe = """#epoch:(-?\d+)""".r

  /** The streaming epoch that produced this generation, if it was a
    * streaming commit — the idempotence token for epoch replay. */
  def epochOf(fs: FileSystem, manifest: Path): Option[Long] =
    lines(fs, manifest).collectFirst { case EpochRe(n) => n.toLong }

  private val PublishedRe = """#published:(-?\d+)""".r

  /** The epoch-ms instant the generation was COMMITTED (`#published:`
    * marker, written by publish just before the atomic `_gen` rename) —
    * the authoritative input for `TIMESTAMP AS OF`. Pre-marker manifests
    * return None and resolve by file modification time instead; note
    * that mtime is the staged tmp file's WRITE time (rename preserves
    * it), which slightly precedes visibility and has filesystem-coarse
    * granularity — exactly the imprecision the marker removes. */
  def publishedOf(fs: FileSystem, manifest: Path): Option[Long] =
    lines(fs, manifest).collectFirst { case PublishedRe(n) => n.toLong }

}

/** Driver-side job coordinator: publishes committed task files, cleans
  * up everything else. One class serves BOTH write modes — a batch job
  * commit and a streaming epoch commit are the same generation publish,
  * differing only in the part-name label (epoch-qualified so successive
  * epochs never collide on rename targets) and the `#epoch` marker that
  * makes a REPLAYED epoch a no-op: Spark re-runs the last epoch when a
  * failure lands between the sink commit and the query's own commit log,
  * and the marker in the latest manifest is how the second arrival is
  * recognized and skipped — exactly-once effects without a sink-side
  * log of every batch id. */
final class GraftTsvBatchWrite(
    schema: StructType,
    path: String,
    delimiter: Char,
    truncate: Boolean,
    queryId: String,
    hconf: SerializableHadoopConf,
    partCols: Seq[String] = Seq.empty,
    blockBytes: Long = 4L * 1024 * 1024,
    retainGenerations: Int = 1,
    pinnedGens: Set[Long] = Set.empty,
    branch: Option[String] = None,
    autoCompactFiles: Int = 0,
    autoCompactBytes: Long = 128L * 1024 * 1024) extends BatchWrite
    with org.apache.spark.sql.connector.write.streaming.StreamingWrite {

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new GraftTsvWriterFactory(schema, path, delimiter, queryId, hconf, partCols,
      blockBytes)

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory =
    new GraftTsvStreamingWriterFactory(schema, path, delimiter, queryId, hconf,
      partCols, blockBytes)

  // both parent interfaces default this to true; Scala requires the
  // diamond be resolved explicitly. Keep the coordinator: one committed
  // attempt per partition is what the staged-name protocol assumes.
  override def useCommitCoordinator(): Boolean = true

  private def fs(): FileSystem = new Path(path).getFileSystem(hconf.value)

  private def jobTag: String = queryId.replaceAll("[^a-zA-Z0-9]", "").take(8)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val liveFiles = publish(messages, jobTag, epochMarker = None)
    // COMMIT-TIME AUTO-COMPACTION (`compact.auto.files`): once the table
    // accumulates the threshold's worth of live files, fold them with
    // the same byte-concatenation rewrite `CALL g.system.compact` runs —
    // an ordinary follow-up generation (time travel retains the
    // pre-compact snapshot; the changes feed diffs it empty; a
    // generation STREAM on this table refuses rewrites by contract, so
    // auto-compaction and `stream.by.generation` are mutually exclusive
    // by configuration, loudly). Runs only on the main lineage and only
    // for batch commits — a crashed/skipped compaction is benign (the
    // next qualifying commit retries).
    if (autoCompactFiles > 0 && branch.isEmpty &&
        liveFiles >= autoCompactFiles) {
      // The WRITE is already durably committed (the _gen swap above) —
      // a compaction failure here must not escape, or Spark's V2 write
      // exec would call abort() and report the committed insert as
      // FAILED, inviting an orchestrator to retry it and double the
      // rows. Log and move on: the next qualifying commit retries, and
      // an explicit CALL g.system.compact is always available.
      try {
        GraftTsvMaintenance.compact(
          org.apache.spark.sql.SparkSession.active,
          new Path(path), partCols, retainGenerations, autoCompactBytes,
          pinnedGens)
        ()
      } catch { case scala.util.control.NonFatal(e) =>
        System.err.println(
          s"graft-tsv: auto-compaction after commit on $path failed " +
            s"(write is committed and unaffected): $e")
      }
    }
  }

  private def publish(
      messages: Array[WriterCommitMessage],
      label: String,
      epochMarker: Option[Long]): Int = {
    val staged = messages.collect {
      case GraftTsvCommitMessage(names) => names
    }.flatten.toSeq
    GraftTsvPublisher.publish(fs(), new Path(path), staged, label, epochMarker,
      truncate, dropped = Set.empty, partCols, sweepPrefix = s".staging-$queryId",
      retainGenerations = retainGenerations, pinnedGens = pinnedGens,
      branch = branch)
  }

  /** Streaming epoch commit: same publish, epoch-labeled and marked. */
  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    require(branch.isEmpty,
      "graft-tsv: a streaming sink cannot target a branch — the epoch " +
        "replay-idempotence marker rides the MAIN manifest chain; write " +
        "to the main lineage or use foreachBatch with a batch write")
    val f = fs()
    val dir = new Path(path)
    val committed = if (!f.exists(dir)) None else {
      val gens = f.listStatus(dir).toSeq
        .flatMap(st => GraftTsvManifest.genNumber(st.getPath.getName))
      gens.maxOption.flatMap(g =>
        GraftTsvManifest.epochOf(f, new Path(dir, GraftTsvManifest.genName(g))))
    }
    if (committed.contains(epochId)) {
      // replayed epoch: the generation is already published — only the
      // replay's freshly staged duplicates need collecting
      sweep(f, dir)
    } else {
      // epoch ZERO-PADDED in the published part names: a graft-tsv
      // streaming SOURCE reading this directory requires monotonic names,
      // and unpadded e10 would sort below e9
      publish(messages, f"$jobTag-e$epochId%012d", epochMarker = Some(epochId))
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    GraftTsvPublisher.sweep(fs(), new Path(path), s".staging-$queryId")

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    GraftTsvPublisher.sweep(fs(), new Path(path), s".staging-$queryId")

  private def sweep(f: FileSystem, dir: Path): Unit =
    GraftTsvPublisher.sweep(f, dir, s".staging-$queryId")
}

/** The shared generation-publish protocol — the ONE place a graft-tsv
  * table's visible state changes. Used by batch job commits, streaming
  * epoch commits (both via [[GraftTsvBatchWrite]]), and row-level DELETE
  * ([[GraftTsvDelete]], which passes `dropped` = the rewritten files'
  * old names). See the protocol walkthrough on [[GraftTsvWriteBuilder]]:
  * rename staged parts in under job-unique names, swap `_gen` atomically,
  * clean up with one-generation retention. */
private[sources] object GraftTsvPublisher {

  /** Recursive (relative-path, status) listing — partitioned tables put
    * parts in `col=value` leaf dirs, and all commit bookkeeping is in
    * root-relative terms. */
  def allFiles(f: FileSystem, dir: Path, rel: String = "")
      : Seq[(String, org.apache.hadoop.fs.FileStatus)] =
    f.listStatus(dir).toSeq.flatMap { st =>
      if (st.isDirectory) allFiles(f, st.getPath, rel + st.getPath.getName + "/")
      else Seq((rel + st.getPath.getName, st))
    }

  /** Returns the LIVE file count of the published generation (the
    * auto-compaction trigger input — already computed here, so the
    * caller never re-lists). */
  def publish(
      f: FileSystem,
      dir: Path,
      staged: Seq[(String, String)],
      label: String,
      epochMarker: Option[Long],
      truncate: Boolean,
      dropped: Set[String],
      partCols: Seq[String],
      sweepPrefix: String,
      retainGenerations: Int = 1,
      pinnedGens: Set[Long] = Set.empty,
      branch: Option[String] = None): Int = {
    // retention < 1 would delete the just-superseded generation a
    // concurrent reader may still be resolving — the floor IS the
    // concurrent-reader safety contract, not a tunable
    require(retainGenerations >= 1,
      s"graft-tsv: retain.generations must be >= 1, got $retainGenerations")
    if (!f.exists(dir)) f.mkdirs(dir) // commit of an all-empty-partition job
    def fileName(rel: String) = rel.substring(rel.lastIndexOf('/') + 1)
    // a name containing a tab or newline can neither be adopted (tab is
    // the manifest line separator — adoption would corrupt the manifest
    // and the next cleanup would misread keep-sets and DELETE the file)
    // nor cleaned: such files are simply outside the table's scope
    def visiblePart(rel: String) = {
      val n = fileName(rel)
      !n.startsWith(".") && !n.startsWith("_") &&
        !rel.exists(c => c == '\t' || c == '\n' || c == '\r')
    }
    val children = allFiles(f, dir)
    val rootNames = children.collect { case (rel, _) if !rel.contains("/") => rel }
    val mainGens = rootNames.flatMap(GraftTsvManifest.genNumber)
    // BRANCH COMMIT: the base lineage is the branch's own manifest chain
    // (seeded by the branch procedure with a copy of the then-current
    // main manifest), NEVER the live main head — a branch write after
    // main advanced must not absorb main's newer rows. A write to a
    // branch that was never created (or was dropped/merged) fails loudly
    // instead of silently minting a lineage from nothing.
    val branchGens: Seq[Long] = branch.toSeq.flatMap(b =>
      rootNames.flatMap(n => GraftTsvManifest.branchGenNumber(n, b)))
    branch.foreach { b =>
      require(GraftTsvManifest.validBranchName(b),
        s"graft-tsv: invalid branch name '$b' (letters, digits, '_', '-')")
      if (branchGens.isEmpty)
        throw new IllegalStateException(
          s"graft-tsv: branch '$b' does not exist in $dir — create it " +
            "first (CALL <catalog>.system.branch(table, name))")
    }
    val curGen: Option[Long] =
      if (branch.isDefined) branchGens.maxOption else mainGens.maxOption
    // a rel path the READER would consider: right partition depth, each
    // segment the declared column. Adoption and cleanup are both scoped
    // to this — adopting a stray subdirectory file would make the table
    // permanently unreadable (the reader's walk never lists it, so the
    // manifest check reports it missing), and deleting one would destroy
    // data this sink never owned.
    def inScope(rel: String): Boolean = {
      val segs = rel.split("/")
      segs.length == partCols.length + 1 &&
        partCols.indices.forall(i => segs(i).startsWith(partCols(i) + "="))
    }
    // the CURRENT visible set ((root-relative path, stats cell)): highest
    // manifest, or (first commit into a pre-existing plain directory) the
    // legacy listing, adopted stats-less. The head manifest is read ONCE,
    // structurally (segment refs + inline delta + tombstones), so the
    // same read feeds both the resolved entry list and the next
    // generation's delta composition.
    def manifestName(g: Long): String = branch match {
      case Some(b) => GraftTsvManifest.branchGenName(g, b)
      case None => GraftTsvManifest.genName(g)
    }
    val (curSegs, curDels, curInline, curRetired) = curGen match {
      case Some(g) =>
        GraftTsvManifest.readDelta(f, new Path(dir, manifestName(g)))
      case None =>
        val adopted = children.collect {
          case (rel, st) if st.isFile && visiblePart(rel) && inScope(rel) =>
            (rel, "")
        }
        (Seq.empty[String], Set.empty[String], adopted,
          Seq.empty[(Long, String)])
    }
    // memoized segment reads: one commit touches each segment at most once
    val segCache = scala.collection.mutable.HashMap.empty[String, Seq[(String, String)]]
    def segEntries(name: String): Seq[(String, String)] =
      segCache.getOrElseUpdate(name, GraftTsvManifest.readSegment(f, dir, name))
    val currentEntries: Seq[(String, String)] =
      (curSegs.flatMap(segEntries).filterNot(e => curDels.contains(e._1)) ++
        curInline)
    val currentVisible: Seq[String] = currentEntries.map(_._1)
    // 1. publish new parts under JOB-UNIQUE names (epoch-qualified for
    //    streaming) — never renaming onto a part from an earlier job or
    //    epoch (local-FS rename onto an existing target silently fails
    //    and would strand the staged file). Renames stay WITHIN each
    //    partition's leaf dir. The names are visible-style but
    //    UNREFERENCED, so readers don't see them yet. rename's Boolean
    //    is CHECKED — an unpublished staged file is data loss, the one
    //    failure a commit protocol exists to prevent.
    val existing = children.map(_._1).toSet
    val currentSet = currentVisible.toSet
    val newParts = staged.zipWithIndex.map { case ((rel, stats), i) =>
      val leaf = rel.substring(0, rel.lastIndexOf('/') + 1) // "" at root
      val target = leaf + f"part-$label-$i%05d.tsv"
      // a crash between a previous attempt's part renames and its _gen
      // swap leaves UNREFERENCED files at exactly these target names
      // (labels and indices are deterministic across a replay); on
      // filesystems where rename-onto-existing returns false the replay
      // would wedge permanently. An existing target NOT referenced by the
      // current manifest can only be such a crashed attempt (single-writer
      // contract) — delete it first. A referenced target stays: renaming
      // onto it must fail loudly, never silently replace published data.
      if (existing.contains(target) && !currentSet.contains(target))
        f.delete(new Path(dir, target), false)
      if (!f.rename(new Path(dir, rel), new Path(dir, target)))
        throw new IllegalStateException(
          s"graft-tsv commit: failed to publish staged $rel as $target")
      (target, stats)
    }
    // 2. the atomic visibility flip: write the next generation's manifest
    //    to a hidden tmp name, then ONE rename to _gen-<n+1>. Carried
    //    entries keep their stats cells, so appended generations retain
    //    file-skipping metadata for the old files too.
    //
    //    COMMIT COST IS HISTORY-INDEPENDENT (SCALE.md §25): the manifest
    //    is written as an inline full list only while the table is small;
    //    past CheckpointInlineMin live files a commit writes either a
    //    CHECKPOINT (full list into a shared immutable `_mseg-*` segment,
    //    tiny `_gen` referencing it) or a DELTA (`#seg:` refs carried +
    //    `#del:`/inline add lines) — amortized O(changed files) manifest
    //    bytes per commit instead of O(live files), the Delta-Lake
    //    delta-log/checkpoint shape. Reclamation is TOMBSTONE-driven
    //    (`#retired:` lines): a pure append reads NO history at all, and
    //    dropped files are reclaimed the commit their drop generation
    //    leaves the retention window — the same instant the old
    //    read-every-retained-manifest keep-set scan reclaimed them, at
    //    O(1) instead of O(retained generations) manifest reads.
    val newGen = curGen.getOrElse(0L) + 1
    val nextEntries =
      (if (truncate) Seq.empty
       else currentEntries.filterNot(e => dropped.contains(e._1))) ++ newParts
    val nextVisible = nextEntries.map(_._1)
    val nextVisibleSet = nextVisible.toSet
    val oldestRetained = newGen - retainGenerations
    val childSet = children.map(_._1).toSet
    val currentVisibleSet = currentVisible.toSet
    val mainLineage = branch.isEmpty
    val droppedNow: Set[String] =
      if (truncate) currentVisibleSet
      else dropped.intersect(currentVisibleSet)

    // ---- tombstone lifecycle (main lineage; branch drops are protected
    // by main keep-sets and reclaimed after the branch retires) ----
    // carried = still on disk, still dead (a rollback/merge republish
    // that resurrects a file simply drops its tombstone here)
    val carriedRetired =
      if (mainLineage)
        curRetired.filter { case (_, rel) =>
          childSet.contains(rel) && !nextVisibleSet.contains(rel) }
      else Seq.empty
    val allRetired: Seq[(Long, String)] =
      if (mainLineage)
        carriedRetired ++ droppedNow.toSeq.sorted.map(rel => (newGen, rel))
      else Seq.empty
    // reclaim NOW iff the drop generation left the retention window and
    // no pinned snapshot predates it (a tag at p < dropGen may reference
    // the file — exact reachability for pin-blocked files is vacuum's
    // job) and no live branch references it (checked only when branches
    // exist and something is otherwise reclaimable)
    val (reclaimCand, keptAfterWindow) = allRetired.partition { case (d, _) =>
      d <= oldestRetained && pinnedGens.forall(_ >= d)
    }
    val branchManifestNames =
      rootNames.filter(n => GraftTsvManifest.branchOf(n).isDefined)
    // read at most once per commit, and only when a reclaim/orphan
    // decision actually needs it (no branches, or a pure append with no
    // candidates → never read)
    lazy val branchKeepSet: Set[String] =
      if (branchManifestNames.isEmpty) Set.empty
      else branchManifestNames
        .flatMap(n => GraftTsvManifest.read(f, new Path(dir, n))).toSet
    val (reclaimNow, branchBlocked) =
      if (reclaimCand.nonEmpty && branchManifestNames.nonEmpty)
        reclaimCand.partition { case (_, rel) => !branchKeepSet.contains(rel) }
      else (reclaimCand, Seq.empty[(Long, String)])

    // ---- orphan / legacy-upgrade scan (bounded, and only when needed):
    // a visible in-scope file that is neither live nor tombstoned is
    // either a crashed job's published-but-unreferenced part (reclaim)
    // or a dropped-but-retained file from the pre-tombstone format —
    // SYNTHESIZE its tombstone (dropGen = last retained generation
    // listing it, + 1) so the scan runs once per upgrade, not per
    // commit. Pure appends — the ingest steady state — have no
    // candidates and read no history here.
    val tombstonedSet = allRetired.map(_._2).toSet
    val candidates: Seq[String] =
      if (!mainLineage) Seq.empty
      else children.collect {
        case (rel, st) if st.isFile && visiblePart(rel) && inScope(rel) &&
          !nextVisibleSet.contains(rel) && !tombstonedSet.contains(rel) &&
          // a branch-only part (added by a branch commit) is neither live
          // on main nor tombstoned — it is the BRANCH's file, not an
          // orphan; it becomes reclaimable only after the branch retires
          !branchKeepSet.contains(rel) => rel
      }
    val retainedGens = mainGens
      .filter(g => (g >= oldestRetained || pinnedGens(g)) && curGen.exists(g <= _))
    val (orphans, synthTombstones) =
      if (candidates.isEmpty) (Seq.empty[String], Seq.empty[(Long, String)])
      else {
        val candSet = candidates.toSet
        val lastListed = scala.collection.mutable.HashMap.empty[String, Long]
        retainedGens.sorted.foreach { g =>
          val (segs, dels, inline, _) = GraftTsvManifest.readDelta(
            f, new Path(dir, GraftTsvManifest.genName(g)))
          // same inline-wins rule as readEntries: dels mask segment
          // entries only, an inline add is listed unconditionally
          (segs.flatMap(segEntries).filterNot(e => dels.contains(e._1)) ++
            inline).foreach { case (rel, _) =>
            if (candSet.contains(rel))
              lastListed.update(rel, math.max(g, lastListed.getOrElse(rel, g)))
          }
        }
        val (referenced, orphan) = candidates.partition(lastListed.contains)
        (orphan, referenced.sorted.map(rel => (lastListed(rel) + 1L, rel)))
      }
    val keptTombstones = keptAfterWindow ++ branchBlocked ++ synthTombstones

    // ---- compose: inline full (small table / truncate), DELTA, or
    // CHECKPOINT ----
    val inlineNext = curInline.filterNot(e => droppedNow.contains(e._1)) ++ newParts
    // compose-side half of the inline-wins invariant: a rel re-added
    // inline this commit supersedes any carried #del for it, so the del
    // is dropped here — read sites therefore never see dels ∩ inline
    val delsNext = (curDels ++ droppedNow.diff(curInline.map(_._1).toSet))
      .diff(inlineNext.map(_._1).toSet)
    val writeDelta = !truncate && curSegs.nonEmpty &&
      inlineNext.size + delsNext.size <
        math.max(GraftTsvManifest.CheckpointInlineMin, nextEntries.size / 4)
    val writeCheckpoint = !writeDelta &&
      nextEntries.size >= GraftTsvManifest.CheckpointInlineMin
    val segName = s"${GraftTsvManifest.SegPrefix}$label-" +
      UUID.randomUUID().toString.take(8)
    if (writeCheckpoint) {
      // the segment is INVISIBLE until the _gen swap references it — a
      // crash here leaves an unreferenced segment for GC, never a
      // half-visible table
      val segOut = f.create(new Path(dir, segName), true)
      try segOut.write(nextEntries.map { case (rel, stats) =>
        GraftTsvManifest.entryLine(rel, stats) + "\n"
      }.mkString.getBytes("UTF-8"))
      finally segOut.close()
    }
    val tmp = new Path(dir, s".manifest-$label-${UUID.randomUUID().toString.take(8)}")
    val out = f.create(tmp, true)
    // the publish instant rides the manifest itself (`#published:` —
    // resolved by TIMESTAMP AS OF and DESCRIBE-history), not the file
    // mtime: rename preserves the tmp file's write-time mtime, so the
    // mtime slightly precedes actual visibility and collides on
    // filesystems with coarse (1s) granularity
    val markers = epochMarker.map(e => s"#epoch:$e").toSeq :+
      s"#published:${System.currentTimeMillis()}"
    val retiredLines = keptTombstones.map { case (d, rel) =>
      GraftTsvManifest.retiredLine(d, rel) }
    val bodyLines: Seq[String] =
      if (writeCheckpoint) Seq(s"#seg:$segName")
      else if (writeDelta)
        curSegs.map(s => s"#seg:$s") ++
          delsNext.toSeq.sorted.map(d => s"#del:$d") ++
          inlineNext.map { case (rel, stats) =>
            GraftTsvManifest.entryLine(rel, stats) }
      else nextEntries.map { case (rel, stats) =>
        GraftTsvManifest.entryLine(rel, stats) }
    try out.write((markers ++ retiredLines ++ bodyLines)
      .map(_ + "\n").mkString.getBytes("UTF-8"))
    finally out.close()
    val genPath = new Path(dir, manifestName(newGen))
    if (!f.rename(tmp, genPath))
      throw new IllegalStateException(
        s"graft-tsv commit: failed to publish $genPath — a concurrent writer " +
          "took this generation or the commit was replayed; directory state " +
          "is untouched (the previous generation remains current)")
    if (branch.isDefined) {
      // a BRANCH publish owns only its manifest chain: main retention,
      // part reclamation, and orphan collection stay the main lineage's
      // job (its keep-set already protects every branch-referenced part
      // below), so a branch commit can never reclaim a main reader's
      // files — it deletes nothing but its own staging residue and its
      // OWN manifests below the retention window. Retained: the branch
      // BASE (min gen — the branch point merge_branch/branchChanges
      // resolve against) plus the newest `retain.generations` manifests,
      // mirroring main's window. Without this a long-lived branch grows
      // one manifest per commit forever, and every MAIN publish reads
      // ALL branch manifests for its keep-set — O(branch commits) FS
      // reads per main commit.
      val base = branchGens.min
      branchGens
        .filter(g => g != base && g < newGen - retainGenerations)
        .foreach(g => f.delete(
          new Path(dir, GraftTsvManifest.branchGenName(g, branch.get)), false))
      children.foreach { case (_, st) =>
        if (st.getPath.getName.startsWith(sweepPrefix))
          f.delete(st.getPath, false)
      }
      f.create(new Path(dir, "_SUCCESS"), true).close()
      return nextVisible.size
    }
    // 3. cleanup only AFTER the swap, with K-GENERATION RETENTION
    //    (`retain.generations`, default 1): the newest K superseded
    //    generations' manifests and parts stay on disk. K=1 is the
    //    concurrent-reader floor — a reader that resolved gen N before
    //    this commit can still open its manifest and parts. K>1 is TIME
    //    TRAVEL retention: a pinned `generation` read (or catalog
    //    `VERSION AS OF`) resolves any retained manifest, giving
    //    reproducible snapshots of a mutating table without copying data
    //    (superseded generations share unchanged part files with their
    //    successors — append-heavy tables retain history nearly free;
    //    only overwritten/deleted parts cost bytes). Everything was
    //    DECIDED pre-swap (tombstone window crossings, orphan scan);
    //    here the decisions execute: a crash between the swap and any
    //    deletion leaves unreferenced files the next commit's candidate
    //    scan (or vacuum) collects — garbage, never a broken table.
    //    TAG PINNING: generations named by a catalog tag (`tags.pinned`,
    //    from the descriptor) are retained REGARDLESS of the window —
    //    a tagged snapshot stays resolvable until untagged, so `VERSION
    //    AS OF '<tag>'` can never dangle while the tag exists.
    (reclaimNow.map(_._2) ++ orphans).foreach { rel =>
      f.delete(new Path(dir, rel), false)
    }
    children.foreach { case (rel, st) =>
      val n = fileName(rel)
      if ((!rel.contains("/") &&
          GraftTsvManifest.genNumber(n).exists(g =>
            g < oldestRetained && !pinnedGens(g))) ||
          n.startsWith(".staging-") || n.startsWith(".manifest-") ||
          n.startsWith(sweepPrefix))
        // manifests below the retention window, and — single-writer
        // contract — staging/tmp leftovers of CRASHED jobs (this job's
        // failed/speculative attempts match sweepPrefix; committed ones
        // were renamed away before the listing)
        f.delete(st.getPath, false)
    }
    // segment GC, amortized to CHECKPOINT commits: a `_mseg-*` file is
    // reclaimable once no remaining manifest (retained or pinned main
    // generation, any branch, or the one just published) references it
    // — reading the survivors' (small) manifests here is O(retained)
    // once per checkpoint, not per commit
    if (writeCheckpoint) {
      val remaining = rootNames.filter { n =>
        GraftTsvManifest.genNumber(n).exists(g =>
          (g >= oldestRetained || pinnedGens(g)) && curGen.exists(g <= _)) ||
          GraftTsvManifest.branchOf(n).isDefined
      } :+ manifestName(newGen)
      val refs = remaining.flatMap(n =>
        GraftTsvManifest.segRefs(f, new Path(dir, n))).toSet
      rootNames.filter(_.startsWith(GraftTsvManifest.SegPrefix))
        .filterNot(refs.contains)
        .foreach(n => f.delete(new Path(dir, n), false))
    }
    f.create(new Path(dir, "_SUCCESS"), true).close()
    nextVisible.size
  }

  def sweep(f: FileSystem, dir: Path, sweepPrefix: String): Unit =
    if (f.exists(dir))
      allFiles(f, dir).foreach { case (_, st) =>
        if (st.getPath.getName.startsWith(sweepPrefix))
          f.delete(st.getPath, false)
      }
}

/** Streaming twin of [[GraftTsvWriterFactory]]: the epoch id joins the
  * staging name (under the same `.staging-<queryId>` sweep prefix), so
  * concurrent attempts of the same partition across epochs and replays
  * never collide, and an aborted epoch's leftovers are collected by the
  * same job-scoped sweep. */
final class GraftTsvStreamingWriterFactory(
    schema: StructType,
    path: String,
    delimiter: Char,
    queryId: String,
    hconf: SerializableHadoopConf,
    partCols: Seq[String] = Seq.empty,
    blockBytes: Long = 4L * 1024 * 1024)
    extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long)
      : DataWriter[InternalRow] =
    new GraftTsvDataWriter(schema, path, delimiter, s"$queryId-e$epochId",
      partitionId, taskId, hconf, partCols, blockBytes)
}

/** Root-relative staged paths this task wrote, each with its encoded
  * column-stats cell (empty = nothing staged; several entries when a
  * task's rows span partition leaves or the FD cap forced re-opens). */
final case class GraftTsvCommitMessage(staged: Seq[(String, String)])
    extends WriterCommitMessage

final class GraftTsvWriterFactory(
    schema: StructType,
    path: String,
    delimiter: Char,
    queryId: String,
    hconf: SerializableHadoopConf,
    partCols: Seq[String] = Seq.empty,
    blockBytes: Long = 4L * 1024 * 1024) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new GraftTsvDataWriter(schema, path, delimiter, queryId, partitionId, taskId,
      hconf, partCols, blockBytes)
}

/** Task-side writer: serialize to a staging file, hand the name back in
  * the commit message. An empty partition stages nothing (no empty
  * part files). */
final class GraftTsvDataWriter(
    schema: StructType,
    path: String,
    delimiter: Char,
    queryId: String,
    partitionId: Int,
    taskId: Long,
    hconf: SerializableHadoopConf,
    partCols: Seq[String] = Seq.empty,
    blockBytes: Long = 4L * 1024 * 1024) extends DataWriter[InternalRow] {

  // task attempt id in the name keeps concurrent speculative attempts of
  // the same partition from colliding on one staging file
  private val attempt = UUID.randomUUID().toString.take(8)
  private lazy val fs: FileSystem = new Path(path).getFileSystem(hconf.value)

  // hive layout: partition columns route the row to a `col=value` leaf
  // dir and are NOT serialized into the line (the reader reconstructs
  // them from the path)
  private val partIdx: Array[Int] = partCols.map(schema.fieldIndex).toArray
  private val dataIdx: Array[Int] = {
    val part = partIdx.toSet
    schema.fields.indices.filterNot(part).toArray
  }

  // one open staging file per partition leaf this task has seen (an
  // unpartitioned write is the single leaf ""): value = (writer,
  // root-relative staged path for the commit message). Open-file count is
  // CAPPED: a task whose rows span many partition values would otherwise
  // hold one file descriptor per value and exhaust the task's FD budget
  // on high-cardinality partition columns. On overflow the
  // least-recently-opened writer closes (its staged path is already
  // recorded); a revisited leaf simply opens a NEW staging file — the
  // commit message is a list, so multiple staged files per leaf are
  // fine. Pathological row orders trade FDs for file count; pre-sorting
  // by the partition columns (what Spark's own dynamic-partition write
  // does) restores one file per leaf.
  private val MaxOpenWriters = 64
  private var fileSeq = 0
  private var closedStaged = List.empty[(String, String)] // (rel, stats)
  private val open =
    scala.collection.mutable.LinkedHashMap[String, StagedOut]()

  // columns worth per-file min/max stats: data columns of supported
  // types (partition columns are path-constant; unsupported types have
  // no comparator). The reader turns these into FILE SKIPPING for range
  // predicates on data columns — pruning without partitioning.
  private val statIdx: Array[Int] = dataIdx.filter(i =>
    GraftTsvPushdown.supportedType(schema.fields(i).dataType))

  /** One staged output file + its running column ranges and row count,
    * tracked per BLOCK — a byte range closed at a line boundary roughly
    * every `blockBytes` bytes. Blocks are the parquet-row-group analog
    * for line text: the manifest records each block's column ranges, so
    * a multi-split scan of ONE large sorted file can skip the splits
    * whose overlapping blocks provably exclude a predicate — where most
    * of a 100 TB corpus lives. File-level stats are the merge of the
    * blocks (tracked once, not twice). */
  private final class StagedOut(
      val out: java.io.BufferedOutputStream, val rel: String, blockBytes: Long) {
    // closed blocks: (startByte, endByte, mins, maxs, rows)
    private val blocks =
      scala.collection.mutable.ListBuffer[(Long, Long, Array[Any], Array[Any], Long)]()
    private var mins = new Array[Any](schema.length)
    private var maxs = new Array[Any](schema.length)
    private var rows = 0L
    private var written = 0L
    private var blockStart = 0L

    def write(bytes: Array[Byte]): Unit = {
      out.write(bytes)
      written += bytes.length
    }

    def observe(row: InternalRow): Unit = {
      rows += 1
      var j = 0
      while (j < statIdx.length) {
        val i = statIdx(j)
        if (!row.isNullAt(i)) {
          val dt = schema.fields(i).dataType
          val v: Any = dt match {
            case LongType => row.getLong(i)
            case IntegerType | DateType => row.getInt(i)
            case DoubleType => row.getDouble(i)
            case StringType => row.getUTF8String(i)
            case _ => null
          }
          if (v != null) {
            // clone only when a string value is actually RETAINED as a
            // new extreme (unsafe rows reuse the backing buffer across
            // rows; cmp itself does not retain) — cloning every cell
            // doubled string allocations on the write hot path
            def kept: Any = v match {
              case s: org.apache.spark.unsafe.types.UTF8String => s.clone()
              case other => other
            }
            if (mins(i) == null || GraftTsvPushdown.cmp(dt, v, mins(i)) < 0)
              mins(i) = kept
            if (maxs(i) == null || GraftTsvPushdown.cmp(dt, v, maxs(i)) > 0)
              maxs(i) = kept
          }
        }
        j += 1
      }
      // close at the LINE boundary just written, so block bounds are
      // always line starts (the property split pruning relies on)
      if (written - blockStart >= blockBytes) closeBlock()
    }

    private def closeBlock(): Unit = if (rows > 0) {
      blocks += ((blockStart, written, mins, maxs, rows))
      mins = new Array[Any](schema.length)
      maxs = new Array[Any](schema.length)
      rows = 0L
      blockStart = written
    }

    /** File-level `#n` + `col:type:min:max,...` (the merge of the
      * blocks), followed by one `#b:start:end:<escaped inner cell>` per
      * block when the file closed more than one — a single block would
      * duplicate the file stats byte for byte. The type tag lets a
      * reader that declares a DIFFERENT type for a column ignore ranges
      * whose ordering no longer applies. */
    def statsString: String = {
      closeBlock()
      val fm = new Array[Any](schema.length)
      val fx = new Array[Any](schema.length)
      var fr = 0L
      blocks.foreach { case (_, _, m, x, r) =>
        fr += r
        var j = 0
        while (j < statIdx.length) {
          val i = statIdx(j)
          val dt = schema.fields(i).dataType
          if (m(i) != null &&
              (fm(i) == null || GraftTsvPushdown.cmp(dt, m(i), fm(i)) < 0))
            fm(i) = m(i)
          if (x(i) != null &&
              (fx(i) == null || GraftTsvPushdown.cmp(dt, x(i), fx(i)) > 0))
            fx(i) = x(i)
          j += 1
        }
      }
      val fileCell = GraftTsvManifest.statsCell(schema, statIdx, fm, fx, fr)
      if (blocks.size <= 1) fileCell
      else fileCell + "," + blocks.map { case (s, e, m, x, r) =>
        s"#b:$s:$e:" + GraftTsvManifest.statEscape(
          GraftTsvManifest.statsCell(schema, statIdx, m, x, r))
      }.mkString(",")
    }
  }

  private def writerFor(leafRel: String): StagedOut =
    open.get(leafRel) match {
      case Some(s) => s
      case None =>
        if (open.size >= MaxOpenWriters) {
          val (oldest, s) = open.head
          s.out.close()
          closedStaged ::= (s.rel, s.statsString)
          open.remove(oldest)
        }
        val stagedName =
          s".staging-$queryId-$partitionId-$taskId-$attempt-$fileSeq"
        fileSeq += 1
        val leafDir =
          if (leafRel.isEmpty) new Path(path) else new Path(path, leafRel)
        if (!fs.exists(leafDir)) fs.mkdirs(leafDir)
        val w = new java.io.BufferedOutputStream(
          fs.create(new Path(leafDir, stagedName), true))
        val s = new StagedOut(w,
          (if (leafRel.isEmpty) "" else leafRel + "/") + stagedName, blockBytes)
        open.put(leafRel, s)
        s
    }

  /** Text form of a value (the connector's documented conventions);
    * `checkFraming` rejects delimiter/newline in LINE fields — partition
    * values instead get path-escaped, where framing is irrelevant. */
  private def fieldString(row: InternalRow, i: Int, checkFraming: Boolean): String = {
    if (row.isNullAt(i)) return ""
    schema.fields(i).dataType match {
      case StringType =>
        val s = row.getUTF8String(i).toString
        if (checkFraming &&
            (s.indexOf(delimiter) >= 0 || s.indexOf('\n') >= 0 || s.indexOf('\r') >= 0))
          throw new IllegalArgumentException(
            s"graft-tsv: value in column '${schema.fields(i).name}' contains " +
              "the delimiter or a newline; line-framed text cannot hold it")
        s
      case LongType => row.getLong(i).toString
      case IntegerType => row.getInt(i).toString
      case DoubleType => row.getDouble(i).toString
      case DateType => java.time.LocalDate.ofEpochDay(row.getInt(i)).toString
      case other =>
        throw new IllegalArgumentException(s"graft-tsv: unsupported write type $other")
    }
  }

  private def leafRelOf(row: InternalRow): String =
    if (partIdx.isEmpty) ""
    else partIdx.map { i =>
      val v =
        if (row.isNullAt(i)) "__HIVE_DEFAULT_PARTITION__"
        else GraftTsvPushdown.escapePathValue(fieldString(row, i, checkFraming = false))
      s"${schema.fields(i).name}=$v"
    }.mkString("/")

  // the Write requests clustering + partition-column ordering, so in the
  // normal plan rows arrive leaf-contiguously and the open-writer map
  // naturally holds one file per leaf (an eviction under the cap only
  // ever closes an already-finished leaf). Unsorted input (the request
  // is advisory) degrades to eviction + reopen and stays correct.
  override def write(row: InternalRow): Unit = {
    val sb = new java.lang.StringBuilder
    var j = 0
    while (j < dataIdx.length) {
      if (j > 0) sb.append(delimiter)
      sb.append(fieldString(row, dataIdx(j), checkFraming = true))
      j += 1
    }
    sb.append('\n')
    val out = writerFor(leafRelOf(row))
    // serialize to BYTES here (not a chained encoder stream): the block
    // tracker needs exact byte offsets at line granularity, and UTF-8
    // lengths are only knowable at encode time
    out.write(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    out.observe(row)
  }

  override def commit(): WriterCommitMessage = {
    open.values.foreach(_.out.close())
    GraftTsvCommitMessage(
      closedStaged.reverse ++ open.values.map(s => (s.rel, s.statsString)))
  }

  override def abort(): Unit = {
    open.values.foreach(_.out.close())
    (closedStaged.map(_._1) ++ open.values.map(_.rel))
      .foreach(rel => fs.delete(new Path(path, rel), false))
  }

  override def close(): Unit = ()
}
