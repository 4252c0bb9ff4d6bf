package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A `TableCatalog` for graft-tsv tables — the SQL DDL surface of the
  * connector. Registered as a session catalog
  * (`spark.sql.catalog.<name> = graft.sources.GraftTsvCatalog`,
  * `spark.sql.catalog.<name>.root = <base dir>`), it makes the full SQL
  * lifecycle work against the text format:
  *
  * {{{
  *   CREATE NAMESPACE g.db
  *   CREATE TABLE g.db.t (id BIGINT, day STRING) USING graft-tsv
  *     PARTITIONED BY (day)
  *   INSERT INTO g.db.t SELECT ...      -- epoch/stats/manifest commit
  *   SELECT * FROM g.db.t WHERE day='x' -- partition + stats pruning
  *   INSERT OVERWRITE g.db.t SELECT ... -- atomic manifest swap
  *   DROP TABLE g.db.t
  * }}}
  *
  * Layout is filesystem-native, matching the connector's zero-service
  * stance: a namespace is a directory under the root, a table is a
  * directory holding a `_graft_table` descriptor (schema JSON + declared
  * partition columns + delimiter) next to its data — the descriptor is
  * what lets `loadTable` hand back a fully-configured [[GraftTsvTable]]
  * with no side-channel options, so SQL INSERTs inherit the table's
  * partitioning and every read resolves the generation manifest as
  * usual. Only IDENTITY partition transforms are accepted (hive layout
  * has no bucket/truncate transforms). Concurrency follows the
  * connector's single-writer-per-table contract; DDL operations are
  * driver-side metadata-file writes.
  */
final class GraftTsvCatalog extends TableCatalog with SupportsNamespaces
    with ProcedureCatalog with StagingTableCatalog {

  private var catalogName: String = _
  private var root: Path = _

  /** Residue dirs (crashed stage workspaces, `-replaced-` leftovers)
    * must sit untouched this long before a later stage() sweeps them —
    * long enough that a dir with recent activity is, for any practical
    * purpose, a LIVE concurrent operation the sweep must not gut.
    *
    * The AGE itself comes from the creation/retirement epoch embedded in
    * the dir NAME (`.{t}-stage-{epoch}-{uuid}`,
    * `.{t}-replaced-{epoch}-{uuid}`), NOT from the dir's mtime: a rename
    * preserves the renamed dir's own mtime, so a just-retired
    * `-replaced-` dir inherits the old table dir's often hours-old mtime
    * and a pure-mtime gate would sweep it INSIDE the REPLACE swap window
    * — gutting the rollback source if the swap's second rename then
    * fails. Dirs from older layouts without an epoch segment fall back
    * to the mtime gate. */
  private val StageSweepAgeMs = 60L * 60 * 1000

  /** Creation/retirement epoch embedded in a residue dir name:
    * `.{t}-stage-{epoch}-{uuid}` / `.{t}-replaced-{epoch}-{uuid}`.
    * None for legacy names without the epoch segment. */
  private def residueEpoch(name: String, prefix: String): Option[Long] = {
    val rest = name.stripPrefix(prefix)
    val seg = rest.takeWhile(_ != '-')
    if (seg.length >= 12 && seg.forall(_.isDigit)) Some(seg.toLong) else None
  }

  /** Newest modification time anywhere under `st` — a live stage writing
    * only into nested hive-partition subdirs never bumps the TOP-LEVEL
    * workspace mtime, so the sweep must look at the whole tree before
    * deciding a stage is abandoned. Folds over the FileStatus objects a
    * single listStatus already returned (no per-child re-stat), and a
    * child deleted mid-walk by a LIVE concurrent stage's own attempt
    * sweep reads as "just modified" — a vanishing file is activity, and
    * treating it so can only make the sweep more conservative. Residue
    * dirs are small (one table's files); this is a sweep-time-only
    * walk, and only for dirs already past the name-epoch age gate. */
  private def newestMtime(f: FileSystem, st: org.apache.hadoop.fs.FileStatus): Long =
    if (!st.isDirectory) st.getModificationTime
    else {
      val children =
        try f.listStatus(st.getPath)
        catch { case _: java.io.FileNotFoundException => return Long.MaxValue }
      children.foldLeft(st.getModificationTime)(
        (m, c) => m max newestMtime(f, c))
    }

  override def name(): String = catalogName

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = new Path(Option(options.get("root")).getOrElse(
      throw new IllegalArgumentException(
        s"graft catalog '$name': set spark.sql.catalog.$name.root to a base directory")))
  }

  private def fs(): FileSystem = root.getFileSystem(
    SparkSession.active.sparkContext.hadoopConfiguration)

  private def nsDir(namespace: Array[String]): Path =
    namespace.foldLeft(root)((p, n) => new Path(p, n))

  private def tableDir(ident: Identifier): Path =
    new Path(nsDir(ident.namespace()), ident.name())

  import GraftTsvCatalog.MetaName

  private def metaPath(dir: Path): Path = new Path(dir, MetaName)

  /** Descriptor layout: line 1 schema JSON, line 2 partition cols (CSV),
    * line 3 delimiter code point, line 4 (optional, added with time
    * travel) table properties as `k=v` pairs joined by `;`, line 5
    * (optional, added with RENAME COLUMN) the column-rename history as
    * `#renames:` + `historical>current` pairs joined by `;`. Older
    * shorter descriptors read as propertyless / rename-free —
    * forward-compatible. */
  private case class Descriptor(schema: StructType, partCols: Seq[String],
      delimiter: Char, props: Map[String, String],
      renames: Seq[(String, String)] = Seq.empty,
      tags: Map[String, Long] = Map.empty,
      drops: Seq[String] = Seq.empty) {
    def serialized: String = {
      // the k=v;k=v and old>new;old>new lines have no escaping, so the
      // separators must not appear in keys or values — today
      // checkTableProperties/alterTable restrict the content, but the invariant
      // is enforced HERE, where it is relied on, so a future property or
      // exotic column name cannot silently corrupt the descriptor
      props.foreach { case (k, v) =>
        require(!(k + v).exists(c => c == ';' || c == '=' || c == '\n' || c == '\r'),
          s"graft catalog: table property '$k'='$v' contains a descriptor " +
            "separator (';', '=', newline) — unsupported in the k=v;k=v line")
      }
      renames.foreach { case (o, n) =>
        require(!(o + n).exists(c => c == ';' || c == '>' || c == ':' ||
            c == ',' || c == '\n' || c == '\r'),
          s"graft catalog: rename '$o'>'$n' contains a descriptor separator")
      }
      drops.foreach { d =>
        require(!d.exists(c => c == ';' || c == '\n' || c == '\r'),
          s"graft catalog: dropped-column name '$d' contains a descriptor separator")
      }
      tags.keys.foreach { t =>
        require(TagNameRe.matches(t) && !t.forall(_.isDigit),
          s"graft catalog: tag '$t' must match [A-Za-z0-9._-]+ and not be " +
            "all digits (a numeric VERSION AS OF names a generation)")
      }
      val base = schema.json + "\n" + partCols.mkString(",") + "\n" +
        delimiter.toInt + "\n"
      if (props.isEmpty && renames.isEmpty && tags.isEmpty && drops.isEmpty)
        base
      else {
        val propsLine =
          props.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(";")
        base + propsLine + "\n" +
          (if (renames.isEmpty) ""
           else "#renames:" +
             renames.map { case (o, n) => s"$o>$n" }.mkString(";") + "\n") +
          (if (tags.isEmpty) ""
           else "#tags:" + tags.toSeq.sortBy(_._1)
             .map { case (t, g) => s"$t:$g" }.mkString(";") + "\n") +
          (if (drops.isEmpty) ""
           else "#drops:" + drops.mkString(";") + "\n")
      }
    }
  }

  /** Tag-name charset: path/descriptor-safe, and syntactically disjoint
    * from generation numbers so `VERSION AS OF` dispatch is unambiguous. */
  private val TagNameRe = "[A-Za-z0-9._-]+".r

  private def readDescriptor(f: FileSystem, mp: Path): Descriptor = {
    val in = f.open(mp)
    val lines =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    // trailing lines are PREFIX-dispatched (older descriptors simply end
    // early): index 3 is the props k=v line unless '#'-marked, everything
    // after carries its own marker — adding a marker line never shifts an
    // existing one
    val trailing = lines.drop(3)
    Descriptor(
      DataType.fromJson(lines.head).asInstanceOf[StructType],
      lines.lift(1).toSeq.flatMap(_.split(",")).filter(_.nonEmpty),
      lines.lift(2).fold('\t')(_.toInt.toChar),
      trailing.headOption.filterNot(_.startsWith("#")).toSeq
        .flatMap(_.split(";").filter(_.contains("=")).map { kv =>
          val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1)
        }).toMap,
      trailing.filter(_.startsWith("#renames:"))
        .flatMap(_.stripPrefix("#renames:").split(";").filter(_.contains(">"))
          .map { on =>
            val i = on.indexOf('>'); on.take(i) -> on.drop(i + 1)
          }),
      trailing.filter(_.startsWith("#tags:"))
        .flatMap(_.stripPrefix("#tags:").split(";").filter(_.contains(":"))
          .map { tg =>
            val i = tg.lastIndexOf(':')
            tg.take(i) -> tg.drop(i + 1).toLong
          }).toMap,
      trailing.filter(_.startsWith("#drops:"))
        .flatMap(_.stripPrefix("#drops:").split(";").filter(_.nonEmpty)
          .toSeq))
  }

  /** Atomic descriptor (re)write: hidden tmp + OVERWRITE rename — a reader
    * racing a DDL sees the old or new descriptor, never a torn file. */
  private def writeDescriptor(f: FileSystem, dir: Path, d: Descriptor): Unit = {
    val tmp = new Path(dir, s".${MetaName}-tmp-${java.util.UUID.randomUUID().toString.take(8)}")
    val out = f.create(tmp, true)
    try out.write(d.serialized.getBytes("UTF-8"))
    finally out.close()
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      dir.toUri, SparkSession.active.sparkContext.hadoopConfiguration)
    fc.rename(tmp, metaPath(dir), org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  // ---- tables ----

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val f = fs()
    val dir = nsDir(namespace)
    if (!f.exists(dir)) throw noSuchNamespace(namespace)
    // dot-prefixed dirs are staged CTAS/RTAS workspaces (and descriptor
    // tmp siblings) — never visible tables, even though they carry a
    // descriptor of their own
    f.listStatus(dir).collect {
      case st if st.isDirectory && !st.getPath.getName.startsWith(".") &&
          f.exists(metaPath(st.getPath)) =>
        Identifier.of(namespace, st.getPath.getName)
    }
  }

  override def tableExists(ident: Identifier): Boolean =
    fs().exists(metaPath(tableDir(ident)))

  override def loadTable(ident: Identifier): Table =
    loadTableAt(ident, generation = None)

  /** SQL time travel (`SELECT ... FROM t VERSION AS OF <gen>`): Spark
    * routes the version literal here; it pins the generation the scan
    * resolves. Only generations inside the table's `retain.generations`
    * window still exist — a miss fails at scan planning, naming what IS
    * retained. */
  override def loadTable(ident: Identifier, version: String): Table =
    version.toLongOption match {
      case Some(g) => loadTableAt(ident, Some(g))
      case None =>
        // non-numeric version = a NAMED TAG (CALL g.system.tag) or a live
        // BRANCH (CALL g.system.branch): a tag resolves to its pinned
        // generation, a branch to a read-only view of its current head
        // (`SELECT ... VERSION AS OF 'dev'` = review the branch in SQL).
        // A name that is BOTH refuses loudly rather than guessing.
        val f = fs()
        val dir = tableDir(ident)
        val mp = metaPath(dir)
        if (!f.exists(mp)) throw noSuchTable(ident)
        val d = readDescriptor(f, mp)
        val branches = f.listStatus(dir).toSeq
          .flatMap(st => GraftTsvManifest.branchOf(st.getPath.getName))
          .distinct
        (d.tags.get(version), branches.contains(version)) match {
          case (Some(_), true) =>
            throw new IllegalArgumentException(
              s"graft catalog: VERSION AS OF '$version' is BOTH a tag and " +
                s"a branch on ${ident.name()} — disambiguate: read the tag " +
                "by its pinned generation number, or the branch via " +
                s".option(\"branch\", \"$version\")")
          case (Some(g), false) => loadTableAt(ident, Some(g))
          case (None, true) =>
            val (d2, opts) = tableOptions(ident, None)
            new GraftTsvTable(d2.schema,
              GraftTsvOptions(opts + (GraftTsvOptions.Branch -> version)))
          case (None, false) =>
            throw new IllegalArgumentException(
              s"graft catalog: VERSION AS OF '$version' — no such tag or " +
                s"branch on ${ident.name()} (tags: " +
                (if (d.tags.isEmpty) "none"
                 else d.tags.toSeq.sortBy(_._1)
                   .map { case (t, g) => s"$t->$g" }.mkString(", ")) +
                "; branches: " +
                (if (branches.isEmpty) "none"
                 else branches.sorted.mkString(", ")) + ")")
        }
    }

  /** SQL `TIMESTAMP AS OF <t>`: Spark hands the literal as MICROSECONDS
    * since the epoch; it resolves to the newest retained generation whose
    * manifest was published at or before that instant. The publish
    * instant is the manifest's own `#published:` marker (stamped by the
    * commit immediately before the atomic `_gen` rename); pre-marker
    * manifests fall back to file modification time — a write-time
    * approximation that slightly precedes visibility and can collide at
    * coarse filesystem granularity, which is why the marker exists.
    * "Published before t" is exactly the snapshot a reader at time t
    * would have resolved. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val f = fs()
    val dir = tableDir(ident)
    if (!f.exists(metaPath(dir))) throw noSuchTable(ident)
    val tsMillis = timestamp / 1000L
    val gens = f.listStatus(dir).toSeq.flatMap(st =>
      GraftTsvManifest.genNumber(st.getPath.getName)
        .map(g => (g, GraftTsvManifest.publishedOf(f, st.getPath)
          .getOrElse(st.getModificationTime))))
    if (gens.isEmpty)
      throw new IllegalArgumentException(
        s"graft catalog: TIMESTAMP AS OF on ${ident.name()} — table has no " +
          "generation manifests yet (no committed write)")
    val eligible = gens.filter(_._2 <= tsMillis)
    if (eligible.isEmpty)
      throw new IllegalArgumentException(
        s"graft catalog: TIMESTAMP AS OF resolves before the oldest RETAINED " +
          s"generation of ${ident.name()} (earliest retained was published at " +
          s"epoch-ms ${gens.map(_._2).min}) — older history was reclaimed; " +
          "raise retain.generations to keep a deeper window")
    loadTableAt(ident, Some(eligible.maxBy(_._1)._1))
  }

  private def loadTableAt(ident: Identifier, generation: Option[Long]): Table = {
    val (d, opts) = tableOptions(ident, generation)
    new GraftTsvTable(d.schema, GraftTsvOptions(opts))
  }

  /** The reader option map `loadTableAt` hands the table — factored out so
    * [[changes]] can assemble the SAME options (schema, delimiter, hive
    * layout, rename aliases, pins) with an extra generation-diff knob. */
  private def tableOptions(ident: Identifier, generation: Option[Long])
      : (Descriptor, Map[String, String]) = {
    val f = fs()
    val dir = tableDir(ident)
    val mp = metaPath(dir)
    if (!f.exists(mp)) throw noSuchTable(ident)
    val d = readDescriptor(f, mp)
    (d, GraftTsvOptions.catalogTable(dir.toString, d.delimiter, d.partCols,
      d.props, d.renames, d.tags.values, generation))
  }

  /** CHANGES FEED (generation diff): the net row-level difference between
    * two retained snapshots of a catalog table, as a DataFrame of the
    * table's rows plus a `_change_type` column (`insert` | `delete`) —
    * what Delta's CDF / Iceberg's changelog read answer, reconstructed
    * from the copy-on-write file history instead of logged change rows.
    * It is [[netChanges]] with each row repeated |n| times.
    *
    * Plan shape (the 100 TB story): each side scans ONLY the part files
    * its manifest lists that the other's does not (`diff.exclude
    * .generation`, applied at file-listing time) — a shared relpath is
    * byte-identical in both snapshots under the commit protocol and never
    * leaves the driver's metadata. An append's diff therefore reads just
    * the appended files; a DELETE/MERGE diff reads the rewritten files
    * plus their originals, and ONE signed aggregate (see [[signedDiff]])
    * cancels the surviving rows that were merely copied over — with no
    * exchange at all when the changed files fit under
    * `spark.sql.autoBroadcastJoinThreshold` (one partition), else one
    * shuffle of the changed-file rows. Multiplicity is preserved, as
    * with `exceptAll`: a row appearing twice and deleted once diffs as
    * ONE delete. Net semantics over [from, to]: a row inserted then
    * deleted between the endpoints does not appear.
    *
    * This is a DataFrame API rather than a `CALL` procedure deliberately:
    * procedures return driver-materialized rows, and a changes feed is
    * data-sized — it must stay a distributed scan. Both sides read under
    * the CURRENT schema (trailing ADD COLUMN fills old generations with
    * null, exactly like a time-travel read), so a column added between
    * the endpoints diffs as a value change where the data differs, not a
    * schema error. Tag names (VERSION AS OF's named pins) resolve too. */
  def changes(spark: org.apache.spark.sql.SparkSession, ident: Identifier,
      from: String, to: String): org.apache.spark.sql.DataFrame =
    changeRows(netChanges(spark, ident, from, to))

  /** The SIGNED changes feed: each distinct changed row of [[changes]]
    * once, plus its net copy count [[GraftTsvMeta.NetCol]] (> 0 net
    * inserted, < 0 net deleted, never 0). Incremental consumers that fold
    * the delta into a sum read this directly instead of expanding and
    * re-grouping the `_change_type` rows. */
  private[graft] def netChanges(spark: org.apache.spark.sql.SparkSession,
      ident: Identifier, from: String, to: String)
      : org.apache.spark.sql.DataFrame = {
    val f = fs()
    val mp = metaPath(tableDir(ident))
    if (!f.exists(mp)) throw noSuchTable(ident)
    val d0 = readDescriptor(f, mp)
    def resolve(v: String): Long = v.toLongOption.getOrElse(
      d0.tags.getOrElse(v, throw new IllegalArgumentException(
        s"graft catalog: changes($v) — neither a generation number nor a " +
          s"tag on ${ident.name()} (tags: " +
          (if (d0.tags.isEmpty) "none"
           else d0.tags.keys.toSeq.sorted.mkString(", ")) + ")")))
    val (fromGen, toGen) = (resolve(from), resolve(to))
    require(fromGen < toGen,
      s"graft catalog: changes requires from < to, got $fromGen >= $toGen")
    diffOf(spark, ident, fromGen, toGen, Map.empty)
  }

  /** The signed diff scaffolding [[netChanges]] and [[branchChanges]]
    * share: each side scans only the files the other endpoint's manifest
    * lacks (`diff.exclude.generation` at file listing), [[signedDiff]]
    * refines file-level novelty to row-level change (in one partition
    * with no exchange when the changed files are small, else over one
    * hash exchange), `extraOpts` selects the lineage the endpoint
    * generations resolve in (empty = main, `branch` = that branch's
    * chain). One implementation, so the diff semantics and plan shape
    * cannot silently diverge between the two entry points. */
  private def diffOf(spark: org.apache.spark.sql.SparkSession,
      ident: Identifier, fromGen: Long, toGen: Long,
      extraOpts: Map[String, String]): org.apache.spark.sql.DataFrame = {
    def side(gen: Long, excl: Long): org.apache.spark.sql.DataFrame = {
      val (d, opts) = tableOptions(ident, Some(gen))
      spark.read.format("graft-tsv").schema(d.schema)
        .options(opts ++ extraOpts
          + (GraftTsvOptions.ExcludeGeneration -> excl.toString))
        .load() // `path` rides the option map, same as loadTableAt
    }
    signedDiff(added = side(toGen, fromGen), removed = side(fromGen, toGen))
  }

  /** Multiset difference `added − removed` in ONE aggregate: union the
    * sides tagged +1 / −1, group by every column, keep the rows whose
    * summed tag is non-zero, as (row columns, [[GraftTsvMeta.NetCol]]).
    * This is Spark's own `exceptAll` rewrite (RewriteExceptAll) with the
    * two directions sharing one sign, so NULL grouping and NaN / −0.0
    * normalisation are exactly `exceptAll`'s — but both sides are scanned
    * once, where the `exceptAll` pair scanned each twice.
    *
    * Exchange: when the changed files of both sides together fit under
    * `spark.sql.autoBroadcastJoinThreshold` — the size below which Spark
    * already treats a relation as needing no shuffle — the union is
    * planned as ONE partition (`coalesce(1)`), so the aggregate runs
    * with ZERO exchanges; above the bound (or with the threshold
    * disabled, −1) it keeps one hash exchange of the changed-file rows.
    * The size is the scans' own statistic (file bytes of the manifest
    * entries each side lists), read off the optimized union, and the
    * aggregate is built over that same optimized plan, so each side's
    * scan lists its files once — when the frame is built, not when it
    * runs (the generation pins make the two the same listing). The bound
    * is read from the calling session's conf; nothing is set on it. */
  private def signedDiff(added: org.apache.spark.sql.DataFrame,
      removed: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, sum}
    val spark = added.sparkSession
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val n = GraftTsvMeta.NetCol
    val planned = added.withColumn(n, lit(1L))
      .unionByName(removed.withColumn(n, lit(-1L)))
      .queryExecution.optimizedPlan
    val bytes = planned.collectLeaves().map(_.stats.sizeInBytes).sum
    val union = org.apache.spark.sql.graftbridge.GraftPlanBridge
      .ofRows(spark, planned)
    val rows =
      if (bytes <= spark.sessionState.conf.autoBroadcastJoinThreshold)
        union.coalesce(1)
      else union
    rows.groupBy(added.columns.toSeq.map(col): _*).agg(sum(col(n)).as(n))
      .filter(col(n) =!= 0L)
  }

  /** A signed diff as `_change_type` rows: |n| copies of each row, tagged
    * `insert` for n > 0 and `delete` for n < 0. */
  private def changeRows(signed: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val n = col(GraftTsvMeta.NetCol)
    signed.select(signed.columns.toSeq.filter(_ != GraftTsvMeta.NetCol)
      .map(col) :+ explode(array_repeat(
        when(n > 0L, lit("insert")).otherwise(lit("delete")),
        abs(n).cast("int"))).as(GraftTsvMeta.ChangeCol): _*)
  }

  /** BRANCH DIFF — the data-engineering code review: the net row-level
    * delta a branch would fast-forward into main, as a `_change_type`
    * (insert|delete) DataFrame. Same planning seam as [[changes]]
    * (each side lists only the files the other endpoint's manifest
    * lacks; copy-on-write makes shared relpaths byte-identical), but
    * both endpoints resolve inside the BRANCH manifest chain: `from` =
    * the branch base (the seed copy made at branch creation — main's
    * state at the branch point, so the diff is against what the branch
    * actually forked from, not a since-diverged main head), `to` = the
    * branch head. An unwritten branch diffs empty. Cost scales with the
    * branch's own delta, never the table. */
  def branchChanges(spark: org.apache.spark.sql.SparkSession,
      ident: Identifier, name: String): org.apache.spark.sql.DataFrame = {
    val f = fs()
    val dir = tableDir(ident)
    if (!f.exists(metaPath(dir))) throw noSuchTable(ident)
    val rootNames = f.listStatus(dir).toSeq.map(_.getPath.getName)
    val gens = rootNames.flatMap(n => GraftTsvManifest.branchGenNumber(n, name))
    if (gens.isEmpty) {
      val known = rootNames.flatMap(GraftTsvManifest.branchOf).distinct.sorted
      throw new IllegalArgumentException(
        s"graft catalog: branchChanges('$name') — no such branch on " +
          s"${ident.name()}" +
          (if (known.isEmpty) " (no branches)"
           else s" (branches: ${known.mkString(", ")})"))
    }
    val (base, head) = (gens.min, gens.max)
    changeRows(
      diffOf(spark, ident, base, head, Map(GraftTsvOptions.Branch -> name)))
  }

  /** BRANCH CONFLICT REPORT — the row-level reconciliation assist
    * [[graft.sources.GraftTsvMaintenance.mergeBranch]]'s not-fast-forward
    * error points at: the keys TOUCHED ON BOTH SIDES since the branch
    * point, i.e. present in the branch's net delta (base→head, the
    * [[branchChanges]] feed) AND in main's net delta over the same window
    * (base→current main head). Each side's per-key rows classify as
    * `insert` (only inserts), `delete` (only deletes) or `update` (both —
    * a changed row diffs as delete+insert), with the per-side changed-row
    * count. `keys` is caller-supplied (the connector stores no primary-key
    * metadata — exactly like MERGE, where the caller names the join key).
    *
    * A merge is safe to replay row-level when this frame is EMPTY (the
    * two deltas commute); non-empty rows are the keys a three-way merge
    * must decide. Cost: both deltas plan only the files each endpoint
    * pair doesn't share (the [[changes]] seam) — the table itself is
    * never rescanned. The main-side delta's branch-point endpoint is the
    * BRANCH chain's retained base manifest (a byte copy of main at the
    * branch point, via `diff.exclude.lineage`), so the report works even
    * after main's own copy of that generation slid out of retention.
    * Main rolled back below the branch point still reports (every main
    * file the branch point lacks diffs as touched); an unadvanced main
    * (head == branch point) reports empty. */
  def branchConflicts(spark: org.apache.spark.sql.SparkSession,
      ident: Identifier, name: String, keys: Seq[String])
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    require(keys.nonEmpty,
      "graft catalog: branchConflicts needs at least one key column")
    val f = fs()
    val dir = tableDir(ident)
    if (!f.exists(metaPath(dir))) throw noSuchTable(ident)
    val rootNames = f.listStatus(dir).toSeq.map(_.getPath.getName)
    val gens = rootNames.flatMap(n => GraftTsvManifest.branchGenNumber(n, name))
    if (gens.isEmpty)
      throw new IllegalArgumentException(
        s"graft catalog: branchConflicts('$name') — no such branch on " +
          s"${ident.name()}")
    val (base, head) = (gens.min, gens.max)
    val mainCur = rootNames.flatMap(GraftTsvManifest.genNumber).max
    val branchDelta = diffOf(spark, ident, base, head, Map(GraftTsvOptions.Branch -> name))
    // main's net delta since the branch point, with CROSS-LINEAGE
    // endpoints (the same signedDiff as diffOf): the branch-point side
    // reads the branch chain's base manifest, the current side reads
    // main's head — each excluding the other.
    def sideAt(gen: Long, extra: Map[String, String])
        : org.apache.spark.sql.DataFrame = {
      val (d, opts) = tableOptions(ident, Some(gen))
      spark.read.format("graft-tsv").schema(d.schema)
        .options(opts ++ extra).load()
    }
    val mainDelta = signedDiff(
      added = sideAt(mainCur, Map(
        GraftTsvOptions.ExcludeGeneration -> base.toString,
        GraftTsvOptions.ExcludeLineage -> s"branch:$name")),
      removed = sideAt(base, Map(GraftTsvOptions.Branch -> name,
        GraftTsvOptions.ExcludeGeneration -> mainCur.toString,
        GraftTsvOptions.ExcludeLineage -> "main")))
    // per key: inserted rows = Σ positive net counts, deleted = Σ |negative|
    val net = col(GraftTsvMeta.NetCol)
    def summary(delta: org.apache.spark.sql.DataFrame, side: String) =
      delta.groupBy(keys.map(col): _*)
        .agg(
          sum(when(net > 0L, net).otherwise(0L)).as("ins"),
          sum(when(net < 0L, -net).otherwise(0L)).as("del"))
        .select(keys.map(col) ++ Seq(
          when(col("ins") > 0 && col("del") > 0, "update")
            .when(col("ins") > 0, "insert").otherwise("delete")
            .as(s"${side}_change"),
          (col("ins") + col("del")).as(s"${side}_rows")): _*)
    summary(mainDelta, "main")
      .join(summary(branchDelta, "branch"), keys)
      .select(keys.map(col) ++ Seq(col("main_change"), col("main_rows"),
        col("branch_change"), col("branch_rows")): _*)
      .orderBy(keys.map(col): _*)
  }

  /** CHANGELOG: [[changes]] with per-commit attribution — one consecutive
    * generation-pair diff per commit in (from, to], each tagged
    * `_commit_generation`, unioned. Where [[changes]] answers "what is
    * the NET difference between these snapshots", this answers "what did
    * each commit do" — the ordered change stream a downstream
    * incremental consumer replays. Cost is the sum of the per-commit
    * deltas (each pair diff plans only the files that commit touched),
    * which for an append-heavy history is the appended bytes once — NOT
    * per-commit rescans of the table. Needs every generation in [from,
    * to] retained; a reclaimed intermediate fails at planning naming the
    * retained window (deepen `retain.generations` — or use [[changes]],
    * which only needs the endpoints). */
  def changesByCommit(spark: org.apache.spark.sql.SparkSession,
      ident: Identifier, from: String, to: String)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.lit
    val f = fs()
    val mp = metaPath(tableDir(ident))
    if (!f.exists(mp)) throw noSuchTable(ident)
    val d = readDescriptor(f, mp)
    def resolve(v: String): Long = v.toLongOption.getOrElse(
      d.tags.getOrElse(v, throw new IllegalArgumentException(
        s"graft catalog: changesByCommit($v) — neither a generation " +
          s"number nor a tag on ${ident.name()}")))
    val (fromGen, toGen) = (resolve(from), resolve(to))
    require(fromGen < toGen,
      s"graft catalog: changesByCommit requires from < to, got $fromGen >= $toGen")
    (fromGen until toGen).map { g =>
      changes(spark, ident, g.toString, (g + 1).toString)
        .withColumn("_commit_generation", lit(g + 1))
    }.reduce(_.unionByName(_))
  }

  /** Validate a CREATE/REPLACE definition and derive its descriptor —
    * shared by [[createTable]] and the staged CTAS/RTAS path so both
    * enforce identical rules (identity-only partitioning, the supported
    * property set, the LOCATION/EXTERNAL refusal). */
  private def descriptorFor(
      schema: StructType,
      partitions: Array[Transform],
      properties: java.util.Map[String, String]): Descriptor = {
    // loud failure over silent divergence: a LOCATION/EXTERNAL clause
    // this catalog cannot honor must not "succeed" with the data landing
    // somewhere the user did not ask for
    Seq("location", "external").foreach { k =>
      if (properties.containsKey(k) &&
          !java.util.Objects.equals(properties.get(k), "false"))
        throw new UnsupportedOperationException(
          s"graft catalog: $k is not supported — tables live under the " +
            s"catalog root at <root>/<namespace>/<table>")
    }
    val partCols = partitions.map { t =>
      require(t.name() == "identity" && t.references().length == 1 &&
        t.references()(0).fieldNames().length == 1,
        s"graft-tsv tables support only identity partitioning, got $t")
      t.references()(0).fieldNames()(0)
    }
    val delim = GraftTsvOptions(properties.asScala.toMap).delimiter
    // storage-meaningful TBLPROPERTIES persist in the descriptor; Spark's
    // own bookkeeping keys (provider, owner, ...) are not table semantics
    val sparkInternal = Set("provider", "owner", "delimiter",
      "option.delimiter", "transient_lastDdlTime")
    val props = properties.asScala.toMap
      .filter { case (k, _) => !sparkInternal.contains(k) &&
        !k.startsWith("option.") && k != "location" && k != "external" &&
        k != "comment" }
    GraftTsvOptions.checkTableProperties(props)
    Descriptor(schema, partCols.toSeq, delim, props)
  }

  override def createTable(
      ident: Identifier,
      schema: StructType,
      partitions: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    val f = fs()
    val dir = tableDir(ident)
    if (f.exists(metaPath(dir))) throw tableExistsErr(ident)
    if (!f.exists(nsDir(ident.namespace()))) throw noSuchNamespace(ident.namespace())
    val desc = descriptorFor(schema, partitions, properties)
    f.mkdirs(dir)
    // descriptor birth is ATOMIC (hidden tmp + rename, the manifest's own
    // trick): a crash mid-create must not leave an empty descriptor that
    // can neither load nor be re-created
    val tmp = new Path(dir, s".${MetaName}-tmp-${java.util.UUID.randomUUID().toString.take(8)}")
    val out = f.create(tmp, true)
    try out.write(desc.serialized.getBytes("UTF-8"))
    finally out.close()
    if (!f.rename(tmp, metaPath(dir))) {
      f.delete(tmp, false)
      throw tableExistsErr(ident) // concurrent create took the name
    }
    loadTable(ident)
  }

  // ---- atomic CTAS / RTAS (StagingTableCatalog) ----

  /** Atomic `CREATE TABLE ... AS SELECT` (and REPLACE): the staged table
    * is a fully-formed graft-tsv table — descriptor, data parts, manifest
    * generation — built inside a HIDDEN sibling workspace
    * (`<ns>/.<table>-stage-<uuid>`, dot-prefixed so [[listTables]] never
    * surfaces it), and publication is ONE directory rename. Spark's
    * non-staged CTAS fallback is create-then-write: a crash mid-write
    * leaves a visible empty table — exactly the seam this closes. The
    * connector's manifests key data files by RELATIVE path, so the
    * rename carries the committed generation intact.
    *
    *  - CREATE commit: `FileContext.rename` WITHOUT overwrite — if a
    *    concurrent create took the name first, the rename fails, the
    *    workspace is discarded, and the loser sees the standard
    *    already-exists error. Crash before the rename: nothing visible,
    *    one orphaned dot-dir a later stage of the same table sweeps.
    *  - REPLACE commit: retire the current directory to a hidden
    *    `.{table}-replaced-<epoch>-<uuid>` name, rename the workspace into
    *    place, delete the retired dir. The swap is two metadata renames,
    *    so there is a crash window where the table is ABSENT (but never
    *    torn or half-visible — both renames are atomic, and the retired
    *    dir still holds the complete old table for manual recovery); a
    *    failed second rename rolls the old directory back. True
    *    single-op REPLACE needs a pointer-swap layer (Iceberg's catalog
    *    pointer) that a filesystem-native layout does not have.
    *  - abort: delete the workspace — no visible table, no orphan
    *    descriptor (Dsv2CatalogSpec pins this).
    */
  override def stageCreate(
      ident: Identifier, schema: StructType, partitions: Array[Transform],
      properties: java.util.Map[String, String]): StagedTable =
    stage(ident, schema, partitions, properties, replace = false,
      orCreate = false)

  override def stageReplace(
      ident: Identifier, schema: StructType, partitions: Array[Transform],
      properties: java.util.Map[String, String]): StagedTable =
    stage(ident, schema, partitions, properties, replace = true,
      orCreate = false)

  override def stageCreateOrReplace(
      ident: Identifier, schema: StructType, partitions: Array[Transform],
      properties: java.util.Map[String, String]): StagedTable =
    stage(ident, schema, partitions, properties, replace = true,
      orCreate = true)

  private def stage(
      ident: Identifier, schema: StructType, partitions: Array[Transform],
      properties: java.util.Map[String, String],
      replace: Boolean, orCreate: Boolean): StagedTable = {
    val f = fs()
    val ns = nsDir(ident.namespace())
    if (!f.exists(ns)) throw noSuchNamespace(ident.namespace())
    val exists = f.exists(metaPath(tableDir(ident)))
    if (!replace && exists) throw tableExistsErr(ident)
    if (replace && !orCreate && !exists) throw noSuchTable(ident)
    val desc = descriptorFor(schema, partitions, properties)
    val stagePrefix = s".${ident.name()}-stage-"
    // sweep residue of CRASHED earlier operations on this table — both
    // abandoned stage workspaces and `-replaced-` dirs a crash between
    // the REPLACE swap's second rename and its delete left behind
    // (invisible, but holding bytes). AGE-GATED on the epoch embedded in
    // the dir NAME (rename-proof — see StageSweepAgeMs), and for stage
    // workspaces ALSO on the newest mtime anywhere in the tree, so a
    // LIVE long-running stage writing into nested partition subdirs is
    // never gutted mid-write. Belt-and-braces for the pathological case
    // (a stage idle past both gates): commit() re-checks its own
    // descriptor below and fails LOUDLY rather than publishing a gutted
    // workspace.
    val replacedPrefix = s".${ident.name()}-replaced-"
    val sweepBefore = System.currentTimeMillis() - StageSweepAgeMs
    f.listStatus(ns).foreach { st =>
      val n = st.getPath.getName
      val isStage = n.startsWith(stagePrefix)
      val isReplaced = n.startsWith(replacedPrefix)
      if (st.isDirectory && (isStage || isReplaced)) {
        val prefix = if (isStage) stagePrefix else replacedPrefix
        val bornBefore = residueEpoch(n, prefix)
          .getOrElse(st.getModificationTime) < sweepBefore
        // the recursive freshness walk runs ONLY for dirs already past
        // the age gate (short-circuit): a fresh/live stage is never
        // re-stat'ed at all. Replaced dirs are static after retirement —
        // the epoch gate is the whole story; stage dirs can still be
        // receiving writes, so check the whole tree before deleting.
        if (bornBefore &&
            (!isStage || newestMtime(f, st) < sweepBefore))
          f.delete(st.getPath, true)
      }
    }
    val stageDir = new Path(ns,
      stagePrefix + System.currentTimeMillis() + "-" +
        java.util.UUID.randomUUID().toString.take(8))
    f.mkdirs(stageDir)
    writeDescriptor(f, stageDir, desc)
    val inner = new GraftTsvTable(desc.schema, GraftTsvOptions(
      GraftTsvOptions.catalogTable(stageDir.toString, desc.delimiter,
        desc.partCols, desc.props)))
    val commit: () => Unit = () => {
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(
        root.toUri, SparkSession.active.sparkContext.hadoopConfiguration)
      val dst = tableDir(ident)
      // the workspace must still be a complete table (descriptor intact)
      // — if anything disturbed it (e.g. a sweep that outran the age
      // gate), publishing would replace a good table with an unreadable
      // directory; fail loudly with the old table untouched instead
      if (!f.exists(metaPath(stageDir)))
        throw new IllegalStateException(
          s"graft catalog: staged workspace $stageDir lost its descriptor " +
            "before commit (concurrent sweep or external interference); " +
            "aborting the staged operation — the current table is untouched")
      if (!replace || !f.exists(metaPath(dst))) {
        // CREATE (or CoR with no current table): one atomic rename, no
        // overwrite — losing a concurrent-create race fails loudly
        try fc.rename(stageDir, dst)
        catch { case e: java.io.IOException =>
          f.delete(stageDir, true)
          if (f.exists(metaPath(dst))) throw tableExistsErr(ident)
          throw e
        }
      } else {
        // retirement epoch goes in the NAME: the rename below preserves
        // the old table dir's mtime, which may be hours past the sweep
        // gate — a name-borne epoch keeps the rollback source alive for
        // the full StageSweepAgeMs window regardless
        val retired = new Path(ns,
          s".${ident.name()}-replaced-${System.currentTimeMillis()}-" +
            java.util.UUID.randomUUID().toString.take(8))
        fc.rename(dst, retired)
        try fc.rename(stageDir, dst)
        catch { case e: Throwable =>
          fc.rename(retired, dst) // roll the old table back into place
          f.delete(stageDir, true)
          throw e
        }
        f.delete(retired, true)
      }
    }
    new StagedGraftTable(ident, desc, inner, commit,
      () => { f.delete(stageDir, true); () })
  }

  /** The staged table Spark writes CTAS/RTAS data through: a plain
    * [[GraftTsvTable]] rooted at the hidden workspace, plus the
    * commit/abort hooks. The inner table's own write path commits its
    * manifest BEFORE Spark calls [[commitStagedChanges]], so the rename
    * publishes a complete, readable table or nothing. */
  private final class StagedGraftTable(
      ident: Identifier, desc: Descriptor, inner: GraftTsvTable,
      commit: () => Unit, cleanup: () => Unit)
      extends StagedTable with SupportsWrite {
    override def name(): String =
      (Array(catalogName) ++ ident.namespace() :+ ident.name()).mkString(".")
    override def schema(): StructType = desc.schema
    override def capabilities(): java.util.Set[TableCapability] =
      inner.capabilities()
    override def newWriteBuilder(
        info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
        : org.apache.spark.sql.connector.write.WriteBuilder =
      inner.newWriteBuilder(info)
    override def commitStagedChanges(): Unit = commit()
    override def abortStagedChanges(): Unit = cleanup()
  }

  /** Column evolution: ALTER TABLE ... ADD COLUMN(S) (appended at the
    * end, nullable only) and RENAME COLUMN. No data is rewritten for
    * either:
    *  - ADD: old-generation data lines simply end before the new field
    *    and BOTH readers (row and columnar) already emit NULL for fields
    *    past a line's last delimiter, so the backfill is free at read
    *    time; new INSERTs write the full width. The added column has no
    *    manifest stats, so every split conservatively stays readable.
    *  - RENAME: positional TSV data never stores names, so the data
    *    needs nothing — but manifest STATS cells are keyed by the name
    *    the writer used, so the rename is recorded in the descriptor's
    *    rename history and the scan looks old-generation stats up under
    *    the column's historical names (name-mapped evolution; without
    *    the map, file/split skipping would silently stop working for
    *    pre-rename generations). PARTITION column renames are refused:
    *    the hive `col=value` paths bake the name into the layout.
    *  - DROP: only the LAST column (a middle drop would remap every
    *    later positional field under existing generations). Old
    *    generations keep the dropped field's bytes as an extra trailing
    *    field the positional readers never scan (they stop at the last
    *    needed index); new INSERTs write the narrowed width. The dropped
    *    name and its historical aliases are retired in the descriptor's
    *    `#drops:` history, and ADD COLUMN is refused outright once any
    *    drop happened: a new trailing column — whatever its name —
    *    would re-occupy the retired POSITION, and retained wide
    *    generations' bytes would resurrect into it instead of
    *    NULL-backfilling (the problem Iceberg solves with field ids;
    *    positional TSV solves it by refusing to re-extend a narrowed
    *    width).
    * The descriptor rewrite is atomic (tmp + OVERWRITE rename) — a
    * reader that races the ALTER sees either the old or the new schema,
    * never a torn file. Everything else is rejected loudly: reordering
    * and type changes would silently remap positional TSV fields under
    * existing generations. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val f = fs()
    val dir = tableDir(ident)
    val mp = metaPath(dir)
    if (!f.exists(mp)) throw noSuchTable(ident)
    val d0 = readDescriptor(f, mp)
    var schema = d0.schema
    var props = d0.props
    var renames = d0.renames
    var drops = d0.drops
    val partSet = d0.partCols.toSet
    changes.foreach {
      case del: TableChange.DeleteColumn =>
        require(del.fieldNames().length == 1,
          s"graft catalog: nested columns are not supported " +
            s"(got ${del.fieldNames().mkString(".")})")
        val colName = del.fieldNames()(0)
        if (!schema.fieldNames.contains(colName)) {
          if (!del.ifExists())
            throw new IllegalArgumentException(
              s"graft catalog: no column $colName in ${ident.name()}")
        } else {
          require(!partSet.contains(colName),
            s"graft catalog: cannot drop partition column $colName — the " +
              "hive col=value directory layout depends on it")
          require(schema.fields.last.name == colName,
            s"graft catalog: DROP COLUMN supports only the LAST column " +
              s"(${schema.fields.last.name}) — dropping $colName would " +
              "remap every later positional TSV field in existing data")
          require(schema.length > 1,
            s"graft catalog: cannot drop the only column of ${ident.name()}")
          schema = StructType(schema.fields.init)
          // the dropped name AND its historical aliases join the drop
          // history: old generations still carry the field's bytes, so
          // re-adding any of these names would silently RESURRECT old
          // values instead of NULL-backfilling (the AddColumn guard
          // below refuses them — Iceberg solves this with field ids;
          // positional TSV solves it by retiring the names)
          drops = (drops ++ renames.collect { case (h, cur) if cur == colName => h }
            :+ colName).distinct
          renames = renames.filterNot(_._2 == colName)
        }
      case rn: TableChange.RenameColumn =>
        require(rn.fieldNames().length == 1,
          s"graft catalog: nested columns are not supported " +
            s"(got ${rn.fieldNames().mkString(".")})")
        val oldName = rn.fieldNames()(0)
        val newName = rn.newName()
        require(schema.fieldNames.contains(oldName),
          s"graft catalog: no column $oldName in ${ident.name()}")
        require(!partSet.contains(oldName),
          s"graft catalog: cannot rename partition column $oldName — the " +
            "hive col=value directory layout bakes the name into every " +
            "existing partition path")
        require(!schema.fieldNames.exists(_.equalsIgnoreCase(newName)),
          s"graft catalog: column $newName already exists in ${ident.name()}")
        require(!(oldName + newName).exists(c => c == ';' || c == '>' ||
            c == ':' || c == ',' || c == '\n' || c == '\r'),
          s"graft catalog: rename involves a reserved separator character")
        schema = StructType(schema.fields.map(fld =>
          if (fld.name == oldName) fld.copy(name = newName) else fld))
        // keep the history FLAT: every historical name maps to the
        // CURRENT name, so a→b→c stores a>c and b>c (one lookup hop)
        renames = renames.map { case (h, cur) =>
          (h, if (cur == oldName) newName else cur)
        } :+ (oldName -> newName)
      case set: TableChange.SetProperty =>
        // (fallthrough to the shared handling below)
        GraftTsvOptions.checkTableProperties(Map(set.property() -> set.value()))
        props = props + (set.property() -> set.value())
      case rm: TableChange.RemoveProperty =>
        props = props - rm.property()
      case add: TableChange.AddColumn =>
        require(add.fieldNames().length == 1,
          s"graft catalog: nested columns are not supported " +
            s"(got ${add.fieldNames().mkString(".")})")
        val colName = add.fieldNames()(0)
        require(!schema.fieldNames.exists(_.equalsIgnoreCase(colName)),
          s"graft catalog: column $colName already exists in ${ident.name()}")
        require(drops.isEmpty,
          s"graft catalog: ${ident.name()} has dropped columns " +
            s"(${drops.mkString(", ")}) — positional TSV cannot append " +
            "columns past a narrowed width: retained wide generations " +
            "still carry bytes at the retired position, and ANY new " +
            "trailing column (whatever its name) would read them as " +
            "values instead of NULL-backfilling; create a fresh table " +
            "or rewrite the corpus")
        require(add.isNullable,
          s"graft catalog: added column $colName must be nullable — old " +
            "generations backfill it with NULL")
        require(add.position() == null,
          s"graft catalog: ADD COLUMN supports only appending at the end " +
            "(FIRST/AFTER would remap positional TSV fields in existing data)")
        schema = schema.add(colName, add.dataType(), nullable = true)
      case other => throw new UnsupportedOperationException(
        s"graft catalog: unsupported ALTER TABLE change $other — only " +
          "trailing nullable ADD COLUMN, trailing DROP COLUMN, RENAME " +
          "COLUMN (non-partition) and SET/UNSET TBLPROPERTIES are " +
          "allowed on positional TSV data")
    }
    writeDescriptor(f, dir,
      d0.copy(schema = schema, props = props, renames = renames,
        drops = drops))
    loadTable(ident)
  }

  // ---- maintenance procedures (SQL CALL) ----

  /** `CALL <cat>.system.compact('db.t' [, target_bytes])`,
    * `CALL <cat>.system.vacuum('db.t' [, older_than_ms])`,
    * `CALL <cat>.system.history('db.t')` and
    * `CALL <cat>.system.rollback('db.t', <generation>)` — see
    * [[GraftTsvMaintenance]]. The namespace in the CALL is cosmetic
    * (any resolves); the table argument is `namespace.table` under THIS
    * catalog. */
  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    ident.name().toLowerCase(java.util.Locale.ROOT) match {
      case "compact" => GraftTsvProcedures.compact(resolveForMaintenance)
      case "vacuum" => GraftTsvProcedures.vacuum(resolveForMaintenance)
      case "history" => GraftTsvProcedures.history(resolveForMaintenance)
      case "rollback" => GraftTsvProcedures.rollback(resolveForMaintenance)
      case "tag" => GraftTsvProcedures.tag(tagImpl)
      case "untag" => GraftTsvProcedures.untag(untagImpl)
      case "zorder" => GraftTsvProcedures.zorder(catalogName, resolveForMaintenance)
      case "branch" => GraftTsvProcedures.branchProc(resolveForMaintenance)
      case "merge_branch" => GraftTsvProcedures.mergeBranch(resolveForMaintenance)
      case "drop_branch" => GraftTsvProcedures.dropBranch(resolveForMaintenance)
      case other => throw new UnsupportedOperationException(
        s"graft catalog: unknown procedure '$other' — available: " +
          "branch, compact, drop_branch, history, merge_branch, rollback, " +
          "tag, untag, vacuum, zorder")
    }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    Array("branch", "compact", "drop_branch", "history", "merge_branch",
        "rollback", "tag", "untag", "vacuum", "zorder")
      .map(Identifier.of(namespace, _))

  /** Table-name string (`'db.t'`) → (dir, partition columns, retention,
    * tag-pinned generations) for the maintenance procedures. */
  private def resolveForMaintenance(tableName: String)
      : (Path, Seq[String], Int, Set[Long]) = {
    val parts = tableName.split("\\.")
    require(parts.nonEmpty && parts.forall(_.nonEmpty),
      s"graft catalog: procedure table argument must be 'namespace.table', " +
        s"got '$tableName'")
    val ident = Identifier.of(parts.init, parts.last)
    val f = fs()
    val dir = tableDir(ident)
    val mp = metaPath(dir)
    if (!f.exists(mp)) throw noSuchTable(ident)
    val d = readDescriptor(f, mp)
    (dir, d.partCols, GraftTsvOptions(d.props).retainGenerations, d.tags.values.toSet)
  }

  /** tag/untag backends for the SQL procedures: descriptor rewrite is the
    * same atomic tmp+rename as every DDL. Tagging validates the target
    * generation's manifest EXISTS (retained or already pinned) — a tag
    * must never point at a snapshot that cannot be opened. Returns
    * whether an existing tag was moved. */
  private def tagImpl(tableName: String, tag: String, gen: Long): Boolean = {
    val (dir, _, _, _) = resolveForMaintenance(tableName)
    require(TagNameRe.matches(tag) && !tag.forall(_.isDigit),
      s"graft catalog: tag '$tag' must match [A-Za-z0-9._-]+ and not be " +
        "all digits (a numeric VERSION AS OF names a generation)")
    val f = fs()
    require(f.exists(new Path(dir, GraftTsvManifest.genName(gen))),
      s"graft catalog: cannot tag generation $gen of $tableName — its " +
        "manifest is not on disk (outside the retention window or never " +
        "committed); raise retain.generations to keep a deeper window")
    val mp = metaPath(dir)
    val d = readDescriptor(f, mp)
    writeDescriptor(f, dir, d.copy(tags = d.tags + (tag -> gen)))
    d.tags.contains(tag)
  }

  /** Untag: returns the generation the tag pointed at. The generation is
    * NOT deleted here — the next publish's retention sweep reclaims it
    * if (and only if) it is outside the window. */
  private def untagImpl(tableName: String, tag: String): Long = {
    val (dir, _, _, _) = resolveForMaintenance(tableName)
    val f = fs()
    val mp = metaPath(dir)
    val d = readDescriptor(f, mp)
    val gen = d.tags.getOrElse(tag,
      throw new IllegalArgumentException(
        s"graft catalog: no tag '$tag' on $tableName (tags: " +
          (if (d.tags.isEmpty) "none"
           else d.tags.keys.toSeq.sorted.mkString(", ")) + ")"))
    writeDescriptor(f, dir, d.copy(tags = d.tags - tag))
    gen
  }

  override def dropTable(ident: Identifier): Boolean = {
    val f = fs()
    val dir = tableDir(ident)
    f.exists(metaPath(dir)) && f.delete(dir, true)
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val f = fs()
    if (!f.exists(metaPath(tableDir(oldIdent)))) throw noSuchTable(oldIdent)
    if (f.exists(tableDir(newIdent))) throw tableExistsErr(newIdent)
    if (!f.rename(tableDir(oldIdent), tableDir(newIdent)))
      throw new IllegalStateException(
        s"graft catalog: rename ${oldIdent} -> ${newIdent} failed")
  }

  // ---- namespaces (directories under the root) ----

  override def listNamespaces(): Array[Array[String]] = {
    val f = fs()
    if (!f.exists(root)) Array.empty
    else f.listStatus(root).collect {
      case st if st.isDirectory => Array(st.getPath.getName)
    }
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else if (namespaceExists(namespace)) Array.empty
    else throw noSuchNamespace(namespace)

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty || fs().exists(nsDir(namespace))

  override def loadNamespaceMetadata(
      namespace: Array[String]): java.util.Map[String, String] =
    if (namespaceExists(namespace)) java.util.Collections.emptyMap()
    else throw noSuchNamespace(namespace)

  override def createNamespace(
      namespace: Array[String],
      metadata: java.util.Map[String, String]): Unit = {
    require(namespace.length == 1,
      s"graft catalog: namespaces are single-level directories, " +
        s"got ${namespace.mkString(".")}")
    if (namespaceExists(namespace))
      throw new org.apache.spark.sql.catalyst.analysis
        .NamespaceAlreadyExistsException(Array(catalogName) ++ namespace)
    fs().mkdirs(nsDir(namespace))
  }

  override def alterNamespace(
      namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "graft catalog: ALTER NAMESPACE is not supported")

  override def dropNamespace(
      namespace: Array[String], cascade: Boolean): Boolean = {
    val f = fs()
    val dir = nsDir(namespace)
    if (!f.exists(dir)) false
    else {
      // emptiness counts VISIBLE contents only: dot-prefixed residue
      // (crashed stage workspaces, un-deleted `-replaced-` dirs) is
      // invisible to listTables, so it must not block a drop the user
      // cannot see a reason for — it is deleted with the namespace
      if (!cascade && f.listStatus(dir).exists(
          st => !st.getPath.getName.startsWith(".")))
        throw new IllegalStateException(
          s"graft catalog: namespace ${namespace.mkString(".")} is not empty")
      f.delete(dir, true)
    }
  }

  private def noSuchTable(ident: Identifier) =
    new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
      Array(catalogName) ++ ident.namespace() :+ ident.name())

  private def tableExistsErr(ident: Identifier) =
    new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(
      (Array(catalogName) ++ ident.namespace() :+ ident.name()).toSeq)

  private def noSuchNamespace(namespace: Array[String]) =
    new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(
      Array(catalogName) ++ namespace)
}

object GraftTsvCatalog {

  /** The table descriptor's file name: a directory holding one is a
    * catalog table, whose rows are only ever what its manifest lists. */
  private[sources] val MetaName = "_graft_table"

  /** Generation history of a graft-tsv table directory — the time-travel
    * discovery surface (what DESCRIBE HISTORY is to a Delta table): one
    * row per RETAINED generation with its publish instant and the visible
    * file/row footprint, assembled from manifests alone (no data scan —
    * metadata-only at any table size; row counts come from the per-file
    * stats cells when recorded). Works on any graft-tsv path,
    * catalog-managed or not. */
  def history(spark: SparkSession, path: String): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val dir = new Path(path)
    val f = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rows =
      if (!f.exists(dir)) Seq.empty
      else f.listStatus(dir).toSeq
        .flatMap(st => GraftTsvManifest.genNumber(st.getPath.getName)
          .map(g => (g, st.getPath,
            GraftTsvManifest.publishedOf(f, st.getPath)
              .getOrElse(st.getModificationTime))))
        .sortBy(_._1)
        .map { case (g, mp, publishedMs) =>
          val entries = GraftTsvManifest.readEntries(f, mp)
          val rowCounts = entries.map(e => GraftTsvManifest.rowCountOf(e._2))
          (g, publishedMs, entries.size.toLong,
            // total rows only when EVERY entry carries a count — a partial
            // sum would read as a real total
            if (rowCounts.nonEmpty && rowCounts.forall(_.isDefined))
              rowCounts.flatten.sum else -1L,
            GraftTsvManifest.epochOf(f, mp).getOrElse(-1L))
        }
    rows.toDF("generation", "published_ms", "n_files", "n_rows", "epoch")
  }
}
