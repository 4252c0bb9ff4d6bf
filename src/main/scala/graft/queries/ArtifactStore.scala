package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.Identifier

import graft.sources.GraftTsvCatalog

/** The one owner of every name the engine derives from a data dir: the
  * signature-keyed roots of DERIVED ARTIFACTS built once and served many
  * times (the ANN index, the trained BPE merge table, the IVM states),
  * the pay-once exports the parity queries read as pre-existing sources,
  * the per-dir work dirs of write-path exhibits, the parity queries'
  * shared-name tables, the IVM windows' fresh per-run tables, and the
  * registration of the `gparity` catalog those tables live in. Every one
  * of them is keyed by [[dirDigest]], the SHA-256 of the dir's canonical
  * path, never by a 32-bit `String.hashCode`: two dirs that collide there
  * (`…/Aa` and `…/BB`) never share a table, an export or an artifact.
  *
  * An artifact root is a STABLE temp path keyed by the source parquet's
  * length+mtime AND a digest of the data dir and the build recipe's
  * constants: regenerated testdata or a changed build parameter can never
  * be served a stale artifact, because either change simply keys a fresh
  * root. The done-marker is written only after EVERY build step
  * committed, so a crashed build is rebuilt, never half-read. In
  * production the root would be a table location in the catalog; the
  * lifecycle (signature → build-or-reuse → marker) is the part that
  * carries over.
  */
object ArtifactStore {

  /** Stable artifact root for (source table, artifact name, build recipe).
    *
    * `recipe` is a string spelling out every constant/expression the build
    * depends on (merge count, quantization expr, seed pools, probe
    * widths…): the artifact is keyed by it exactly as it is keyed by the
    * source signature, so a CODE or parameter change with unchanged
    * testdata keys a fresh root instead of serving a stale /tmp artifact
    * built by the old recipe (which would surface as a confusing oracle
    * mismatch in the serving-path query, ADVICE r14). The data dir's
    * canonical path, the table and the recipe enter through one SHA-256
    * digest, printed in full: two dirs or recipes that merely share a
    * 32-bit hash (`…/Aa` and `…/BB` have equal `String.hashCode`) key
    * distinct roots. */
  def root(dir: String, table: String, name: String, recipe: String): String = {
    val src = new java.io.File(graft.sources.Tables.path(dir, table))
    val sig = java.lang.Long.toHexString(
      src.length * 1000003L + src.lastModified)
    java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft_${name}_${dirDigest(dir, table, recipe)}_$sig").toString
  }

  /** The full SHA-256, in hex, of the data dir's canonical path and
    * `parts`, NUL-separated: the one key for anything named after a data
    * dir. */
  def dirDigest(dir: String, parts: String*): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(
      (new java.io.File(dir).getCanonicalPath +: parts)
        .mkString("\u0000").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  /** Stable per-dir path `java.io.tmpdir/graft_<name>_<dirDigest>` for a
    * write-path exhibit that rewrites it on every call (the write is what
    * the query shows, so no source signature or marker is kept). */
  def workDir(dir: String, name: String): String =
    java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft_${name}_${dirDigest(dir)}").toString

  /** A table of the shared `gparity` catalog: `sql` is its qualified
    * name, `ref` the `'db.<name>'` argument its procedures take, `dir`
    * its directory under the catalog `root`. */
  final case class ParityTable(name: String, root: String) {
    def sql: String = s"gparity.db.$name"
    def ref: String = s"db.$name"
    def dir: String = s"$root/db/$name"
    def ident: Identifier = Identifier.of(Array("db"), name)
  }

  private val ParityConf = "spark.sql.catalog.gparity"

  /** Registers the `gparity` catalog (a [[GraftTsvCatalog]] rooted at
    * `java.io.tmpdir/graft_parity_catalog`) on `spark` unless the session
    * already has one, creates its `db` namespace, and returns its root. A
    * session that registered `gparity` itself keeps its own catalog. */
  private def parityRoot(spark: SparkSession): String = {
    if (spark.conf.getOption(ParityConf).isEmpty) {
      spark.conf.set(ParityConf, classOf[GraftTsvCatalog].getName)
      spark.conf.set(s"$ParityConf.root", java.nio.file.Paths.get(
        sys.props("java.io.tmpdir"), "graft_parity_catalog").toString)
    }
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gparity.db")
    spark.conf.get(s"$ParityConf.root")
  }

  /** The session's `gparity` catalog, for the calls SQL has no verb for
    * (changes feeds, branch diffs, drops by identifier), once a
    * [[parityTable]] or [[freshTable]] has registered it. */
  def parityCatalog(spark: SparkSession): GraftTsvCatalog =
    spark.sessionState.catalogManager.catalog("gparity")
      .asInstanceOf[GraftTsvCatalog]

  /** Table `gparity.db.<name>_<dirDigest>`, dropped if it exists: the
    * shared-name table a parity query over `dir` rebuilds on every call.
    * Warm-up and measured runs over different dirs never collide. */
  def parityTable(spark: SparkSession, dir: String, name: String)
      : ParityTable = {
    val t = ParityTable(s"${name}_${dirDigest(dir)}", parityRoot(spark))
    spark.sql(s"DROP TABLE IF EXISTS ${t.sql}")
    t
  }

  /** A fresh per-run table `gparity.db.<prefix>_<dirDigest>_<nonce>`,
    * not yet created: a multi-step stateful builder that two concurrent
    * runs over one dir (bench overlapping verify) must not share. Siblings
    * older than any live run are swept ([[sweepStale]]); a run drops its
    * own table through [[dropTable]] once its result no longer reads it. */
  def freshTable(spark: SparkSession, dir: String, prefix: String)
      : ParityTable = {
    val root = parityRoot(spark)
    val stem = s"${prefix}_${dirDigest(dir)}_"
    sweepStale(spark, new java.io.File(root, "db"), stem)
    ParityTable(stem + nonce(), root)
  }

  /** A fresh per-run work dir under `java.io.tmpdir`, named
    * `graft_<prefix>_<dirDigest>_<nonce>` (a stream's checkpoint and sink
    * next to a [[freshTable]]), with the same stale-sibling sweep. */
  def freshDir(spark: SparkSession, dir: String, prefix: String): String = {
    val tmp = new java.io.File(sys.props("java.io.tmpdir"))
    val stem = s"graft_${prefix}_${dirDigest(dir)}_"
    sweepStale(spark, tmp, stem)
    new java.io.File(tmp, stem + nonce()).toString
  }

  /** Drops a [[freshTable]] table through its catalog. */
  def dropTable(spark: SparkSession, t: ParityTable): Unit =
    parityCatalog(spark).dropTable(t.ident)

  private def nonce(): String = java.lang.Long.toHexString(
    System.nanoTime() ^ (Thread.currentThread().getId << 48))

  /** Deletes the children of `parent` named `prefix*` that are older than
    * 30 minutes, far past any live run: what a crashed or killed run left. */
  private def sweepStale(spark: SparkSession, parent: java.io.File,
      prefix: String): Unit = {
    val cutoff = System.currentTimeMillis() - 30 * 60 * 1000L
    Option(parent.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith(prefix) && f.lastModified < cutoff)
      .foreach { f =>
        val p = new org.apache.hadoop.fs.Path(f.getAbsolutePath)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      }
  }

  private def marker(root: String) =
    new org.apache.hadoop.fs.Path(root, "_GRAFT_ARTIFACT_DONE")

  /** Always build fresh (for the query whose WRITE path is the exhibit):
    * wipe the root, run `build`, then publish the marker. */
  def rebuild(spark: SparkSession, dir: String, table: String, name: String,
      recipe: String)(build: String => Unit): String = {
    val r = root(dir, table, name, recipe)
    val p = new org.apache.hadoop.fs.Path(r)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
    build(r)
    fs.create(marker(r), true).close()
    r
  }

  /** Reuse a completed build, else build — the serving path's resolution.
    * (Artifact content must be deterministic in the source, so build
    * order across queries cannot change results.) */
  def ensure(spark: SparkSession, dir: String, table: String, name: String,
      recipe: String)(build: String => Unit): String = {
    val r = root(dir, table, name, recipe)
    val fs = marker(r).getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(marker(r))) r
    else rebuild(spark, dir, table, name, recipe)(build)
  }

  /** Spill a DATA-SIZED result frame to a per-run parquet directory and
    * return the read-back scan (VERDICT r17 task 1). The IVM builders
    * need their loop-era checkpoints released before returning, but their
    * result is the FULL per-node labeling/distance set — collecting it to
    * the driver to sequence the release (the r17 form) holds every vertex
    * row in driver memory and hands back a single-partition
    * LocalTableScan, both of which break at 100×. Spilling instead costs
    * one distributed write; the returned frame is a plain distributed
    * FileScan whose lineage reaches NOTHING the caller is about to
    * release. Spill dirs are PROCESS-scoped (ADVICE r19): the path embeds
    * this JVM's pid, a shutdown hook removes this process's own dirs at
    * exit, and the stale-sibling sweep only reclaims dirs whose embedding
    * process is no longer alive — a cross-session age heuristic could
    * delete files backing a parquet scan a concurrent session (bench
    * overlapping verify) still holds mid-read. */
  def spillResult(spark: SparkSession, prefix: String,
      df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val base = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), "graft_results").toString
    val run = nonce()
    val pidTag = s"p${ProcessHandle.current().pid()}"
    val PidDir = s"""${java.util.regex.Pattern.quote(prefix)}_p(\\d+)_.*""".r
    locally {
      // reclaim siblings left by DEAD sessions only (crash/kill leaves no
      // shutdown hook); a live pid's dirs are never touched, however old.
      // Pre-pid-tag legacy dirs (no embedded pid) fall back to the old
      // 30-minute age rule — they can only come from earlier rounds.
      val cutoff = System.currentTimeMillis() - 30 * 60 * 1000L
      Option(new java.io.File(base).listFiles()).getOrElse(Array.empty)
        .filter(_.getName.startsWith(s"${prefix}_"))
        .filter { f =>
          f.getName match {
            case PidDir(pid) =>
              !ProcessHandle.of(pid.toLong)
                .map[java.lang.Boolean](h => h.isAlive)
                .orElse(java.lang.Boolean.FALSE)
            case _ => !f.getName.contains(run) && f.lastModified < cutoff
          }
        }
        .foreach { f =>
          val p = new org.apache.hadoop.fs.Path(f.getAbsolutePath)
          p.getFileSystem(spark.sparkContext.hadoopConfiguration)
            .delete(p, true)
        }
    }
    val path = s"$base/${prefix}_${pidTag}_$run"
    df.write.mode("overwrite").parquet(path)
    registerSpillForExit(path)
    spark.read.parquet(path)
  }

  private val spilledDirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private lazy val spillHookInstalled: Boolean = {
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      spilledDirs.forEach { d =>
        try deleteLocalTree(new java.io.File(d))
        catch { case _: Exception => () } // best-effort; sweep covers it
      }, "graft-spill-cleanup"))
    true
  }
  private def registerSpillForExit(path: String): Unit = {
    spillHookInstalled
    spilledDirs.add(path)
  }
  private def deleteLocalTree(f: java.io.File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteLocalTree)
    f.delete()
  }
}
