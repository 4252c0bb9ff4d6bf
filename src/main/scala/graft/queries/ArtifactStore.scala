package graft.queries

import org.apache.spark.sql.SparkSession

/** Signature-keyed persistence for DERIVED ARTIFACTS the engine builds
  * once and serves many times — the ANN index (q_ivf_build/q_ivf_probe)
  * and the trained BPE merge table (q_bpe_encode).
  *
  * The artifact root is a STABLE temp path keyed by the source parquet's
  * length+mtime (the SourceParity.roundTrip scheme) AND a digest of the
  * data dir and the build recipe's constants: regenerated testdata or a
  * changed build parameter can never be served a stale artifact, because
  * either change simply keys a fresh root. The done-marker is written only
  * after EVERY build step committed, so a crashed build is rebuilt, never
  * half-read. In production the root would be a table location in the
  * catalog; the lifecycle (signature → build-or-reuse → marker) is the
  * part that carries over.
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
    * dir (artifact roots, the IVM windows' fresh tables). */
  def dirDigest(dir: String, parts: String*): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(
      (new java.io.File(dir).getCanonicalPath +: parts)
        .mkString("\u0000").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

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
    val nonce = java.lang.Long.toHexString(
      System.nanoTime() ^ (Thread.currentThread().getId << 48))
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
            case _ => !f.getName.contains(nonce) && f.lastModified < cutoff
          }
        }
        .foreach { f =>
          val p = new org.apache.hadoop.fs.Path(f.getAbsolutePath)
          p.getFileSystem(spark.sparkContext.hadoopConfiguration)
            .delete(p, true)
        }
    }
    val path = s"$base/${prefix}_${pidTag}_$nonce"
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
