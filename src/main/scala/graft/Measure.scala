package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}
import org.apache.spark.sql.graftbridge.GraftPlanBridge

/** The measurement spine every dev main shares: one session factory, one
  * stage tally, one consumer, one isolation step and one fresh-JVM fork,
  * so a number from Bench, RunOne or ScaleStress is taken the same way. */
object Measure {

  /** Local cores every dev session runs on: the environment's setting,
    * else all cores this JVM sees. Read once, so a session and the label
    * of the record it writes (Bench's `_c<cpus>` tag) cannot disagree. */
  lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Session conf for `cpus` local cores. */
  private[graft] def conf(cpus: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cpus.toString,
    // Let AQE START wide and COALESCE down instead of pinning every
    // exchange at cpu-count width — the SCALE.md §12 finding (230→87 s
    // on the 30× triangle close, whose ~200 MB-per-task sorts spilled
    // at pinned width); small stages still coalesce to a handful of
    // tasks so the per-query fixed cost at bench SF is unchanged.
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum" ->
      (cpus * 16).toString,
    "spark.sql.session.timeZone" -> "UTC",
    graft.sources.Tables.NanosAsLongKey -> "true",
    "spark.ui.enabled" -> "false")

  /** The one session builder: `local[cpus]` (or the deployment's
    * SPARK_GRAFT_MASTER) with [[conf]], log level WARN, then the
    * SPARK_GRAFT_CONF overrides. */
  def session(app: String, cpus: Int = Measure.cpus): SparkSession = {
    val spark = conf(cpus).foldLeft(SparkSession.builder()
        .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"))
        .appName(app)) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    sys.env.get("SPARK_GRAFT_CONF").toSeq.flatMap(devSessionConf)
      .foreach { case (k, v) => spark.conf.set(k, v) }
    spark
  }

  /** Dev-harness session overrides: SPARK_GRAFT_CONF="k=v,k2=v2" (e.g.
    * forcing the graph kernels' no-broadcast fallback for a measurement).
    * Pairs split on commas that START a new `key=` (lookahead), so a
    * VALUE containing commas survives as long as no comma-fragment itself
    * looks like a conf key assignment. */
  private[graft] def devSessionConf(spec: String): Seq[(String, String)] =
    spec.split(",(?=[A-Za-z_][A-Za-z0-9._-]*=)").toSeq.filter(_.contains("="))
      .map { kv => val i = kv.indexOf('='); (kv.take(i), kv.drop(i + 1)) }

  /** Running totals of stage metrics since the tally was attached. */
  final case class Snap(shuffleBytes: Long, spillMem: Long, spillDisk: Long) {
    def -(o: Snap): Snap =
      Snap(shuffleBytes - o.shuffleBytes, spillMem - o.spillMem,
        spillDisk - o.spillDisk)
  }

  /** One job's shuffle-write bytes, labelled with the call site of the
    * SQL execution it ran for (plus the first `graft.queries` frame of
    * that execution's stack, which names the kernel step when the call
    * site is a shared helper), else its own call site. */
  final case class JobBytes(jobId: Int, label: String, shuffleBytes: Long)

  /** Shuffle-write bytes and memory/disk spill of every completed stage —
    * the repo's cross-run signal: wall-clock drifts with host load, bytes
    * don't (SCALE.md §13, OPTIMIZATION_r20.md). A window's cost is the
    * difference of two [[snap]]s; [[jobsSince]] splits its bytes by job.
    * A stage's bytes go to the first job that listed it (a later job
    * that reuses its shuffle skips it). */
  final class Tally(spark: SparkSession) extends SparkListener {
    private val shuffle, spillMem, spillDisk = new AtomicLong
    // written on the listener thread, read after a bus flush
    private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]
    private val jobs =
      new java.util.concurrent.ConcurrentSkipListMap[Int, (String, AtomicLong)]
    private val executions =
      new java.util.concurrent.ConcurrentHashMap[Long, String]
    spark.sparkContext.addSparkListener(this)

    // AQE submits a query's stage jobs from its own threads, so a job's
    // own call site names a thread pool; the execution's names the action.
    // IvmWindow frames are skipped: every window truncates through it, so
    // its caller names the step
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        val step = s.details.linesIterator.map(_.trim)
          .find(f => f.startsWith("graft.queries.") &&
            !f.startsWith("graft.queries.IvmWindow"))
        executions.put(s.executionId,
          s.description + step.fold("")(f => s" [$f]"))
      case s: SparkListenerSQLExecutionEnd => executions.remove(s.executionId)
      case _ =>
    }

    override def onJobStart(js: SparkListenerJobStart): Unit = {
      val label = Option(js.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => Option(executions.get(id.toLong)))
        .orElse(js.stageInfos.sortBy(_.stageId).lastOption.map(_.name))
        .getOrElse("")
      jobs.put(js.jobId, (label.replace('\n', ' '), new AtomicLong))
      js.stageIds.foreach(stageJob.putIfAbsent(_, js.jobId))
    }

    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val m = sc.stageInfo.taskMetrics
      if (m != null) {
        val bytes = m.shuffleWriteMetrics.bytesWritten
        shuffle.addAndGet(bytes)
        spillMem.addAndGet(m.memoryBytesSpilled)
        spillDisk.addAndGet(m.diskBytesSpilled)
        Option(stageJob.get(sc.stageInfo.stageId)).flatMap(j => Option(jobs.get(j)))
          .foreach(_._2.addAndGet(bytes))
      }
    }

    /** Stage-completed events drain asynchronously after an action
      * returns; flushing the bus first makes the window exact. */
    def snap(): Snap = {
      GraftPlanBridge.flushListenerBus(spark.sparkContext)
      Snap(shuffle.get, spillMem.get, spillDisk.get)
    }

    /** The id the next job started after this call will get at least. */
    def nextJob(): Int = {
      GraftPlanBridge.flushListenerBus(spark.sparkContext)
      if (jobs.isEmpty) 0 else jobs.lastKey + 1
    }

    /** Every job started since [[nextJob]] returned `from`, in id order. */
    def jobsSince(from: Int): Seq[JobBytes] = {
      import scala.jdk.CollectionConverters._
      GraftPlanBridge.flushListenerBus(spark.sparkContext)
      jobs.tailMap(from).asScala.toSeq.map { case (id, (label, b)) =>
        JobBytes(id, label, b.get)
      }
    }
  }

  /** Force EVERY output column to be computed. `.count()` lets Catalyst
    * prune unreferenced projections, so projection-heavy queries (array /
    * scalar funcs, window frames) would time little more than the scan.
    * Hashing a struct of all columns defeats pruning without collecting
    * rows to the driver. The fold MUST be bit_xor, not sum: xxhash64
    * values are uniform over the full long range, so under ANSI mode (the
    * Spark 4 default) a sum overflows after a handful of rows, killing the
    * result stage before the per-row work runs — which silently restored
    * the count()-style undermeasurement for projection-only queries. */
  def consume(df: DataFrame): Unit = {
    df.agg(expr("bit_xor(xxhash64(struct(*)))")).collect()
    ()
  }

  /** Drop every persisted/checkpointed RDD and collect garbage, so the
    * previous measurement's blocks are not attributed to the next one:
    * localCheckpoint blocks stay registered until their RDDs are GC'd, and
    * the ContextCleaner's shuffle-file and broadcast removal is GC-driven. */
  def isolate(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    System.gc()
  }

  /** A fresh `main` JVM with this process's classpath and JVM flags,
    * minus agents (run/fork := true makes java.class.path the real app
    * classpath). The caller sets redirects and environment, then starts
    * it. */
  def forkMain(main: String, args: Seq[String]): ProcessBuilder = {
    import scala.jdk.CollectionConverters._
    val javaBin = java.nio.file.Paths.get(
      sys.props("java.home"), "bin", "java").toString
    val jvm = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq
      .filterNot(a => a.startsWith("-javaagent") ||
        a.startsWith("-agentlib") || a.startsWith("-agentpath"))
    new ProcessBuilder((Seq(javaBin) ++ jvm ++
      Seq("-cp", sys.props("java.class.path"), main) ++ args).asJava)
  }
}
