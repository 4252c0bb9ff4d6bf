package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr
import org.apache.spark.storage.StorageLevel

import graft.SparkEntry
import graft.queries.Graph

/** One benchmark JVM: untimed warm-up passes, timed closed-loop passes,
  * then a verification dump. Arguments are `key=value` pairs:
  *
  *   queries=q1,q2,...  data=<sf dir>  seconds=<s>  seed=<n>  warmup=<passes>
  *   cpus=<n>  trace=0|1  out=<json>  [verify=q1,... dump=<dir>]
  *
  * Load model: one driver thread submits a query only after the previous
  * result is consumed. Each pass runs every query once, in an order drawn
  * from `seed`. The untimed warm-up passes (the first one cold) cover
  * session start, codegen, JIT and artifact builds; the timed passes then
  * repeat, at least three, while the next one is expected (from the last
  * pass's wall) to end within `seconds` of the end of warm-up.
  * With trace=1, even passes are traced and odd ones are not, which gives
  * the tracing overhead from the same JVM. The JVM
  * only records raw timestamps and listener events; all aggregation
  * happens in `perfbench/pbench/metrics.py`. */
object Harness {

  /** Bench's consumer: hashing a struct of every column defeats column
    * pruning, and bit_xor (not sum) cannot overflow under ANSI mode. */
  private def digest(df: DataFrame): String = {
    val r = df.agg(expr("bit_xor(xxhash64(struct(*)))")).collect()(0)
    if (r.isNullAt(0)) "null" else r.getLong(0).toString
  }

  /** The IVM kernels are called through their builders so their `mark`
    * phases ("p1", "delta", ...) are visible; every other query goes
    * through the public catalog. */
  private def builder(name: String)
      : (SparkSession, String, String => Unit) => DataFrame = name match {
    case "q_bfs_ivm_mixed" => Graph.bfsIvmMixedBuild(_, _, _)
    case "q_triangles_ivm_del" => Graph.trianglesIvmDelBuild(_, _, _)
    case "q_components_ivm_del" => Graph.componentsIvmDelBuild(_, _, _)
    case _ =>
      val fn = SparkEntry.queries(name)
      (spark, dir, _) => fn(spark, dir)
  }

  private def session(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        (cpus * 16).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config(graft.sources.Tables.NanosAsLongKey, "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.local.dir",
        Paths.get(sys.props("java.io.tmpdir"), "spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    val opts = args.map { a =>
      val i = a.indexOf('='); a.take(i) -> a.drop(i + 1)
    }.toMap
    val names = opts("queries").split(',').toSeq.filter(_.nonEmpty)
    val data = opts("data")
    val seconds = opts("seconds").toDouble
    val rnd = new scala.util.Random(opts("seed").toLong)
    val trace = opts("trace") == "1"
    val clock = new Clock
    val spark = session(opts("cpus").toInt)
    val rec = new Recorder(spark, clock, trace)
    val execs = Vector.newBuilder[Json.Obj]
    val sc = spark.sparkContext

    def run(name: String, pass: Int): Unit = {
      // leftover localCheckpoint blocks from the previous query would
      // otherwise count against this one's memory
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      val marks = Vector.newBuilder[(String, Double)]
      val t0 = clock.nowMs
      var tBuilt = Double.NaN
      val (ok, dig, err) =
        try {
          val df = builder(name)(spark, data, m => marks += m -> clock.nowMs)
          tBuilt = clock.nowMs
          (true, digest(df), "")
        } catch { case e: Throwable =>
          System.err.println(s"[perfbench] $name FAILED: $e")
          (false, "", String.valueOf(e.getMessage).take(300))
        }
      val t1 = clock.nowMs
      execs += Json.Obj(
        "q" -> name, "pass" -> pass, "t0" -> t0, "built" -> tBuilt,
        "t1" -> t1, "ok" -> ok, "digest" -> dig, "error" -> err,
        "marks" -> Json.Arr(marks.result().map { case (m, t) =>
          Json.Obj("m" -> m, "t" -> t) }))
    }

    (1 to opts("warmup").toInt).foreach(_ => names.foreach(run(_, -1)))
    rec.flush()
    val setupEnd = clock.nowMs

    val passes = Vector.newBuilder[Json.Obj]
    var pass = 0
    var lastWall = 0.0
    while (pass < 3 || clock.nowMs - setupEnd + lastWall <= seconds * 1000) {
      val order = rnd.shuffle(names)
      rec.tracing = trace && pass % 2 == 0
      val gc0 = Recorder.gcMs()
      val p0 = clock.nowMs
      order.foreach(run(_, pass))
      val p1 = clock.nowMs
      lastWall = p1 - p0
      rec.flush()
      passes += Json.Obj("t0" -> p0, "t1" -> p1, "traced" -> rec.tracing,
        "gc_ms" -> (Recorder.gcMs() - gc0))
      pass += 1
    }
    rec.tracing = false
    val rssMb = Recorder.vmHwmKb() / 1024.0
    val tmpMb = Recorder.dirBytes(Paths.get(sys.props("java.io.tmpdir"))) / 1e6

    // verification dump: outside the setup and timed windows; the result
    // is persisted so the written rows and the recorded digest are the
    // same materialization
    val verified = Vector.newBuilder[Json.Obj]
    val toVerify = opts.getOrElse("verify", "").split(',').toSeq.filter(_.nonEmpty)
    opts.get("dump").filter(_ => toVerify.nonEmpty).foreach { d =>
      Files.createDirectories(Paths.get(d))
      toVerify.foreach { name =>
        val res =
          try {
            val df = builder(name)(spark, data, _ => ())
              .persist(StorageLevel.MEMORY_AND_DISK)
            df.coalesce(1).write.mode("overwrite").parquet(s"$d/$name")
            val dig = digest(df)
            df.unpersist(blocking = true)
            Json.Obj("q" -> name, "ok" -> true, "digest" -> dig)
          } catch { case e: Throwable =>
            Json.Obj("q" -> name, "ok" -> false,
              "error" -> String.valueOf(e.getMessage).take(300))
          }
        verified += res
      }
      val oracle = toVerify.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _))
      Files.write(Paths.get(s"$d/oracle_sql.json"),
        Json.Obj(oracle.map { case (k, v) => k -> (v: Any) }: _*).render
          .getBytes(StandardCharsets.UTF_8))
    }

    val outJson = Json.Obj(
      "jvm_start_ms" -> clock.jvmStartMs,
      "setup_end_ms" -> setupEnd,
      "cpus" -> opts("cpus").toInt,
      "peak_rss_mb" -> rssMb,
      "tmp_mb" -> tmpMb,
      "execs" -> Json.Arr(execs.result()),
      "passes" -> Json.Arr(passes.result()),
      "verified" -> Json.Arr(verified.result()),
      "events" -> rec.result())
    Files.write(Paths.get(opts("out")), outJson.render.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on
  * the same time base as Spark's listener event timestamps. */
final class Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
  val jvmStartMs: Double = java.lang.management.ManagementFactory
    .getRuntimeMXBean.getStartTime.toDouble
}

/** Minimal JSON rendering for the harness output (no library needed). */
object Json {
  final case class Obj(fields: (String, Any)*) { def render: String = Json.render(this) }
  final case class Arr(items: Seq[Any])

  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case o: Obj => o.fields.map { case (k, x) => quote(k) + ":" + render(x) }
      .mkString("{", ",", "}")
    case a: Arr => a.items.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
