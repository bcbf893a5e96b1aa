package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark entry point, started by `perfbench/run.py`.
  *
  * {{{
  *   Runner --workload sql-relational|sql-pipelines|lake-dml --seed N
  *          --seconds S --trace 0|1 --data DIR --out DIR
  *          [--queries q01_x,q02_y] [--inject-fail NAME]
  * }}}
  *
  * Writes `DIR/result.json` (raw samples and per-layer aggregates, which
  * run.py turns into metrics) and, when tracing, `DIR/spans.jsonl`.
  */
object Runner {
  /** Per-query / per-op wall-clock limit; the unit's jobs are cancelled and
    * it counts as failed when it runs longer. */
  val TimeoutS = 60

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      data: String, out: String, queries: Seq[String], injectFail: Option[String])

  private def parse(args: Array[String]): Args = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(kv("workload"), kv("seed").toLong, kv("seconds").toDouble, kv("trace") == "1",
      kv("data"), kv("out"),
      kv.get("queries").map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil),
      kv.get("inject-fail"))
  }

  val cpus: Int = Runtime.getRuntime.availableProcessors()

  /** The one session shape every workload uses: `local[nproc]`, as many
    * shuffle partitions as cores, UTC, no UI, and no engine option beyond
    * catalog registration (and, for SQL DML, the engine's SQL extensions) —
    * what a later change alters by default is what gets measured. */
  def session(extensions: Option[String] = None): SparkSession = {
    val b = SparkSession.builder()
    extensions.foreach(e => b.config("spark.sql.extensions", e))
    val s = b
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    log("session ready")
    s
  }

  /** Job-property key that links a job to its trace unit. */
  val UnitKey = "perfbench.unit"
  private val groups = new java.util.concurrent.atomic.AtomicLong(0)

  /** Runs `body` under a job group of its own, so that the per-unit
    * timeout cancels only this call's jobs; its jobs also carry trace unit
    * `unit` (0 when untraced) under [[UnitKey]]. */
  def underGroup[A](spark: SparkSession, unit: Long)(body: => A): A = {
    val sc = spark.sparkContext
    val group = s"perfbench-${groups.incrementAndGet()}"
    sc.setJobGroup(group, group, interruptOnCancel = true)
    sc.setLocalProperty(UnitKey, unit.toString)
    val timer = new java.util.Timer(true)
    timer.schedule(new java.util.TimerTask {
      def run(): Unit = sc.cancelJobGroup(group)
    }, TimeoutS * 1000L)
    try body
    finally { timer.cancel(); sc.clearJobGroup(); sc.setLocalProperty(UnitKey, null) }
  }

  @volatile private var heapPeak = 0L
  /** Full GC, then records the heap still in use: the peak over a run is
    * the most memory the workload holds between its queries or rounds. */
  def sampleHeap(): Unit = {
    System.gc()
    val used = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    synchronized { heapPeak = math.max(heapPeak, used) }
  }

  private val started = System.nanoTime()
  /** Progress line on stderr (the run's log), with seconds since start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - started) / 1e9}%7.2f s] $msg")

  def errorOf(t: Throwable): String =
    (t.getClass.getSimpleName + ": " + Option(t.getMessage).getOrElse(""))
      .linesIterator.take(1).mkString.take(300)

  def main(argv: Array[String]): Unit = {
    // HTTP server and timer threads must not keep the JVM alive
    val rc = try { run(parse(argv)); 0 }
      catch { case t: Throwable => t.printStackTrace(); 1 }
    System.exit(rc)
  }

  private def run(a: Args): Unit = {
    Files.createDirectories(Paths.get(a.out))
    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "cpus" -> cpus, "trace" -> a.trace,
      "timeout_s" -> TimeoutS)
    val tracer = if (a.trace) Some(new Tracer) else None
    a.workload match {
      case "sql-relational" | "sql-pipelines" => SqlWorkload.run(a, tracer, result)
      case "lake-dml" => LakeWorkload.run(a, tracer, result)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    sampleHeap()
    result("rss_peak_mb") = Trace.rssPeakMb()
    result("heap_live_mb") = heapPeak / 1048576.0
    tracer.foreach(_.dump(s"${a.out}/spans.jsonl"))
    Files.write(Paths.get(s"${a.out}/result.json"), Json(result).getBytes("UTF-8"))
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).foreach(_.stop())
  }
}
