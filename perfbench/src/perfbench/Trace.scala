package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Epoch milliseconds with sub-millisecond resolution, comparable with the
  * millisecond timestamps Spark's listener events carry. */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One timed interval at a layer boundary. `parent` is the id of the query
  * or lake op that caused it (0 for the unit spans themselves); `client`
  * is the closed-loop client that issued it. */
final case class Span(id: Long, parent: Long, name: String, layer: String,
    client: Int, start: Double, end: Double) {
  def dur: Double = end - start
}

/** Executor-side work of one query or op, summed from task-end events. */
final class ExecStats {
  var jobs, stages, tasks, failedTasks = 0L
  var runMs, gcMs, shuffleRead, shuffleWrite, spill, bytesWritten = 0L
  val skews = mutable.ArrayBuffer.empty[Double]
}

/** In-memory span store plus the Spark listeners that feed it. Jobs link to
  * their query or op through the [[Runner.UnitKey]] job property, which
  * [[Runner.underGroup]] sets to the unit span's id; planning phases link
  * by session and time. Nothing is
  * written until [[Tracer.dump]] at exit. */
final class Tracer {
  private val ids = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stageGroup = new ConcurrentHashMap[Int, Long]()
  private val jobStart = new ConcurrentHashMap[Int, (Long, Double)]()
  private val stageTasks = new ConcurrentHashMap[Int, mutable.ArrayBuffer[Long]]()
  private val stats = new ConcurrentHashMap[Long, ExecStats]()

  def nextId(): Long = ids.incrementAndGet()
  def add(s: Span): Unit = spans.synchronized { spans += s }
  def all: Seq[Span] = spans.synchronized { spans.toList }
  def execOf(unit: Long): ExecStats = stats.computeIfAbsent(unit, _ => new ExecStats)

  /** Times `body` as a span under `parent`; the span is kept on failure too. */
  def timed[A](name: String, layer: String, parent: Long, client: Int)(body: => A): A = {
    val t0 = Clock.nowMs
    try body
    finally add(Span(nextId(), parent, name, layer, client, t0, Clock.nowMs))
  }

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(Runner.UnitKey)))
        .flatMap(g => scala.util.Try(g.toLong).toOption).foreach { unit =>
          jobStart.put(e.jobId, (unit, e.time.toDouble))
          e.stageIds.foreach(s => stageGroup.put(s, unit))
          val st = execOf(unit)
          st.synchronized { st.jobs += 1 }
        }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (unit, t0) =>
        add(Span(nextId(), unit, s"job ${e.jobId}", "exec", -1, t0, e.time.toDouble))
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val sid = e.stageInfo.stageId
      val times = Option(stageTasks.remove(sid)).getOrElse(mutable.ArrayBuffer.empty[Long])
      Option(stageGroup.get(sid)).foreach { unit =>
        val st = execOf(unit)
        st.synchronized {
          st.stages += 1
          if (times.size >= 2) {
            val sorted = times.sorted
            val med = math.max(1L, sorted(sorted.size / 2))
            st.skews += sorted.last.toDouble / med
          }
        }
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageGroup.get(e.stageId)).foreach { unit =>
        val m = e.taskMetrics
        val times = stageTasks.computeIfAbsent(e.stageId, _ => mutable.ArrayBuffer.empty[Long])
        times.synchronized { times += e.taskInfo.duration }
        val st = execOf(unit)
        st.synchronized {
          st.tasks += 1
          if (!e.taskInfo.successful) st.failedTasks += 1
          if (m != null) {
            st.runMs += m.executorRunTime
            st.gcMs += m.jvmGCTime
            st.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            st.spill += m.memoryBytesSpilled + m.diskBytesSpilled
            st.bytesWritten += m.outputMetrics.bytesWritten
          }
        }
      }
  }

  /** Planning phases of every query executed by the session it is
    * registered on, recorded as spans of `client`; [[attribute]] links them
    * to the unit they fall in. */
  def qeListener(client: Int): QueryExecutionListener = new QueryExecutionListener {
    private def rec(qe: QueryExecution): Unit =
      qe.tracker.phases.foreach { case (phase, p) =>
        add(Span(nextId(), 0L, phase, "plans", client, p.startTimeMs.toDouble,
          p.endTimeMs.toDouble))
      }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = rec(qe)
    override def onFailure(f: String, qe: QueryExecution, ex: Exception): Unit = rec(qe)
  }

  def install(spark: SparkSession, client: Int,
      withSparkListener: Boolean): QueryExecutionListener = {
    if (withSparkListener) spark.sparkContext.addSparkListener(sparkListener)
    val qe = qeListener(client)
    spark.listenerManager.register(qe)
    qe
  }

  /** Removes what [[install]] added, after every pending event reached it. */
  def uninstall(spark: SparkSession, qe: QueryExecutionListener): Unit = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    spark.listenerManager.unregister(qe)
    spark.sparkContext.removeSparkListener(sparkListener)
  }

  /** Children of each unit span: spans whose parent is the unit, plus the
    * client's planning phases that start inside the unit's interval. */
  def attribute(units: Seq[Span]): Map[Long, Seq[Span]] = {
    val spansNow = all
    val byParent = spansNow.filter(_.parent != 0L).groupBy(_.parent)
    val phases = spansNow.filter(s => s.parent == 0L && s.layer == "plans")
      .groupBy(_.client)
    units.map { u =>
      val ph = phases.getOrElse(u.client, Nil)
        .filter(p => p.start >= u.start - 1 && p.start <= u.end)
      u.id -> (byParent.getOrElse(u.id, Nil) ++ ph)
    }.toMap
  }

  /** Writes every span as one JSON line. */
  def dump(path: String): Unit = {
    val lines = all.map(s => Json(Map("id" -> s.id, "parent" -> s.parent,
      "name" -> s.name, "layer" -> s.layer, "client" -> s.client,
      "start_ms" -> s.start, "end_ms" -> s.end)))
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Trace {
  /** Layers in the order they claim time where their spans overlap: a job
    * running inside a planning phase is execution, a REST call inside
    * `loadTable` is REST time. */
  val Priority: Seq[String] = Seq("exec", "rest", "plans", "table", "catalog", "queries")

  /** Self time per layer inside `unit`: each elementary interval of the
    * unit goes to the highest-priority layer with a child span covering it,
    * and to `residual` when no child covers it. The values sum to the
    * unit's duration. */
  def selfTimes(unit: Span, children: Seq[Span]): Map[String, Double] = {
    val cs = children.map(c => (c.layer, math.max(c.start, unit.start), math.min(c.end, unit.end)))
      .filter { case (_, a, b) => b > a }
    val cuts = (cs.flatMap { case (_, a, b) => Seq(a, b) } ++ Seq(unit.start, unit.end))
      .distinct.sorted
    val out = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    cuts.sliding(2).foreach {
      case Seq(a, b) =>
        val mid = (a + b) / 2
        val covering = cs.collect { case (l, x, y) if x <= mid && mid < y => l }.toSet
        val layer = Priority.find(covering.contains).getOrElse("residual")
        out(layer) += b - a
      case _ =>
    }
    out.toMap
  }

  /** Total length of the union of intervals. */
  def unionMs(iv: Seq[(Double, Double)]): Double = {
    var total, end = 0.0
    var open = false
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (!open || a > end) { total += b - a; end = b; open = true }
      else if (b > end) { total += b - end; end = b }
    }
    total
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Peak resident set of this JVM in MiB (Linux VmHWM), or the committed
    * heap where /proc is unavailable. */
  def rssPeakMb(): Double =
    scala.util.Try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:")).get
        .replaceAll("[^0-9]", "").toDouble / 1024.0
      finally src.close()
    }.getOrElse(Runtime.getRuntime.totalMemory() / 1048576.0)

  /** Per-layer exec metrics summed over units. */
  def execMetrics(st: Seq[ExecStats], cpus: Int, wallS: Double): Map[String, Double] = {
    def sum(f: ExecStats => Long) = st.map(f).sum.toDouble
    val stages = sum(_.stages)
    val busyS = sum(_.runMs) / 1000.0
    Map(
      "exec.jobs" -> sum(_.jobs),
      "exec.stages" -> stages,
      "exec.tasks" -> sum(_.tasks),
      "exec.tasks_per_stage" -> (if (stages > 0) sum(_.tasks) / stages else 0.0),
      "exec.task_busy_s" -> busyS,
      "exec.core_busy_frac" -> (if (wallS > 0) busyS / (cpus * wallS) else 0.0),
      "exec.gc_s" -> sum(_.gcMs) / 1000.0,
      "exec.shuffle_read_bytes" -> sum(_.shuffleRead),
      "exec.shuffle_write_bytes" -> sum(_.shuffleWrite),
      "exec.spill_bytes" -> sum(_.spill),
      "exec.bytes_written" -> sum(_.bytesWritten),
      "exec.failed_tasks" -> sum(_.failedTasks),
      "exec.task_skew" -> median(st.flatMap(_.skews.toSeq)))
  }
}
