package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** `sql-*` workloads: one closed-loop client runs a frozen query list
  * through `SparkEntry.queries` into the noop sink, pass after pass in a
  * seeded order, for as many whole passes as fit the measuring time (at
  * least one).
  *
  * Before timing, one untimed pass writes every result as parquet next to
  * the list's `SparkEntry.oracleSql` (run.py compares them in DuckDB), and
  * a second untimed pass into the noop sink finishes the JIT,
  * code-generation and footer-cache warm-up the timed passes need. */
object SqlWorkload {
  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** One set-up: a fresh SparkContext plus the fixture footers resolved. */
  private def setupOnce(data: String): (SparkSession, Double) = {
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val t0 = System.nanoTime()
    val spark = Runner.session()
    Tables.foreach(t => spark.read.parquet(s"$data/$t.parquet").schema)
    (spark, (System.nanoTime() - t0) / 1e9)
  }

  final case class Sample(pass: Int, name: String, wallS: Double, ok: Boolean)

  def run(a: Runner.Args, tracer: Option[Tracer], result: mutable.Map[String, Any]): Unit = {
    val setups = (1 to 3).map(_ => setupOnce(a.data))
    val spark = setups.last._1
    result("setup_s_samples") = setups.map(_._2)
    Runner.log("set up")

    val known = SparkEntry.queries
    val unknown = a.queries.filterNot(known.contains).filterNot(a.injectFail.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val fns: Map[String, (SparkSession, String) => DataFrame] =
      a.queries.filter(known.contains).map(q => q -> known(q)).toMap ++
        a.injectFail.map(n => n -> ((s: SparkSession, d: String) =>
          s.read.parquet(s"$d/missing_table.parquet")))
    val names = fns.keys.toSeq.sorted
    val rng = new scala.util.Random(a.seed)
    val failures = mutable.LinkedHashMap.empty[String, String]

    // untimed: the result pass, then one more warm-up pass. Queries run
    // concurrently, each in its own session, since a cold pass mostly waits
    // on code generation and JIT compilation; scratch is released once all
    // of them are done.
    val verifyDir = s"${a.out}/verify"
    def concurrentPass(sink: (DataFrame, String) => Unit): Unit = {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(Runner.cpus)
      rng.shuffle(names).map { q =>
        pool.submit(() => {
          val s = spark.newSession()
          try Runner.underGroup(s, 0L)(sink(fns(q)(s, a.data), q))
          catch { case t: Throwable => failures.synchronized {
            failures.getOrElseUpdate(q, Runner.errorOf(t)) } }
        })
      }.foreach(_.get())
      pool.shutdown()
      SparkEntry.releaseScratch(spark)
    }
    concurrentPass((df, q) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$verifyDir/$q"))
    // rendered right after the result pass: some oracle SQL binds to what
    // that pass trained
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    Files.createDirectories(Paths.get(verifyDir))
    Files.write(Paths.get(s"$verifyDir/oracle_sql.json"), Json(oracle).getBytes("UTF-8"))
    result("verify_dir") = verifyDir
    Runner.log("result pass done")
    concurrentPass((df, _) => df.write.format("noop").mode("overwrite").save())
    Runner.log("warm-up pass done")

    // timed passes. A traced run times an untraced, a traced and another
    // untraced pass; the traced pass against the mean of the other two is
    // the tracing overhead, with the warm-up drift between passes averaged
    // out.
    val samples = mutable.ArrayBuffer.empty[Sample]
    val units = mutable.ArrayBuffer.empty[Span]
    val passWall = mutable.ArrayBuffer.empty[(Int, Boolean, Double)]
    var pass = 0
    def timedPass(tracing: Boolean): Double = {
      pass += 1
      var wall = 0.0
      rng.shuffle(names).foreach { q =>
        Runner.sampleHeap() // also isolates queries from each other's garbage
        val unit = tracer.map(_.nextId()).getOrElse(0L)
        val t0 = Clock.nowMs
        var t1 = t0
        val ok =
          try {
            Runner.underGroup(spark, unit) {
              val df = fns(q)(spark, a.data)
              t1 = Clock.nowMs
              df.write.format("noop").mode("overwrite").save()
            }
            true
          } catch { case t: Throwable => failures.getOrElseUpdate(q, Runner.errorOf(t)); false }
        val t2 = Clock.nowMs
        if (t1 == t0) t1 = t2 // failed while constructing
        SparkEntry.releaseScratch(spark)
        samples += Sample(pass, q, (t2 - t0) / 1000.0, ok)
        wall += (t2 - t0) / 1000.0
        if (tracing) tracer.foreach { tr =>
          val u = Span(unit, 0L, q, "query", 0, t0, t2)
          units += u
          tr.add(u)
          tr.add(Span(tr.nextId(), unit, "construct", "queries", 0, t0, t1))
          tr.add(Span(tr.nextId(), unit, "write", "write", 0, t1, t2))
        }
      }
      passWall += ((pass, tracing, wall))
      wall
    }
    tracer match {
      case None =>
        // whole passes only: stop before a pass that would overrun the time
        val start = System.nanoTime()
        var last = timedPass(tracing = false)
        while ((System.nanoTime() - start) / 1e9 + last <= a.seconds)
          last = timedPass(tracing = false)
      case Some(tr) =>
        timedPass(tracing = false)
        val qe = tr.install(spark, 0, withSparkListener = true)
        timedPass(tracing = true)
        tr.uninstall(spark, qe)
        timedPass(tracing = false)
    }

    Runner.log(s"$pass timed passes done")
    result("samples") = samples.map(s => Map("pass" -> s.pass, "name" -> s.name,
      "wall_s" -> s.wallS, "ok" -> s.ok))
    result("passes") = passWall.map { case (p, t, w) => Map("pass" -> p, "traced" -> t, "wall_s" -> w) }
    result("attempted") = names.size
    result("failures") = failures
    tracer.foreach { tr =>
      val traced = passWall.filter(_._2)
      val tracedWall = traced.map(_._3).sum
      val untraced = Trace.median(passWall.filterNot(_._2).map(_._3).toSeq)
      val perPass = 1.0 / traced.size
      val kids = tr.attribute(units.toSeq)
      val self = mutable.Map.empty[String, Double].withDefaultValue(0.0)
      val phases = mutable.Map.empty[String, Double].withDefaultValue(0.0)
      var constructS, constructJobs = 0.0
      val perQuery = mutable.LinkedHashMap.empty[String, Map[String, Double]]
      units.foreach { u =>
        val cs = kids(u.id)
        Trace.selfTimes(u, cs).foreach { case (l, ms) => self(l) += ms / 1000.0 }
        cs.filter(_.layer == "plans").foreach(p => phases(p.name) += p.dur / 1000.0)
        val construct = cs.find(_.layer == "queries").get
        constructS += construct.dur / 1000.0
        val jobs = cs.filter(_.layer == "exec")
        // eager jobs finish before construction returns; write jobs start
        // at its end (event times are whole milliseconds)
        val cj = jobs.count(j => j.end <= construct.end + 1)
        constructJobs += cj
        perQuery.getOrElseUpdate(u.name,
          Map("exec.jobs" -> jobs.size.toDouble, "queries.construct_jobs" -> cj.toDouble))
      }
      val layer = mutable.LinkedHashMap[String, Double](
        "queries.construct_s" -> constructS * perPass,
        "queries.construct_jobs" -> constructJobs * perPass,
        "plans.analysis_s" -> phases("analysis") * perPass,
        "plans.optimization_s" -> phases("optimization") * perPass,
        "plans.planning_s" -> phases("planning") * perPass)
      Trace.execMetrics(units.map(u => tr.execOf(u.id)).toSeq, Runner.cpus, tracedWall)
        .foreach { case (k, v) =>
          layer(k) = if (k.endsWith("_frac") || k.endsWith("_skew") || k.endsWith("per_stage")) v
            else v * perPass
        }
      (Trace.Priority :+ "residual").foreach(l => layer(s"self.${l}_s") = self(l) * perPass)
      layer("trace.residual_frac") = self("residual") / math.max(1e-9, tracedWall)
      layer("trace.overhead_frac") = tracedWall * perPass / untraced - 1.0
      result("per_layer") = layer
      result("per_query") = perQuery
    }
  }
}
