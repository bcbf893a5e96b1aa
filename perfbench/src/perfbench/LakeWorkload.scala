package perfbench

import java.nio.file.{Files, Path, Paths}
import java.time.LocalDateTime

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.connector.catalog.{Identifier, TableCatalog}
import org.apache.spark.sql.functions.col

import graft.rest.{RestCatalogClient, RestCatalogServer, RestSnapshotLog}
import graft.table.GraftTable

/** `lake-dml`: `nproc` clients, each with its own session,
  * `graftr` catalog registration, REST client and token, work on one
  * REST-managed merge-on-read copy of `lineitem`. Client `c` owns the
  * `l_orderkey` range `[c*K, (c+1)*K)` and keeps an in-memory model of its
  * rows; every read of its range is checked against the model, and after
  * the run a restarted catalog server must serve exactly the union of the
  * models. */
object LakeWorkload {
  val Ns = "bench"
  val Tbl = "lineitem"
  val Full = s"graftr.$Ns.$Tbl"
  /** A client's op mix, 60% reads and 40% writes, as two half-cycles that
    * clients alternate (client `c` starts with half `c % 2`). Clients run
    * whole halves, so every run measures the same mix. */
  val Halves: IndexedSeq[Seq[String]] = IndexedSeq(
    Seq("select", "select", "plan", "insert", "merge"),
    Seq("select", "plan", "plan", "insert", "delete"))
  /** The warm-up round: one op of each kind that runs Spark jobs. */
  val WarmKinds: Seq[String] = Seq("merge", "delete", "insert", "select")
  val WriteKinds: Set[String] = Set("insert", "merge", "delete")
  /** Range predicates per client: together fewer than the server's
    * 64-entry plan cache. */
  val PoolSize = 8

  final case class R(ok: Long, pk: Long, sk: Long, ln: Int, qty: Double)
  final case class Op(client: Int, kind: String, start: Double, end: Double,
      ok: Boolean, phase: String, retries: Int)
  /** Statement retries after a lost commit race. SQL INSERT commits without
    * the engine's own conflict retry, so the client re-issues the statement,
    * as an application on top of the engine would; a lost race commits
    * nothing, so re-issuing is safe. */
  val MaxRetries = 20

  def isConflict(t: Throwable): Boolean =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[graft.table.CommitConflictException])

  private def creds(n: Int): Map[String, String] =
    (0 until n).map(c => s"client$c" -> s"secret$c").toMap + ("admin" -> "admin-secret")

  def register(s: SparkSession, uri: String, cred: String): Unit = {
    s.conf.set("spark.sql.catalog.graftr", "graft.catalog.GraftCatalog")
    s.conf.set("spark.sql.catalog.graftr.uri", uri)
    s.conf.set("spark.sql.catalog.graftr.credential", cred)
  }

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally st.close()
    }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally st.close()
    }

  /** One set-up: catalog server on a fresh warehouse, namespace, and the
    * table built by CTAS, clustered by `l_orderkey` into `2*nproc` files. */
  private def setupOnce(spark: SparkSession, a: Runner.Args, i: Int,
      clients: Int): (RestCatalogServer, String, Double, SparkSession) = {
    val wh = s"${a.out}/warehouse$i"
    val t0 = System.nanoTime()
    val server = new RestCatalogServer(wh, creds(clients)).start()
    val admin = spark.newSession()
    register(admin, server.uri, "admin:admin-secret")
    admin.sql(s"CREATE NAMESPACE graftr.$Ns")
    admin.read.parquet(s"${a.data}/lineitem.parquet")
      .repartitionByRange(2 * Runner.cpus, col("l_orderkey"))
      .sortWithinPartitions("l_orderkey")
      .writeTo(Full).tableProperty("write.delete.mode", "merge-on-read")
      .tableProperty("write.merge.mode", "merge-on-read").create()
    (server, wh, (System.nanoTime() - t0) / 1e9, admin)
  }

  /** A closed-loop client's state: its key range, model and random stream
    * persist across phases; each phase gives it a new session and REST
    * client. */
  final class Client(val id: Int, val lo: Long, val hi: Long,
      val rows: mutable.ArrayBuffer[R], seed: Long) {
    var spark: SparkSession = _
    var rest: RestCatalogClient = _
    val rng = new scala.util.Random(seed * 1000003L + id)
    private val width = math.max(1L, (hi - lo) / 20)
    val pool: IndexedSeq[(Long, Long)] = (0 until PoolSize).map { _ =>
      val a = lo + (rng.nextDouble() * math.max(1L, hi - lo - width)).toLong
      (a, math.min(hi - 1, a + width))
    }
    private var line = 8 // line numbers above the generator's 1..7 are fresh keys
    private var half = id % 2
    def nextHalf(): Int = { val h = half; half = 1 - h; h }
    def freshRow(): R = {
      line += 1
      R(lo + (rng.nextDouble() * (hi - lo)).toLong, rng.nextInt(1000).toLong,
        rng.nextInt(100).toLong, line, (1 + rng.nextInt(50)).toDouble)
    }
    def catalog: TableCatalog =
      spark.sessionState.catalogManager.catalog("graftr").asInstanceOf[TableCatalog]
  }

  /** An op made ready outside the timed window: `run` is timed, `check`
    * compares what it returned with the model and applies acknowledged
    * writes to it. */
  final case class Prepared(run: () => Any, check: Any => Unit)
  final class OutputMismatch(msg: String) extends Exception(msg)

  def run(a: Runner.Args, tracer: Option[Tracer], result: mutable.Map[String, Any]): Unit = {
    val spark = Runner.session(Some("graft.GraftExtensions"))
    val clients = Runner.cpus
    val setups = (0 until 3).map(i => setupOnce(spark, a, i, clients))
    result("setup_s_samples") = setups.map(_._3)
    Runner.log("set up")
    setups.init.foreach { case (srv, wh, _, _) => srv.stop(); deleteTree(Paths.get(wh)) }
    var server = setups.last._1
    val warehouse = setups.last._2

    // the clients' models start from the table as created
    val base = spark.read.parquet(s"${a.data}/lineitem.parquet")
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity")
      .collect().map(r => R(r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3), r.getDouble(4)))
    val maxKey = if (base.isEmpty) 0L else base.map(_.ok).max + 1
    val span = (maxKey + clients - 1) / clients
    val models = (0 until clients).map { c =>
      mutable.ArrayBuffer.from(base.filter(r => r.ok >= c * span && r.ok < (c + 1) * span))
    }
    val schema = setups.last._4.table(Full).schema
    val location = new RestCatalogClient(server.uri, Some("admin:admin-secret"), None)
      .tableLocation(Seq(Ns), Tbl).get

    val state = (0 until clients).map(c => new Client(c, c * span, (c + 1) * span, models(c), a.seed))
    def makeClients(uris: Int => String, qe: Option[Tracer]): IndexedSeq[Client] =
      state.map { cl =>
        cl.spark = spark.newSession()
        register(cl.spark, uris(cl.id), s"client${cl.id}:secret${cl.id}")
        qe.foreach(_.install(cl.spark, cl.id, withSparkListener = false))
        cl.rest = new RestCatalogClient(uris(cl.id), Some(s"client${cl.id}:secret${cl.id}"), None)
        cl
      }

    val ops = mutable.ArrayBuffer.empty[Op]
    val failures = mutable.LinkedHashMap.empty[String, String]
    val planRatios = mutable.ArrayBuffer.empty[Double]
    val units = mutable.ArrayBuffer.empty[Span]
    var attempted = 0L

    /** Readies one op of client `cl`: draws its range or batch and builds
      * its input outside the timed window. */
    def prepare(cl: Client, kind: String, unit: Long, tr: Option[Tracer]): Prepared = {
      val s = cl.spark
      SparkSession.setActiveSession(s) // the catalog resolves its session per thread
      def timed[A](name: String, layer: String)(body: => A): A =
        tr.fold(body)(_.timed(name, layer, unit, cl.id)(body))
      def sql(text: String): Array[Row] = timed("construct", "queries")(s.sql(text)).collect()
      def inRange(x: Long, y: Long)(r: R) = r.ok >= x && r.ok <= y
      kind match {
        case "select" =>
          val (x, y) = cl.pool(cl.rng.nextInt(PoolSize))
          Prepared(() => sql(s"SELECT count(*), sum(l_quantity) FROM $Full " +
            s"WHERE l_orderkey >= $x AND l_orderkey <= $y").head, {
            case got: Row =>
              val want = cl.rows.filter(inRange(x, y))
              val sum = if (got.isNullAt(1)) 0.0 else got.getDouble(1)
              if (got.getLong(0) != want.size || sum != want.map(_.qty).sum)
                throw new IllegalStateException(s"select [$x,$y] read ${got.getLong(0)} " +
                  s"rows sum $sum, model has ${want.size} rows sum ${want.map(_.qty).sum}")
          })
        case "plan" =>
          val (x, y) = cl.pool(cl.rng.nextInt(PoolSize))
          val filter = s"""{"type":"and","left":{"type":"gt-eq","term":"l_orderkey",""" +
            s""""value":$x},"right":{"type":"lt-eq","term":"l_orderkey","value":$y}}"""
          Prepared(() => {
            timed("loadTable", "catalog")(cl.catalog.loadTable(Identifier.of(Array(Ns), Tbl)))
            val snap = timed("GraftTable.load", "table") {
              GraftTable.load(s, location, p => new RestSnapshotLog(p, cl.rest, Seq(Ns), Tbl))
                .log.current
            }
            (snap.files.size, timed("planScan", "rest")(
              cl.rest.planScan(Seq(Ns), Tbl, Some(filter), Some(snap.version))))
          }, {
            case (files: Int, tasks: Seq[_]) =>
              val planned = tasks.map(_.asInstanceOf[RestCatalogClient#PlannedTask])
              val want = cl.rows.count(inRange(x, y))
              if (planned.map(_.recordCount).sum < want)
                throw new IllegalStateException(s"plan [$x,$y] returned files holding " +
                  s"${planned.map(_.recordCount).sum} rows, model has $want in range")
              planRatios.synchronized { planRatios += planned.size.toDouble / math.max(1, files) }
          })
        case "insert" =>
          val batch = IndexedSeq.fill(20)(cl.freshRow())
          val df = s.createDataFrame(batch.map(full).asJava, schema)
          Prepared(() => {
            df.createOrReplaceTempView("ins")
            sql(s"INSERT INTO $Full SELECT * FROM ins")
          }, _ => cl.rows ++= batch)
        case "merge" =>
          // 1% of the client's rows: 90% updates of existing keys, 10% inserts
          val n = math.max(10, cl.rows.size / 100)
          val keys = cl.rows.iterator.map(r => (r.ok, r.ln)).toIndexedSeq.distinct
          val upd = cl.rng.shuffle(keys).take(n * 9 / 10)
            .map { case (k, l) => R(k, 0L, 0L, l, (1 + cl.rng.nextInt(50)).toDouble) }
          val ins = IndexedSeq.fill(n - upd.size)(cl.freshRow())
          val df = s.createDataFrame((upd ++ ins).map(full).asJava, schema)
          Prepared(() => {
            df.createOrReplaceTempView("src")
            sql(s"""MERGE INTO $Full t USING src s
                   |ON t.l_orderkey = s.l_orderkey AND t.l_linenumber = s.l_linenumber
                   |WHEN MATCHED THEN UPDATE SET l_quantity = s.l_quantity
                   |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
          }, _ => {
            val newQty = upd.map(r => (r.ok, r.ln) -> r.qty).toMap
            cl.rows.mapInPlace(r => newQty.get((r.ok, r.ln)).fold(r)(q => r.copy(qty = q)))
            cl.rows ++= ins
          })
        case "delete" =>
          val (x, y) = cl.pool(cl.rng.nextInt(PoolSize))
          val m = cl.rng.nextInt(7)
          Prepared(() => sql(s"DELETE FROM $Full WHERE l_orderkey >= $x AND l_orderkey <= $y " +
            s"AND (l_partkey + l_suppkey) % 7 = $m"),
            _ => cl.rows.filterInPlace(r => !(inRange(x, y)(r) && (r.pk + r.sk) % 7 == m)))
      }
    }

    def full(r: R): Row = Row(r.ok, r.pk, r.sk, r.ln, r.qty, 1000.0 + r.qty, 0.05, 0.02,
      "N", "O", LocalDateTime.of(1999, 1, 1, 0, 0))

    val orderRng = new scala.util.Random(a.seed)

    /** Runs one op of client `cl` under phase `name`. It counts as done only
      * when it was acknowledged and, for reads, matched the client's model. */
    def runOne(name: String, cl: Client, kind: String, tr: Option[Tracer],
        proxies: IndexedSeq[Proxy]): Unit = {
      val unit = tr.map(_.nextId()).getOrElse(0L)
      if (proxies.nonEmpty) proxies(cl.id).current = unit
      var s0, s1 = 0.0
      var retries = 0
      val ok =
        try {
          val op = prepare(cl, kind, unit, tr)
          s0 = Clock.nowMs
          def attempt(): Any =
            try op.run()
            catch { case e: Throwable if isConflict(e) && retries < MaxRetries =>
              retries += 1
              attempt()
            }
          val out = try Runner.underGroup(cl.spark, unit)(attempt()) finally s1 = Clock.nowMs
          try op.check(out)
          catch { case e: Throwable => throw new OutputMismatch(Runner.errorOf(e)) }
          true
        } catch { case e: Throwable =>
          e.printStackTrace()
          failures.synchronized {
            failures.getOrElseUpdate(s"client${cl.id} $kind #${ops.size}", Runner.errorOf(e))
          }
          false
        }
      if (s0 == 0.0) { s0 = Clock.nowMs; s1 = s0 }
      if (proxies.nonEmpty) proxies(cl.id).current = 0L
      ops.synchronized {
        ops += Op(cl.id, kind, s0, s1, ok, name, retries)
        attempted += 1
      }
      tr.foreach { t =>
        val u = Span(unit, 0L, kind, "op", cl.id, s0, s1)
        t.add(u)
        units.synchronized { units += u }
      }
    }

    /** Runs the clients in rounds: in each round every client issues its
      * next op and the round ends when all of them are acknowledged.
      * Clients work through whole half-cycles, starting another only while
      * it fits in `seconds` of rounds. Rounds keep contention to the
      * ops of one round, so a long MERGE is not starved by a stream of
      * short commits from clients that never wait for it. The `warm` phase
      * is one round of [[WarmKinds]]. */
    def phase(name: String, cls: IndexedSeq[Client], seconds: Double, tr: Option[Tracer],
        proxies: IndexedSeq[Proxy]): Double = {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(cls.size)
      var busy = 0.0
      def rounds(plan: IndexedSeq[(Client, Seq[String])]): Unit =
        plan.head._2.indices.foreach { r =>
          val t0 = System.nanoTime()
          plan.map { case (cl, kinds) =>
            pool.submit((() => runOne(name, cl, kinds(r), tr, proxies)): Runnable)
          }.foreach(_.get())
          busy += (System.nanoTime() - t0) / 1e9
          Runner.sampleHeap() // between rounds, outside the measured time
        }
      if (name == "warm")
        rounds(cls.zip(WarmKinds).map { case (cl, k) => cl -> Seq(k) })
      else {
        // client c takes position (r + c) % 5 of its half in round r, so no
        // round holds more than two writes; the seed orders the rounds,
        // which keeps every round's mix of op kinds the same for any seed
        // whole half-cycles; another only while it fits in `seconds`
        var last = 0.0
        do {
          val before = busy
          val order = orderRng.shuffle(Halves.head.indices.toIndexedSeq)
          rounds(cls.map { cl =>
            val half = Halves(cl.nextHalf())
            cl -> order.map(r => half((r + cl.id) % half.size))
          })
          last = busy - before
        } while (busy + last <= seconds)
      }
      pool.shutdown()
      busy
    }

    Runner.log("models built")
    // untimed warm-up, so the window measures steady state, not first runs
    phase("warm", makeClients(_ => server.uri, None), 0, None, IndexedSeq.empty)
    val untracedS = phase("measure", makeClients(_ => server.uri, None),
      if (tracer.isEmpty) a.seconds else a.seconds / 2, None, IndexedSeq.empty)
    Runner.log("measured")
    var tracedS = 0.0
    // a traced run then measures traced, and untraced again, so the
    // tracing overhead is not confused with the table growing
    val proxies = tracer.toIndexedSeq.flatMap { tr =>
      spark.sparkContext.addSparkListener(tr.sparkListener)
      val px = (0 until clients).map(c => new Proxy(c, server.uri, tr))
      tracedS = phase("traced", makeClients(c => px(c).uri, Some(tr)), a.seconds / 2, Some(tr), px)
      px.foreach(_.stop())
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(tr.sparkListener)
      phase("after", makeClients(_ => server.uri, None), a.seconds / 2, None, IndexedSeq.empty)
      px
    }

    Runner.log("traced")
    // correctness: a restarted catalog must serve the replay of all models
    server.stop()
    server = new RestCatalogServer(warehouse, creds(clients)).start()
    val fresh = spark.newSession()
    register(fresh, server.uri, "admin:admin-secret")
    val table = fresh.table(Full)
    val got = table.select("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3), r.getDouble(4)))
      .sorted
    val want = models.flatten.map(r => (r.ok, r.pk, r.sk, r.ln, r.qty)).toArray.sorted
    val mismatch = if (got.sameElements(want)) None else Some(
      s"final table has ${got.length} rows, replay of acknowledged ops has ${want.length}; " +
        s"first difference at ${got.zip(want).indexWhere { case (x, y) => x != y }}")
    mismatch.foreach(m => failures("final-state") = "OutputMismatch: " + m)

    Runner.log("final state checked")
    val compact = s"${a.out}/compact"
    table.coalesce(1).write.mode("overwrite").parquet(compact)
    val tableDir = Paths.get(location.stripPrefix("file:"))
    val spaceAmp = dirBytes(tableDir).toDouble / math.max(1L, dirBytes(Paths.get(compact)))
    val t = GraftTable.load(fresh, location,
      p => new RestSnapshotLog(p, new RestCatalogClient(server.uri, Some("admin:admin-secret"), None),
        Seq(Ns), Tbl))
    val head = t.log.current
    server.stop()

    Runner.log("table measured")
    result("ops") = ops.map(o => Map("client" -> o.client, "kind" -> o.kind,
      "ms" -> (o.end - o.start), "ok" -> o.ok, "phase" -> o.phase, "retries" -> o.retries))
    result("window_s") = untracedS
    result("attempted") = attempted + 1 // the final-state check is one more unit
    result("failures") = failures
    result("final_check") = mismatch.isEmpty
    result("space_amp") = spaceAmp
    result("per_layer") = tracer.fold(mutable.LinkedHashMap.empty[String, Double]) { tr =>
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      val layer = mutable.LinkedHashMap.empty[String, Double]
      val us = units.toSeq
      val kids = tr.attribute(us)
      val self = mutable.Map.empty[String, Double].withDefaultValue(0.0)
      val phases = mutable.Map.empty[String, Double].withDefaultValue(0.0)
      us.foreach { u =>
        Trace.selfTimes(u, kids(u.id)).foreach { case (l, ms) => self(l) += ms / 1000.0 }
        kids(u.id).filter(_.layer == "plans").foreach(p => phases(p.name) += p.dur / 1000.0)
      }
      val nOps = math.max(1, us.size).toDouble
      def med(xs: Iterable[Double]) = Trace.median(xs.toSeq)
      val spans = tr.all
      layer("queries.construct_s") = spans.filter(_.name == "construct").map(_.dur).sum / 1000.0 / nOps
      layer("plans.analysis_s") = phases("analysis") / nOps
      layer("plans.optimization_s") = phases("optimization") / nOps
      layer("plans.planning_s") = phases("planning") / nOps
      Trace.execMetrics(us.map(u => tr.execOf(u.id)), Runner.cpus, tracedS)
        .foreach { case (k, v) => layer(k) = v }
      layer("catalog.load_table_ms") = med(spans.filter(_.name == "loadTable").map(_.dur))
      layer("table.load_ms") = med(spans.filter(_.name == "GraftTable.load").map(_.dur))
      layer("table.snapshots") = t.log.listVersions.size.toDouble
      layer("table.data_files") = head.files.size.toDouble
      layer("table.delete_files") = (head.deleteFiles.size + head.eqDeleteFiles.size).toDouble
      layer("table.metadata_bytes") = dirBytes(tableDir.resolve("_graft")).toDouble
      val calls = proxies.flatMap(_.all)
      def ms(kind: String) = med(calls.filter(_.kind == kind).map(c => c.end - c.start))
      val commits = calls.filter(_.kind == "commit")
      layer("rest.server_ms.load") = ms("load")
      layer("rest.load_response_bytes") = med(calls.filter(_.kind == "load").map(_.respBytes.toDouble))
      layer("rest.server_ms.plan") = ms("plan")
      layer("rest.plan_files_ratio") = med(planRatios)
      layer("rest.server_ms.commit") = ms("commit")
      layer("rest.commit_conflicts") = commits.count(_.status == 409).toDouble
      layer("rest.commit_success_ratio") =
        commits.count(c => c.status / 100 == 2).toDouble / math.max(1, commits.size)
      layer("rest.server_busy_frac") =
        Trace.unionMs(calls.map(c => (c.start, c.end))) / 1000.0 / math.max(1e-9, tracedS)
      val kindOf = us.map(u => u.id -> u.name).toMap
      val byUnit = calls.filter(_.unit != 0L).groupBy(c => WriteKinds(kindOf.getOrElse(c.unit, "")))
      val writes = us.count(u => WriteKinds(u.name)).max(1)
      val reads = us.count(u => !WriteKinds(u.name)).max(1)
      layer("rest.requests_per_write") = byUnit.getOrElse(true, Nil).size.toDouble / writes
      layer("rest.requests_per_read") = byUnit.getOrElse(false, Nil).size.toDouble / reads
      (Trace.Priority :+ "residual").foreach(l => layer(s"self.${l}_s") = self(l) / nOps)
      val opWall = us.map(_.dur).sum / 1000.0
      layer("trace.residual_frac") = self("residual") / math.max(1e-9, opWall)
      val untracedP50 = med(ops.filter(o => (o.phase == "measure" || o.phase == "after") && o.ok)
        .map(o => o.end - o.start))
      val tracedP50 = med(ops.filter(o => o.phase == "traced" && o.ok).map(o => o.end - o.start))
      layer("trace.overhead_frac") = tracedP50 / math.max(1e-9, untracedP50) - 1.0
      layer
    }
  }
}
