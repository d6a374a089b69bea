package graftbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.ast.QueryJson
import graft.plan.{Planner, TsStore}
import graft.serve.Api

/** One completed HTTP request. `visible` is what a freshness probe saw
  * (slots of the live stream), -1 for other kinds. */
final case class Done(client: Int, kind: String, startNs: Long, endNs: Long,
                      ok: Boolean, bytes: Long, visible: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** The in-process replay of one request, layer by layer (ms). */
final case class Replay(kind: String, httpMs: Double, storeOpenMs: Double,
                        parseMs: Double, planMs: Double, queryLinesMs: Double,
                        sparkPlanMs: Double, firstRowMs: Double,
                        drainMs: Double, dfDrainMs: Double, rows: Long,
                        bytes: Long) {
  def inProcessMs: Double = storeOpenMs + queryLinesMs + firstRowMs + drainMs
}

/** Closed-loop HTTP load: `clients` threads, one connection each, each
  * drawing requests from one shared seeded [[Mix.Deck]]. Every response is
  * checked against its closed form; with tracing on, each request is then
  * replayed in process (store open, queryLines, executedPlan, first row,
  * drain) under its own Spark job group. */
final class QueryLoad(env: Env, port: Int, provider: () => TsStore,
                      deck: Long => Mix.Deck, clients: Int,
                      probe: Option[Probe] = None) {

  val done = new ConcurrentLinkedQueue[Done]()
  val replays = new ConcurrentLinkedQueue[Replay]()

  /** Run for `seconds`; the clients draw from one shared deck, and after
    * `seconds` they finish the deck they are in, so each kind is equally
    * represented. */
  def run(seconds: Double, traced: Boolean, phase: Int): Unit = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val d = deck(env.seed * 1000003L + phase * 101L)
    def take(): Option[Request] = d.synchronized {
      if (System.nanoTime() < deadline || !d.atDeckStart) Some(d.next()) else None
    }
    parallel(clients) { c =>
      val http = new Http(port)
      var n = 0L
      var next = take()
      while (next.isDefined) {
        issue(http, next.get, c, if (traced) Some(s"q-$phase-$c-$n") else None)
        n += 1
        next = take()
      }
    }
  }

  /** Send each request once, on as many connections as there are cores:
    * a warm-up that compiles every kind's code paths. The responses are
    * checked like any other. */
  def warm(reqs: IndexedSeq[Request]): Unit = {
    val n = math.min(reqs.size, Runtime.getRuntime.availableProcessors())
    parallel(n) { t =>
      val http = new Http(port)
      (t until reqs.size by n).foreach(k => issue(http, reqs(k), clients + t, None))
    }
  }

  private def parallel(n: Int)(body: Int => Unit): Unit = {
    val errors = new ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until n).map { c =>
      val t = new Thread(() => {
        try body(c) catch { case t: Throwable => errors.add(t) }
      }, s"perfbench-client-$c")
      t.start(); t
    }
    threads.foreach(_.join())
    errors.asScala.headOption.foreach(t => throw t)
  }

  /** One request over HTTP, checked against its closed form; replayed in
    * process under job group `replayGroup` when one is given. */
  private def issue(http: Http, req: Request, c: Int,
                    replayGroup: Option[String]): Unit = {
    val s = System.nanoTime()
    val (status, body, bytes) =
      try http.query(req.json)
      catch { case e: java.io.IOException => (-1, e.toString, 0L) }
    val e = System.nanoTime()
    val (ok, visible) =
      if (status != 200) {
        env.log(s"${req.kind}: HTTP $status ${body.take(160)}")
        (false, -1L)
      } else probe.filter(_.kind == req.kind) match {
        case Some(p) => p.verify(body, e)
        case None =>
          Mix.check(body, req.expected()) match {
            case None => (true, -1L)
            case Some(why) =>
              env.log(s"${req.kind} mismatch: $why")
              if (!why.startsWith("in-band error"))
                env.result.wrong(s"${req.kind}: $why")
              (false, -1L)
          }
      }
    done.add(Done(c, req.kind, s, e, ok, bytes, visible))
    env.result.attempt(ok)
    replayGroup.foreach(g => replay(req, (e - s) / 1e6, g))
  }

  private def ms(a: Long, b: Long) = (b - a) / 1e6

  private def replay(req: Request, httpMs: Double, group: String): Unit = {
    val tr = env.tracer
    val reqId = group.hashCode.toLong & 0xffffffffL
    var rows = 0L; var bytes = 0L
    val t = new Array[Long](9)
    var frame: graft.plan.Frame = null
    env.inGroup(group) {
      tr.span("replay", reqId) {
        t(0) = System.nanoTime()
        val store = tr.span("store.open", reqId)(provider())
        t(1) = System.nanoTime()
        val q = tr.span("ast.parse", reqId)(QueryJson.parse(req.json))
        t(2) = System.nanoTime()
        frame = tr.span("planner.plan", reqId)(Planner.plan(q, store))
        t(3) = System.nanoTime()
        val lines = tr.span("api.query_lines", reqId)(Api.queryLines(store, req.json))
        t(4) = System.nanoTime()
        tr.span("spark.executed_plan", reqId)(lines.queryExecution.executedPlan)
        t(5) = System.nanoTime()
        val it = lines.toLocalIterator()
        tr.span("exec.first_row", reqId)(it.hasNext)
        t(6) = System.nanoTime()
        tr.span("exec.drain", reqId) {
          while (it.hasNext) { bytes += it.next().length + 2; rows += 1 }
        }
        t(7) = System.nanoTime()
      }
    }
    env.inGroup("d" + group) {
      tr.span("exec.df_drain", reqId) {
        val it = frame.df.toLocalIterator()
        while (it.hasNext) it.next()
      }
    }
    t(8) = System.nanoTime()
    replays.add(Replay(req.kind, httpMs, ms(t(0), t(1)), ms(t(1), t(2)),
      ms(t(2), t(3)), ms(t(3), t(4)), ms(t(4), t(5)), ms(t(5), t(6)),
      ms(t(6), t(7)), ms(t(7), t(8)), rows, bytes))
  }

  /** (median ms, tail ms, requests/s) of the requests started in
    * [from, to). Throughput is summed over clients, each over its own
    * span from `from` to its last completion, so a client that finishes
    * its deck early does not dilute it with idle time. */
  def summary(from: Long, to: Long): (Double, Double, Double) = {
    val ds = done.asScala.filter(d => d.startNs >= from && d.startNs < to).toSeq
    val (p50, tail) = Stats.byKind(ds.map(d => (d.kind, d.ms)))
    val qps = ds.groupBy(_.client).values.map { xs =>
      xs.size / ((xs.map(_.endNs).max - from) / 1e9)
    }.sum
    (p50, tail, qps)
  }

  /** Per-layer metrics of the traced phase. */
  def layerMetrics(traceFrom: Long): Unit = {
    val r = env.result
    val ds = done.asScala.filter(_.startNs >= traceFrom).toSeq
    val rs = replays.asScala.toSeq
    Mix.Kinds.foreach { k =>
      r.layer(s"serve.$k.p50_ms", Stats.p50(ds.filter(_.kind == k).map(_.ms)))
    }
    if (rs.nonEmpty) {
      def p50(f: Replay => Double) = Stats.p50(rs.map(f))
      r.layer("store.open_ms.p50", p50(_.storeOpenMs))
      r.layer("parse_ms.p50", p50(_.parseMs))
      r.layer("planner.plan_ms.p50", p50(_.planMs))
      r.layer("api.query_lines_ms.p50", p50(_.queryLinesMs))
      r.layer("api.probe_ms.p50",
        p50(x => math.max(0.0, x.queryLinesMs - x.parseMs - x.planMs)))
      r.layer("spark.plan_ms.p50", p50(_.sparkPlanMs))
      r.layer("exec.first_row_ms.p50", p50(_.firstRowMs))
      r.layer("exec.drain_ms.p90", Stats.p90(rs.map(_.drainMs)))
      r.layer("format.extra_ms.p50",
        p50(x => x.firstRowMs + x.drainMs - x.dfDrainMs))
      r.layer("http.overhead_ms.p50", p50(x => x.httpMs - x.inProcessMs))
      r.layer("http.bytes_per_query", ds.map(_.bytes).sum.toDouble / math.max(1, ds.size))
      val ns = rs.filter(_.kind == Mix.NarrowSelect)
      if (ns.nonEmpty) {
        def q(f: Replay => Double) = Stats.p50(ns.map(f))
        r.layer("narrow_select.http_ms.p50", q(_.httpMs))
        r.layer("narrow_select.query_lines_ms.p50", q(_.queryLinesMs))
        r.layer("narrow_select.probe_ms.p50",
          q(x => math.max(0.0, x.queryLinesMs - x.parseMs - x.planMs)))
        r.layer("narrow_select.first_row_ms.p50", q(_.firstRowMs))
        r.layer("narrow_select.drain_ms.p50", q(_.drainMs))
        r.layer("narrow_select.http_overhead_ms.p50",
          q(x => x.httpMs - x.inProcessMs))
      }
      env.drainListeners()
      val c = env.counters.sum("q-")
      val n = rs.size.toDouble
      val rowsOut = math.max(1L, rs.map(_.rows).sum)
      r.layer("spark.jobs_per_query", c.jobs / n)
      r.layer("spark.stages_per_query", c.stages / n)
      r.layer("spark.tasks_per_query", c.tasks / n)
      r.layer("spark.input_bytes_per_query", c.inputBytes / n)
      r.layer("spark.rows_read_per_row_returned", c.recordsRead.toDouble / rowsOut)
      r.layer("spark.shuffle_write_bytes_per_query", c.shuffleWriteBytes / n)
      r.layer("spark.gc_ms_per_query", c.gcMs / n)
    }
  }

  /** Text table: per kind, median ms of each replayed layer. */
  def breakdown(): String = {
    val rs = replays.asScala.toSeq
    val hdr = f"${"kind"}%-18s ${"n"}%4s ${"http"}%8s ${"open"}%7s ${"parse"}%7s " +
      f"${"plan"}%7s ${"qlines"}%8s ${"probe"}%7s ${"xplan"}%7s ${"first"}%8s " +
      f"${"drain"}%8s ${"dfdrain"}%8s ${"httpx"}%7s"
    val lines = rs.groupBy(_.kind).toSeq.sortBy(_._1).map { case (k, xs) =>
      def m(f: Replay => Double) = Stats.p50(xs.map(f))
      f"$k%-18s ${xs.size}%4d ${m(_.httpMs)}%8.1f ${m(_.storeOpenMs)}%7.1f " +
        f"${m(_.parseMs)}%7.2f ${m(_.planMs)}%7.1f ${m(_.queryLinesMs)}%8.1f " +
        f"${m(x => x.queryLinesMs - x.parseMs - x.planMs)}%7.1f " +
        f"${m(_.sparkPlanMs)}%7.1f ${m(_.firstRowMs)}%8.1f ${m(_.drainMs)}%8.1f " +
        f"${m(_.dfDrainMs)}%8.1f ${m(x => x.httpMs - x.inProcessMs)}%7.1f"
    }
    (hdr +: lines).mkString("\n")
  }
}

/** A request kind whose response shows how much of a growing stream is
  * visible; `verify` returns (ok, visible units). */
trait Probe {
  def kind: String
  def verify(body: String, endNs: Long): (Boolean, Long)
}
