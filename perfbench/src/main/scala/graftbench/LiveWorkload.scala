package graftbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.io.RunLog
import graft.serve.ApiHttp

/** Open-loop schedule: operation `k` is due at `start + k * interval`.
  * Latency is measured from the due time, not from when the operation
  * actually started, so a stalled generator cannot hide queueing delay. */
final class OpenLoop(val startNs: Long, val intervalNs: Long) {
  def due(k: Long): Long = startNs + k * intervalNs
  /** Sleep until operation k is due; returns how late it starts (ns). */
  def await(k: Long, now: () => Long = () => System.nanoTime(),
            sleepNs: Long => Unit = OpenLoop.sleep): Long = {
    val d = due(k)
    var t = now()
    while (t < d) { sleepNs(d - t); t = now() }
    t - d
  }
  def latencyNs(k: Long, doneNs: Long): Long = doneNs - due(k)
}

object OpenLoop {
  def sleep(ns: Long): Unit = Thread.sleep(ns / 1000000L, (ns % 1000000L).toInt)
}

/** `live`: writes beside reads. One open-loop writer connection offers a
  * fixed rate on the `lv` stream while maintenance cycles spool and fold
  * continuously and two HTTP clients run the serving mix (plus a
  * freshness probe) over [[RunLog.liveStore]], which re-lists the run
  * files on every request. */
object LiveWorkload {
  /** About a quarter of the sustained `ingest` rate on a 4-core host. */
  val OfferedSamplesPerS = 50000L
  val StreamHosts = 50
  val SessionSlots = 200
  val ProbeKind = "live_probe"

  def stream(seed: Long): Corpus =
    new Corpus(seed + 7, IndexedSeq("lv"), hosts = StreamHosts,
      stepNs = 1000000000L, slots = 100000000)

  /** Checks a probe response (per-series count of the stream, with the
    * latest timestamp): the visible part must be the same whole-session
    * prefix for every series and no more than was acked. */
  final class FreshnessProbe(env: Env, lc: Corpus, ackedSlots: () => Long)
      extends Probe {
    val kind: String = ProbeKind
    private val names = (0 until lc.hosts).map(h =>
      s"lv:count dc=${lc.dc(h)} host=${lc.host(h)}").sorted
    val json: String =
      s"""{"aggregate":{"lv":"count"},"range":{"from":${lc.t0},"to":${lc.ts(lc.slots)}},""" +
        """"output":{"format":"csv","timestamp":"raw"}}"""

    def visible(body: String): Either[String, Long] = {
      val lines = body.split("\r\n").toSeq.filter(_.nonEmpty)
      lines.find(_.startsWith("-")) match {
        case Some(e) => Left(s"in-band error: ${e.take(160)}")
        case None =>
          val cells = lines.map(_.split(","))
          if (cells.map(_(0)) != names) Left(s"series ${cells.map(_(0)).take(3)}...")
          else {
            val counts = cells.map(_(2).toDouble.toLong).distinct
            val tss = cells.map(_(1).toLong).distinct
            if (counts.size != 1) Left(s"torn: counts ${counts.take(4)}")
            else {
              val n = counts.head
              if (n % SessionSlots != 0) Left(s"torn: $n slots is not whole sessions")
              else if (tss != Seq(lc.ts(n - 1))) Left(s"torn: last ts ${tss.take(2)} for $n slots")
              else Right(n)
            }
          }
      }
    }

    def verify(body: String, endNs: Long): (Boolean, Long) =
      visible(body) match {
        case Right(n) if n <= ackedSlots() => (true, n)
        case Right(n) =>
          env.result.wrong(s"probe sees $n slots, only ${ackedSlots()} acked")
          (false, -1L)
        case Left(why) =>
          env.log(s"probe: $why")
          if (!why.startsWith("in-band")) env.result.wrong(s"probe: $why")
          (false, -1L)
      }

    def request: Request = Request(kind, json, () => IndexedSeq.empty)
  }

  def run(env: Env): Unit = {
    val base = Serving.liveBase(env.seed)
    val lc = stream(env.seed)
    val series = 0 until lc.nSeries
    val perSession = lc.nSeries.toLong * SessionSlots
    def session(k: Int) = {
      val (a, b) = (k.toLong * SessionSlots, (k + 1L) * SessionSlots)
      (lc.renderSession(series, a, b), lc.checksum(series, a, b))
    }
    val src = env.dir("live-sessions")
    Serving.renderSessions(base, src)
    val (seedBytes, seedSum) = session(0)

    // set-up: the base corpus folded into a fresh layout, the first
    // session of the stream through the wire and a fold, and the server
    val (wp, api) = env.timedSetups(3) { rep =>
      val w = new WritePath(env, env.dir(s"live-$rep"), Serving.FlattenTags)
      RunLog.spoolResp(env.spark, src.getAbsolutePath, w.runs, Serving.FlattenTags)
      w.send(0, seedBytes)
      w.cycle(perSession)
      val api = new ApiHttp(() => RunLog.liveStore(env.spark, w.layout, w.runs))
      api.start()
      (w, api)
    } { case (w, a) => a.stop(); w.stop() }

    val expected = new Checksum
    expected.merge(seedSum)
    val acks = new ConcurrentLinkedQueue[(Long, Long, Long)]() // (slots, ack, late)
    val ackLat = new ConcurrentLinkedQueue[java.lang.Double]()
    @volatile var ackedSlots = perSession / lc.nSeries
    val probe = new FreshnessProbe(env, lc, () => ackedSlots)
    val mix = new Mix(base, (0 until lc.hosts).map(h => (lc.sname(0, h), h)))
    val gens = mix.generators ++
      Seq.fill(3)(ProbeKind -> ((_: java.util.SplittableRandom) => probe.request))
    val load = new QueryLoad(env, api.boundPort,
      () => RunLog.liveStore(env.spark, wp.layout, wp.runs),
      s => new Mix.Deck(gens, s), Serving.Clients, Some(probe))

    val t0 = System.nanoTime()
    val deadline = t0 + env.seconds * 1000000000L
    val sched = new OpenLoop(t0, perSession * 1000000000L / OfferedSamplesPerS)
    val errors = new ConcurrentLinkedQueue[Throwable]()
    val writer = new Thread(() => {
      var k = 1
      var next = session(k)
      while (sched.due(k - 1) < deadline) {
        val late = sched.await(k - 1)
        val (_, _, _, ack) = wp.send(0, next._1)
        expected.merge(next._2)
        ackedSlots = (k + 1L) * SessionSlots
        acks.add(((k + 1L) * SessionSlots, ack, late))
        ackLat.add(sched.latencyNs(k - 1, ack) / 1e6)
        k += 1
        next = session(k)
      }
    }, "perfbench-live-writer")
    val maint = new Thread(() => wp.loop(perSession, () => !writer.isAlive),
      "perfbench-maintenance")
    Seq(writer, maint).foreach { t =>
      t.setUncaughtExceptionHandler((_, e) => errors.add(e)); t.start()
    }
    val rng = new java.util.SplittableRandom(env.seed ^ 0x5eedL)
    try Serving.measure(env, load, gens.map(_._2(rng)))
    finally {
      writer.join(); maint.join()
    }
    errors.asScala.headOption.foreach(e => throw e)
    env.result.liveHeap()

    // quiesced: the view must be exactly the acked stream
    val r = env.result
    val store = RunLog.liveStore(env.spark, wp.layout, wp.runs)
    val got = Checksum.ofStore(store.samples, Seq("lv"), lc.t0, lc.stepNs)
    if (got != expected) r.wrong(s"final view $got, acked stream $expected")
    val (code, body, _) = new Http(api.boundPort).query(probe.json)
    probe.visible(body) match {
      case Right(n) if code == 200 && n == ackedSlots => ()
      case other => r.wrong(s"final probe: HTTP $code, $other, acked $ackedSlots")
    }
    api.stop()

    val ds = load.done.asScala.toSeq
    val seen = ds.filter(d => d.kind == ProbeKind && d.ok).sortBy(_.endNs)
    val fresh = acks.asScala.toSeq.flatMap { case (slots, ack, _) =>
      seen.find(_.visible >= slots).map(d => math.max(0L, d.endNs - ack) / 1e6)
    }
    val folds = wp.foldCalls.asScala.filter(_._1 >= t0).map(f => (f._1, f._2)).toSeq
    val overlap = ds.count(d => folds.exists { case (a, b) => d.startNs < b && a < d.endNs })
    val acked = acks.asScala.toSeq
    env.log(f"live: ${acked.size} sessions acked, ${fresh.size} seen by a probe, " +
      f"freshness p50 ${Stats.p50(fresh)}%.0f ms, ${ds.size} queries, " +
      f"${ds.count(!_.ok)} failed, backlog max ${wp.backlogMax.get()}")
    if (env.trace) {
      r.layer("live.freshness_p50_ms", Stats.p50(fresh))
      r.layer("live.freshness_p90_ms", Stats.p90(fresh))
      r.layer("live.offered_samples_per_s",
        acked.size * perSession / ((acked.map(_._2).max - t0) / 1e9))
      r.layer("writer.late_ms.max", Stats.maxOr0(acked.map(_._3 / 1e6)))
      r.layer("wire.ack_wait_ms.p50", Stats.p50(ackLat.asScala.toSeq.map(_.doubleValue)))
      r.layer("fold.query_overlap_share", overlap.toDouble / math.max(1, ds.size))
      wp.layerMetrics(t0, expected.rows + base.samples)
    }
    wp.stop()
  }
}
