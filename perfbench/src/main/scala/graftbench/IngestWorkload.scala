package graftbench

import java.util.concurrent.{ArrayBlockingQueue, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

import graft.io.Ingest

/** `ingest`: write only, closed loop. Two TCP connections send
  * dictionary-coded RESP sessions (each waits for its ack before the
  * next) while a maintenance loop rotates the spool, spools and folds.
  * Writers also wait while `BacklogCap` acked sessions are not yet
  * folded, so the run measures the sustained rate of the whole write
  * path rather than how fast the spool directory can fill up. */
object IngestWorkload {
  val Conns = 2
  val SessionSlots = 40
  val BacklogCap = 24L

  /** One day of 1000 series (8 metrics x 125 hosts) at a 10 s step:
    * 8.64 M samples, of which a run sends as many as it can. */
  def corpus(seed: Long): Corpus =
    new Corpus(seed, (0 until 8).map(m => s"bm$m"), hosts = 125,
      stepNs = 10L * 1000000000L, slots = 8640)

  /** One session: its connection, corpus slice `k`, the server's
    * session number `n`, and first byte / close / ack nanoTimes. */
  final case class Sent(conn: Int, k: Int, n: Long, first: Long, close: Long,
                        ack: Long, samples: Long)

  def run(env: Env): Unit = {
    val c = corpus(env.seed)
    val owned = (0 until Conns).map(k =>
      (0 until c.nSeries).filter(_ % Conns == k))
    val perConn = c.slots / SessionSlots
    def session(conn: Int, k: Int): (Array[Byte], Checksum) = {
      val (a, b) = (k.toLong * SessionSlots, (k + 1L) * SessionSlots)
      (c.renderSession(owned(conn), a, b), c.checksum(owned(conn), a, b))
    }
    val samplesPerSession = owned(0).size.toLong * SessionSlots
    val expected = new Checksum

    // set-up: a listening wire server and a first fold into a fresh
    // layout (session 0 of connection 0)
    val (seedBytes, seedSum) = session(0, 0)
    val wp = env.timedSetups(3) { rep =>
      val w = new WritePath(env, env.dir(s"ingest-$rep"), Nil, Conns)
      w.send(0, seedBytes)
      w.cycle(samplesPerSession)
      w
    }(_.stop())
    expected.merge(seedSum)

    val sent = new ConcurrentLinkedQueue[Sent]()
    val sums = new ConcurrentLinkedQueue[Checksum]()
    val stop = new AtomicBoolean(false)
    val queues = (0 until Conns).map(_ => new ArrayBlockingQueue[(Int, Array[Byte], Checksum)](2))
    // sessions are rendered ahead by one producer, outside the writers'
    // timers
    val producer = new Thread(() => {
      try {
        var k = 0
        while (!stop.get() && k < perConn) {
          (0 until Conns).foreach { conn =>
            if (!(conn == 0 && k == 0)) {
              val (b, s) = session(conn, k)
              while (!stop.get() && !queues(conn).offer((k, b, s), 50,
                  java.util.concurrent.TimeUnit.MILLISECONDS)) ()
            }
          }
          k += 1
        }
      } catch { case _: InterruptedException => () }
    }, "perfbench-render")
    producer.setDaemon(true); producer.start()

    val half = env.seconds / 2.0
    val t0 = System.nanoTime()
    val deadline = t0 + env.seconds * 1000000000L
    val traceFrom = if (env.trace) t0 + (half * 1e9).toLong else Long.MaxValue
    val writers = (0 until Conns).map { conn =>
      new Thread(() => {
        var more = true
        while (more && System.nanoTime() < deadline) {
          while (wp.acked.get() - wp.folded.get() >= BacklogCap &&
              System.nanoTime() < deadline) Thread.sleep(1)
          val next =
            if (System.nanoTime() >= deadline) null
            else queues(conn).poll(100, java.util.concurrent.TimeUnit.MILLISECONDS)
          if (next != null) {
            val (k, bytes, sum) = next
            if (System.nanoTime() >= traceFrom) env.tracer.enabled = true
            val (n, a, b, d) = env.tracer.span("io.WireIngest.session", k.toLong) {
              wp.send(conn, bytes)
            }
            sent.add(Sent(conn, k, n, a, b, d, samplesPerSession))
            sums.add(sum)
            env.result.attempt(true)
          } else more = producer.isAlive
        }
      }, s"perfbench-writer-$conn")
    }
    val maint = new Thread(() =>
      wp.loop(samplesPerSession, () => writers.forall(!_.isAlive)),
      "perfbench-maintenance")
    val errors = new ConcurrentLinkedQueue[Throwable]()
    (writers :+ maint).foreach { t =>
      t.setUncaughtExceptionHandler((_, e) => errors.add(e)); t.start()
    }
    writers.foreach(_.join())
    stop.set(true)
    maint.join()
    errors.asScala.headOption.foreach(e => throw e)
    env.result.liveHeap()
    val lastCommit = wp.foldCalls.asScala.map(_._2).max

    val ss = sent.asScala.toSeq
    val first = ss.map(_.first).min
    val wallS = (lastCommit - first) / 1e9
    val samples = ss.map(_.samples).sum
    val r = env.result
    // an ingest operation ends when its samples are committed to the
    // layout (the end of the fold that took the session)
    def lat(xs: Seq[Sent]) = xs.map(s =>
      (wp.committedAt(s.conn, s.n).getOrElse(lastCommit) - s.first) / 1e6)
    val untraced = ss.filter(_.first < traceFrom)
    r.e2e("op_p50_ms", Stats.p50(lat(untraced)), "ms")
    r.e2e("op_tail_ms", Stats.p90(lat(untraced)), "ms")
    r.e2e("ops_per_s", ss.size / wallS, "1/s")
    env.log(f"ingest: ${ss.size} sessions, $samples samples in $wallS%.2f s " +
      f"(${samples / wallS}%.0f samples/s), backlog max ${wp.backlogMax.get()}")

    // the layout must hold exactly the acked stream
    sums.asScala.foreach(expected.merge)
    val store = Ingest.readLayout(env.spark, wp.layout)
    val got = Checksum.ofStore(store.samples, c.metricNames, c.t0, c.stepNs)
    if (got != expected) r.wrong(s"layout $got, acked stream $expected")
    val stored = wp.layoutBytes.toDouble / expected.rows

    if (env.trace) {
      val traced = ss.filter(_.first >= traceFrom)
      r.layer("trace.overhead.op_p50_ms",
        Stats.p50(lat(traced)) - Stats.p50(lat(untraced)))
      r.layer("trace.overhead.op_tail_ms",
        Stats.p90(lat(traced)) - Stats.p90(lat(untraced)))
      def rate(xs: Seq[Sent]) = if (xs.isEmpty) 0.0
        else xs.size / ((xs.map(_.ack).max - xs.map(_.first).min) / 1e9)
      r.layer("trace.overhead.ops_per_s", rate(traced) - rate(untraced))
      r.layer("ingest.samples_per_s", samples / wallS)
      r.layer("ingest.stored_bytes_per_sample", stored)
      r.layer("wire.busy_s", ss.map(s => s.ack - s.first).sum / 1e9)
      r.layer("wire.ack_wait_ms.p50", Stats.p50(ss.map(s => (s.ack - s.close) / 1e6)))
      wp.layerMetrics(t0, expected.rows)
    }
    wp.stop()
  }
}
