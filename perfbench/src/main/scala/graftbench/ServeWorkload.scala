package graftbench

import java.io.File
import java.nio.file.Files

import graft.io.Ingest
import graft.serve.ApiHttp

/** Shared store-building and HTTP-phase code of `serve` and `live`. */
object Serving {
  val FlattenTags: Seq[String] = Seq("dc", "host")
  val Clients = 2

  /** The served corpus: the `ingest` corpus's 1000 series (8 metrics x
    * 125 hosts) over one day at a 60 s step (1.44 M samples), plus 6
    * events per host on `!deploy`. */
  def corpus(seed: Long): Corpus =
    new Corpus(seed, (0 until 8).map(m => s"bm$m"), hosts = 125,
      stepNs = 60L * 1000000000L, slots = 1440, events = 6)

  /** `live`'s base corpus: 8 metrics x 24 hosts, one day at a 60 s step
    * (276 480 samples), plus 6 events per host on `!deploy`. */
  def liveBase(seed: Long): Corpus =
    new Corpus(seed, (0 until 8).map(m => s"bm$m"), hosts = 24,
      stepNs = 60L * 1000000000L, slots = 1440, events = 6)

  /** Render the corpus as RESP session files, one per metric plus one for
    * the event series (outside any timer). */
  def renderSessions(c: Corpus, dir: File): Unit = {
    c.metricNames.indices.foreach { m =>
      val series = (0 until c.hosts).map(h => m * c.hosts + h)
      Files.write(new File(dir, s"m$m.resp").toPath,
        c.renderSession(series, 0, c.slots))
    }
    Files.write(new File(dir, "events.resp").toPath, c.renderEvents())
  }

  /** Write the corpus as a layout with [[Ingest.writeLayout]]; the
    * samples are generated inside Spark from the closed form, so no
    * session text of the whole corpus is ever rendered. */
  def writeLayout(env: Env, c: Corpus, path: String): Unit = {
    val spark = env.spark
    import spark.implicits._
    val perMetric = c.hosts.toLong * c.slots
    val names = c.metricNames.map(n => s"'$n'").mkString(",")
    val samples = spark.range(0L, c.samples, 1L,
        2 * spark.sparkContext.defaultParallelism)
      .selectExpr(s"cast(id div $perMetric as int) as m",
        s"cast((id div ${c.slots}) % ${c.hosts} as int) as h",
        s"id % ${c.slots} as i")
      .selectExpr(s"element_at(array($names), m + 1) as metric",
        "map('dc', concat('dc', cast(h % 4 as string)), " +
          "'host', format_string('h%03d', h)) as tags",
        s"${c.t0}L + i * ${c.stepNs}L as ts",
        s"cast(${c.valueSql} as double) as value",
        "cast(null as string) as event")
    val events = (for (h <- 0 until c.hosts; j <- 0 until c.events) yield
      ("!deploy", Map("host" -> c.host(h)), c.eventTs(h, j),
        Option.empty[Double], c.eventBody(h, j)))
      .toDF("metric", "tags", "ts", "value", "event")
    Ingest.writeLayout(samples.unionByName(events), path, FlattenTags)
  }

  /** Run the HTTP load for the run's seconds after a warm-up deck.
    * Tracing off: one phase.
    * Tracing on: an untraced half, then a traced half with in-process
    * replays; the difference of the two is the tracing overhead. */
  def measure(env: Env, load: QueryLoad, warmup: IndexedSeq[Request]): Unit = {
    val r = env.result
    // every kind once first, so its code paths are compiled before the
    // timed phase; these requests are checked but not timed
    load.warm(warmup)
    env.log("warm-up done")
    if (!env.trace) {
      val from = System.nanoTime()
      load.run(env.seconds, traced = false, phase = 0)
      val (p50, tail, qps) = load.summary(from, Long.MaxValue)
      r.e2e("op_p50_ms", p50, "ms"); r.e2e("op_tail_ms", tail, "ms")
      r.e2e("ops_per_s", qps, "1/s")
      env.log(f"${load.done.size} requests, p50 $p50%.0f ms, tail $tail%.0f ms")
    } else {
      val a0 = System.nanoTime()
      load.run(env.seconds / 2.0, traced = false, phase = 0)
      val b0 = System.nanoTime()
      load.run(env.seconds / 2.0, traced = true, phase = 1)
      val (a50, a90, aq) = load.summary(a0, b0)
      val (b50, b90, bq) = load.summary(b0, Long.MaxValue)
      r.layer("trace.overhead.op_p50_ms", b50 - a50)
      r.layer("trace.overhead.op_tail_ms", b90 - a90)
      r.layer("trace.overhead.ops_per_s", bq - aq)
      load.layerMetrics(b0)
      env.log("replayed layers, median ms per request:\n" + load.breakdown())
    }
  }
}

/** `serve`: read-only HTTP load over a static layout. The layout is
  * written once; the timed set-up is what a restarted server does: open
  * the store ([[Ingest.readLayout]]) and start [[ApiHttp]]. */
object ServeWorkload {
  def run(env: Env): Unit = {
    val c = Serving.corpus(env.seed)
    val layout = env.dir("serve").getAbsolutePath + "/layout"
    val w0 = System.nanoTime()
    env.inGroup("layout-write")(Serving.writeLayout(env, c, layout))
    val writeS = (System.nanoTime() - w0) / 1e9
    env.log(f"layout: ${c.samples} samples written in $writeS%.2f s")
    val (store, api) = env.timedSetups(5) { _ =>
      val store = Ingest.readLayout(env.spark, layout)
      val api = new ApiHttp(store, 0)
      api.start()
      (store, api)
    } { case (_, a) => a.stop() }
    try {
      val mix = new Mix(c)
      val load = new QueryLoad(env, api.boundPort, () => store,
        s => new Mix.Deck(mix.generators, s), Serving.Clients)
      val rng = new java.util.SplittableRandom(env.seed ^ 0x5eedL)
      Serving.measure(env, load, mix.generators.map(_._2(rng)))
      env.result.liveHeap()
    } finally api.stop()
    if (env.trace) env.result.layer("serve.layout_write_s", writeS)
  }
}
