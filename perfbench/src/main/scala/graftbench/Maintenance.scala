package graftbench

import java.io.File
import java.net.Socket
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import graft.io.{RunLog, WireIngest}

/** The write path a deployment runs around [[WireIngest]]: sessions land
  * in the spool, and a maintenance loop rotates the spool, spools the
  * sessions into run files ([[RunLog.spoolResp]]) and folds the runs into
  * the layout ([[RunLog.foldRuns]]). Every call is timed, counted and
  * attributed to a Spark job group (`spool-<root>-<n>`, `fold-<root>-<n>`).
  *
  * Each writer connection has a server of its own (`conns` of them, each
  * with its own spool directory), so a writer's ack counts only its own
  * sessions, and a session's spool file names it exactly:
  * `tcp-<nonce>-<n>.resp` is the `n`-th session of that server. */
final class WritePath(env: Env, root: File, flattenTags: Seq[String],
                      conns: Int = 1) {
  private val spools: IndexedSeq[File] = (0 until conns).map { k =>
    val d = new File(root, s"spool/c$k"); d.mkdirs(); d
  }
  val runs: String = new File(root, "runs").getAbsolutePath
  val layout: String = new File(root, "layout").getAbsolutePath
  private val servers = spools.map { d => val w = new WireIngest(d); w.start(); w }

  /** Sessions closed per connection. */
  private val closed = Array.fill(conns)(new AtomicLong())
  /** Sessions known to be published, over all connections. */
  val acked = new AtomicLong()
  /** Sessions folded into the layout. */
  val folded = new AtomicLong()
  val backlogMax = new AtomicLong()

  /** (start, end, sessions, samples, run bytes) of each spool call and
    * (start, end, sessions, samples, files landed) of each fold call. */
  val spoolCalls = new ConcurrentLinkedQueue[(Long, Long, Int, Long, Long)]()
  val foldCalls = new ConcurrentLinkedQueue[(Long, Long, Int, Long, Long)]()
  /** (connection, session number) -> end of the fold that committed the
    * session's spool file to the layout. */
  private val commits = new ConcurrentHashMap[(Int, Long), Long]()
  private val gen = new AtomicInteger()
  private val tag = root.getName

  /** Send one session on a fresh connection to server `conn` and wait
    * until that server has published it (the ack). Returns (session
    * number, first byte, close, ack) with nanoTimes. One writer per
    * connection: the session number is the server's publish count. */
  def send(conn: Int, bytes: Array[Byte]): (Long, Long, Long, Long) = {
    val server = servers(conn)
    val sock = new Socket("127.0.0.1", server.tcpBoundPort)
    val t0 = System.nanoTime()
    sock.getOutputStream.write(bytes)
    sock.close()
    val t1 = System.nanoTime()
    val mine = closed(conn).incrementAndGet()
    val deadline = t1 + 60L * 1000000000L
    while (server.sessionsPublished < mine) {
      if (System.nanoTime() > deadline)
        throw new IllegalStateException(s"session $conn/$mine not published in 60 s")
      Thread.sleep(0, 200000)
    }
    val t2 = System.nanoTime()
    acked.incrementAndGet()
    (mine, t0, t1, t2)
  }

  /** (connection, spool file) of every published session not yet
    * rotated out of the spool. */
  private def spoolFiles(): IndexedSeq[(Int, File)] =
    spools.indices.flatMap { k =>
      Option(spools(k).listFiles()).getOrElse(Array.empty[File])
        .filter(_.getName.endsWith(".resp")).map(k -> _)
    }

  /** The session number in a spool file name `tcp-<nonce>-<n>.resp`. */
  private def sessionNo(f: File): Long =
    f.getName.stripSuffix(".resp").split('-').last.toLong

  private def dirBytes(path: String, suffix: String): (Long, Int) = {
    val d = new File(path).toPath
    if (!java.nio.file.Files.exists(d)) (0L, 0)
    else {
      val s = java.nio.file.Files.walk(d)
      try {
        val fs = s.iterator().asScala.filter(f =>
          java.nio.file.Files.isRegularFile(f) &&
            f.getFileName.toString.endsWith(suffix)).toSeq
        (fs.map(java.nio.file.Files.size).sum, fs.size)
      } finally s.close()
    }
  }

  def layoutBytes: Long = dirBytes(layout, ".parquet")._1

  /** One maintenance cycle: rotate, spool, fold. `samplesPerSession`
    * converts session counts to sample counts for the rate metrics.
    * Returns whether there was anything to do. */
  def cycle(samplesPerSession: Long): Boolean = {
    val files = spoolFiles()
    if (files.isEmpty) false
    else {
      val n = gen.incrementAndGet()
      val genDir = new File(root, s"gen$n"); genDir.mkdirs()
      // the connection prefix keeps two servers' names apart
      val taken = files.filter { case (k, f) =>
        f.renameTo(new File(genDir, s"c$k-${f.getName}")) }
      val moved = taken.size
      val samples = moved * samplesPerSession
      backlogMax.accumulateAndGet(acked.get() - folded.get(), math.max)
      env.tracer.span("maintenance.cycle", n.toLong) {
        val s0 = System.nanoTime()
        val runsBefore = dirBytes(runs, ".grun")._1
        env.tracer.span("io.RunLog.spoolResp", n.toLong) {
          env.inGroup(s"spool-$tag-$n") {
            RunLog.spoolResp(env.spark, genDir.getAbsolutePath, runs, flattenTags)
          }
        }
        val s1 = System.nanoTime()
        val runBytes = dirBytes(runs, ".grun")._1 - runsBefore
        spoolCalls.add((s0, s1, moved, samples, runBytes))
        val filesBefore = dirBytes(layout, ".parquet")._2
        val f0 = System.nanoTime()
        env.tracer.span("io.RunLog.foldRuns", n.toLong) {
          env.inGroup(s"fold-$tag-$n") {
            RunLog.foldRuns(env.spark, runs, layout, flattenTags)
          }
        }
        val f1 = System.nanoTime()
        taken.foreach { case (k, f) => commits.put((k, sessionNo(f)), f1) }
        folded.addAndGet(moved)
        foldCalls.add((f0, f1, moved, samples,
          (dirBytes(layout, ".parquet")._2 - filesBefore).toLong))
      }
      genDir.listFiles().foreach(_.delete()); genDir.delete()
      true
    }
  }

  /** When session `n` of connection `conn` was committed to the layout. */
  def committedAt(conn: Int, n: Long): Option[Long] =
    Option(commits.get((conn, n)))

  /** Run cycles until `stop()` says so and the spool is drained. */
  def loop(samplesPerSession: Long, stop: () => Boolean): Unit =
    while (!(stop() && spoolFiles().isEmpty && folded.get() >= acked.get()))
      if (!cycle(samplesPerSession)) Thread.sleep(2)

  /** Layer metrics of the spool/fold calls that started at or after
    * `from` (nanoTime). */
  def layerMetrics(from: Long, totalSamples: Long): Unit = {
    val r = env.result
    val sp = spoolCalls.asScala.filter(_._1 >= from).toSeq
    val fo = foldCalls.asScala.filter(_._1 >= from).toSeq
    val spBusy = sp.map(c => c._2 - c._1).sum / 1e9
    val foBusy = fo.map(c => c._2 - c._1).sum / 1e9
    val spSamples = sp.map(_._4).sum.toDouble
    val foSamples = fo.map(_._4).sum.toDouble
    r.layer("spool.busy_s", spBusy)
    r.layer("spool.calls", sp.size)
    r.layer("spool.samples_per_s", if (spBusy > 0) spSamples / spBusy else 0)
    r.layer("spool.run_bytes_per_sample",
      if (spSamples > 0) sp.map(_._5).sum / spSamples else 0)
    r.layer("fold.busy_s", foBusy)
    r.layer("fold.calls", fo.size)
    r.layer("fold.samples_per_s", if (foBusy > 0) foSamples / foBusy else 0)
    r.layer("fold.files_landed", fo.map(_._5).sum)
    r.layer("fold.layout_bytes_per_sample",
      if (totalSamples > 0) layoutBytes.toDouble / totalSamples else 0)
    r.layer("ingest.backlog_max_sessions", backlogMax.get())
    env.drainListeners()
    r.layer("spark.spool.tasks", env.counters.sum(s"spool-$tag-").tasks)
    val fc = env.counters.sum(s"fold-$tag-")
    r.layer("spark.fold.shuffle_write_bytes", fc.shuffleWriteBytes)
    r.layer("spark.fold.spill_bytes", fc.spillBytes)
    r.layer("spark.fold.gc_ms", fc.gcMs)
  }

  def stop(): Unit = servers.foreach(_.stop())
}
