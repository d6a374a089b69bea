package graftbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one run of one workload has to work with. */
final class Env(val spark: SparkSession, val work: File, val seed: Long,
                val seconds: Int, val trace: Boolean,
                val counters: SparkCounters) {
  val tracer = new Tracer(trace)
  val result = new Result

  private val born = System.nanoTime()
  def log(msg: String): Unit =
    System.err.println(f"[perfbench +${(System.nanoTime() - born) / 1e9}%.1fs] $msg")

  def dir(name: String): File = { val d = new File(work, name); d.mkdirs(); d }

  /** Run `body` with a Spark job group, so [[SparkCounters]] attributes
    * its jobs to `group`. */
  def inGroup[T](group: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group, interruptOnCancel = false)
    try body finally sc.clearJobGroup()
  }

  def drainListeners(): Unit =
    org.apache.spark.GraftBenchAccess.drainListeners(spark.sparkContext)

  /** Time `reps` fresh set-ups and keep the last one's product. */
  def timedSetups[T](reps: Int)(setup: Int => T)(dispose: T => Unit): T = {
    var kept: Option[T] = None
    val secs = (0 until reps).map { r =>
      kept.foreach(dispose)
      val t0 = System.nanoTime()
      kept = Some(setup(r))
      (System.nanoTime() - t0) / 1e9
    }
    log(f"set-ups: ${secs.map(s => f"$s%.3f").mkString(", ")} s")
    result.e2e("setup_s", Stats.median(secs), "s")
    kept.get
  }
}

/** Outcome of a run: operation counts, correctness, metrics. */
final class Result {
  var attempted = 0L
  var failed = 0L
  /** Set when an output that completed without error was wrong. */
  var incorrect: List[String] = Nil
  val e2eMetrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layerMetrics = mutable.LinkedHashMap.empty[String, (Double, String)]

  def e2e(name: String, v: Double, unit: String): Unit =
    synchronized { e2eMetrics(name) = (v, unit) }
  def layer(name: String, v: Double): Unit =
    synchronized { layerMetrics(name) = (v, Metrics.unitOf(name)) }
  def attempt(ok: Boolean): Unit = synchronized {
    attempted += 1; if (!ok) failed += 1
  }
  def wrong(msg: String): Unit = synchronized {
    if (incorrect.size < 20) incorrect = msg :: incorrect
  }

  /** Record `live_heap_mb`: the heap still in use right after a full
    * collection, taken where a workload's state is at its largest (the
    * end of its timed phase). It does not depend on the heap size the
    * JVM was given. */
  def liveHeap(): Unit = {
    // Spark's ContextCleaner drops shuffle, broadcast and RDD state of
    // collected objects asynchronously after a collection: collect, let
    // it run, collect again
    System.gc()
    Thread.sleep(500)
    System.gc()
    val used = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed
    e2e("live_heap_mb", used / 1048576.0, "MB")
  }
}
