package graftbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: `graftbench.Main --workload <name> --seed <n>
  * --seconds <s> --trace <0|1> --work <dir> [--traces <dir>]
  * [--data <dir>]`. Logs go to stderr; the last stdout line
  * is the result object. */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing $k"))
    val workload = opt("--workload")
    val data = new File(opts.getOrElse("--data", "perfbench/data"))
    val run: Env => Unit = workload match {
      case "ingest" => IngestWorkload.run
      case "serve" => ServeWorkload.run
      case "live" => LiveWorkload.run
      case "batch" => BatchWorkload.run(_, data)
      case other => sys.error(s"unknown workload $other (ingest, serve, live, batch)")
    }
    val seed = opt("--seed").toLong
    val seconds = opt("--seconds").toInt
    val trace = opt("--trace") == "1"
    val work = new File(opt("--work")); work.mkdirs()
    val nproc = Runtime.getRuntime.availableProcessors()

    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val counters = new SparkCounters
    spark.sparkContext.addSparkListener(counters)
    val env = new Env(spark, work, seed, seconds, trace, counters)
    try {
      run(env)
    } catch {
      case t: Throwable =>
        t.printStackTrace()
        System.err.flush()
        sys.exit(1)
    }
    try {
      if (trace) opts.get("--traces").foreach { d =>
        val dir = new File(d); dir.mkdirs()
        env.tracer.write(new File(dir, s"$workload-$seed.jsonl"))
        val self = Trace.selfByName(env.tracer.all).toSeq.sortBy(-_._2._1)
        env.log("self time by span (ms total, calls):\n" + self.map {
          case (n, (ms, k)) => f"  $n%-24s $ms%12.1f $k%6d" }.mkString("\n"))
      }
    } finally spark.stop()
    println(render(env.result, trace))
    System.out.flush()
    // the HTTP server's worker pool keeps non-daemon threads alive for a
    // minute after stop(); do not wait for them
    sys.exit(0)
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  /** The result object: every end-to-end metric (tracing off) or every
    * per-layer metric (tracing on). */
  def render(r: Result, trace: Boolean): String = {
    val (names, have) =
      if (trace) (Metrics.perLayer, r.layerMetrics)
      else (Metrics.endToEnd, r.e2eMetrics)
    val missing = names.map(_._1).filterNot(have.contains)
    if (!trace && missing.nonEmpty)
      sys.error(s"workload did not measure ${missing.mkString(", ")}")
    val ms = names.map { case (n, u) =>
      val v = have.get(n).map(_._1).getOrElse(0.0)
      s""""$n":{"value":${num(v)},"unit":"$u"}"""
    }
    r.incorrect.reverse.foreach(w => System.err.println(s"[perfbench] WRONG $w"))
    s"""{"correct":${r.incorrect.isEmpty},"attempted":${math.max(1L, r.attempted)},""" +
      s""""failed":${r.failed},"metrics":{${ms.mkString(",")}}}"""
  }
}
