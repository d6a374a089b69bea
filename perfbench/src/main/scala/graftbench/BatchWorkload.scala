package graftbench

import java.io.File

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Bench, GateNorm, SparkEntry}
import graft.sources.TestData

/** `batch`: passes over a fixed set of oracle-gated queries on the
  * bundled sf0.01 fixture tables, each timed with `Bench.timedTerminal`.
  * The seed only permutes the order. An untimed first pass, as many gates
  * at a time as there are cores, compiles every gate's code and checks
  * each gate's output against the (rows, digest) pair recorded in
  * `data/batch_digests.tsv`; without it the cold pass made the timings
  * depend on which gates the seed put first. A mismatch logs the pair it
  * got, so after a deliberate change of a gate's output (checked against
  * DuckDB with `Verify` + `scripts/check.py`) the file is edited by hand.
  *
  * Gates that keep scratch state under a fixed system-temp path
  * (ts_meta_names_where's series-dimension cache, ts_rollup_update's and
  * embed_e2e_serving's materialised layouts) are left out: the benchmark
  * reads and writes only inside its own checkout. */
object BatchWorkload {
  val Gates: Seq[String] = Seq("ts_select", "ts_group_aggregate", "ts_join",
    "ts_group_by_tag", "ts_outlier_mad",
    "doc_dedup_pipeline", "doc_lsh_recall", "doc_neardup_clusters",
    "embed_knn_clusters", "embed_knn_graph_ivf", "bpe_encode")

  val DigestFile = "batch_digests.tsv"

  /** Order-independent (rows, digest) of a gate's output after the
    * oracle normalisation (`GateNorm.quantize`). */
  def digest(df: DataFrame): (Long, Long) = {
    val q = GateNorm.quantize(df)
    val cols = q.schema.fields.toSeq.map { f =>
      def hasMap(t: DataType): Boolean = t match {
        case _: MapType => true
        case a: ArrayType => hasMap(a.elementType)
        case s: StructType => s.fields.exists(x => hasMap(x.dataType))
        case _ => false
      }
      if (hasMap(f.dataType)) to_json(col(f.name)) else col(f.name)
    }
    val h = xxhash64(cols: _*)
    val row = q.agg(count(lit(1)), bit_xor(h), sum(pmod(h, lit(1000000007L)))).head()
    (row.getLong(0), row.getLong(1) ^ (row.getLong(2) * 0x9E3779B97F4A7C15L))
  }

  def readDigests(f: File): Map[String, (Long, Long)] =
    if (!f.exists()) Map.empty
    else {
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
        val Array(n, rows, d) = l.split("\t")
        n -> (rows.toLong, d.toLong)
      }.toMap
      finally src.close()
    }

  def run(env: Env, data: File): Unit = {
    val sf = new File(data, "sf0.01").getAbsolutePath
    val spark = env.spark
    val r = env.result
    val rng = new java.util.SplittableRandom(env.seed)
    val order = scala.util.Random.javaRandomToRandom(
      new java.util.Random(rng.nextLong())).shuffle(Gates)

    // set-up: build the events store from the fixture and force it
    val build = (0 until 3).map { rep =>
      val t0 = System.nanoTime()
      env.inGroup(s"setup-$rep") {
        Bench.forceTimed(TestData.events(spark, sf).samples)
      }
      (System.nanoTime() - t0) / 1e9
    }
    env.log(s"set-ups: ${build.map(s => f"$s%.3f").mkString(", ")} s")
    r.e2e("setup_s", Stats.median(build), "s")

    // the untimed first pass: every gate once, as many at a time as
    // there are cores, its output checked against the recorded digest
    val want = readDigests(new File(data, DigestFile))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      Runtime.getRuntime.availableProcessors())
    val got = try {
      order.map { g =>
        g -> pool.submit(new java.util.concurrent.Callable[(Long, Long)] {
          def call(): (Long, Long) =
            env.inGroup(s"digest-$g")(digest(SparkEntry.queries(g)(spark, sf)))
        })
      }.flatMap { case (g, f) =>
        try Some(g -> f.get())
        catch { case e: java.util.concurrent.ExecutionException =>
          env.log(s"$g failed: ${e.getCause}"); None }
      }.toMap
    } finally pool.shutdown()
    val walls = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Double, Long)]
    val t0 = System.nanoTime()
    val deadline = t0 + env.seconds * 1000000000L
    val traceFrom = if (env.trace) t0 + env.seconds * 500000000L else Long.MaxValue
    var pass = 0
    while (pass == 0 || System.nanoTime() < deadline) {
      order.foreach { g =>
        val s = System.nanoTime()
        if (s >= traceFrom) env.tracer.enabled = true
        val ok =
          try {
            env.inGroup(s"gate-$g-$pass") {
              env.tracer.span(s"gate.$g", pass.toLong) {
                Bench.timedTerminal(g, SparkEntry.queries(g)(spark, sf))
              }
            }
            true
          } catch {
            case e: Exception =>
              env.log(s"$g failed: $e"); false
          }
        walls += ((pass, g, (System.nanoTime() - s) / 1e9, s))
        r.attempt(ok)
      }
      pass += 1
    }
    r.liveHeap()

    Gates.foreach { g =>
      (got.get(g), want.get(g)) match {
        case (Some(a), Some(b)) if a == b => ()
        case (a, b) => r.wrong(s"$g: (rows, digest) $a, recorded $b")
      }
    }

    def summary(ws: Seq[(Int, String, Double, Long)]) =
      Stats.byKind(ws.map(w => (w._2, w._3 * 1000.0)))
    val (p50, tail) = summary(walls.filter(_._4 < traceFrom).toSeq)
    r.e2e("op_p50_ms", p50, "ms")
    r.e2e("op_tail_ms", tail, "ms")
    r.e2e("ops_per_s", walls.size / walls.map(_._3).sum, "1/s")
    val passSums = walls.groupBy(_._1).values.filter(_.size == Gates.size)
      .map(_.map(_._3).sum).toSeq
    env.log(f"batch: $pass passes, pass walls ${passSums.map(s => f"$s%.2f").mkString(", ")} s")
    if (env.trace) {
      r.layer("testdata.events_build_ms", Stats.median(build) * 1000.0)
      r.layer("batch.wall_s", Stats.p50(passSums))
      Gates.foreach { g =>
        r.layer(s"batch.${g}_s", Stats.p50(walls.filter(_._2 == g).map(_._3).toSeq))
      }
      env.drainListeners()
      def fam(p: String => Boolean) = {
        val cs = Gates.filter(p).map(g => env.counters.sum(s"gate-$g-"))
        (cs.map(_.stages).sum / pass.toDouble, cs.map(_.shuffleWriteBytes).sum / pass.toDouble)
      }
      val (tsSt, tsSh) = fam(_.startsWith("ts_"))
      val (llSt, llSh) = fam(g => !g.startsWith("ts_"))
      r.layer("batch.ts.stages", tsSt); r.layer("batch.ts.shuffle_bytes", tsSh)
      r.layer("batch.llm.stages", llSt); r.layer("batch.llm.shuffle_bytes", llSh)
      val (t50, tTail) = summary(walls.filter(_._4 >= traceFrom).toSeq)
      r.layer("trace.overhead.op_p50_ms", t50 - p50)
      r.layer("trace.overhead.op_tail_ms", tTail - tail)
      r.layer("trace.overhead.ops_per_s", 0.0)
    }
  }
}
