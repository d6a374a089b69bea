package graftbench

import java.nio.charset.StandardCharsets.UTF_8

/** Closed-form series corpus. Series are `<metric> dc=dc<h%4> host=h<h>`
  * for every (metric, host) pair; sample `i` of a series sits at
  * `t0 + i * stepNs` and carries an integer value in [0, 1000) that is a
  * pure function of (seed, metric, host, i). Integer values keep every
  * sum exact in a double, so any aggregate over any range has exactly
  * one correct answer that the checker computes without touching graft.
  *
  * Event series `!deploy host=h<h>` carry `events` string bodies each,
  * evenly spread over the corpus span.
  */
final class Corpus(val seed: Long, val metricNames: IndexedSeq[String],
                   val hosts: Int, val stepNs: Long, val slots: Int,
                   val events: Int = 0) {
  import Corpus._

  val t0: Long = T0
  val nSeries: Int = metricNames.size * hosts
  val samples: Long = nSeries.toLong * slots
  val seedMix: Long = (seed * 0x9E3779B97F4A7C15L) >>> 33

  def host(h: Int): String = f"h$h%03d"
  def dc(h: Int): String = s"dc${h % 4}"
  def sname(m: Int, h: Int): String =
    s"${metricNames(m)} dc=${dc(h)} host=${host(h)}"
  def ts(i: Long): Long = t0 + i * stepNs
  def value(m: Int, h: Int, i: Long): Long =
    ((i * 2654435761L + h * 40503L + m * 9973L + seedMix) & 0x7fffffffL) % 1000L

  /** [[value]] as a Spark SQL expression over columns `m`, `h`, `i`. */
  def valueSql: String =
    s"((i * 2654435761L + h * 40503L + m * 9973L + ${seedMix}L) & 2147483647L) % 1000L"

  def eventName(h: Int): String = s"!deploy host=${host(h)}"
  def eventTs(h: Int, j: Int): Long =
    t0 + (j.toLong * slots / math.max(events, 1)) * stepNs + h * 1000L
  def eventBody(h: Int, j: Int): String = s"deploy-${seed % 97}-$h-$j"

  /** Series index -> (metric, host), metric-major. */
  def seriesAt(s: Int): (Int, Int) = (s / hosts, s % hosts)

  /** One dictionary-coded RESP session: a `*2n` prelude naming the
    * session's series, then `:id / :ts / :value` triples for slots
    * [from, until) of every listed series, slot-major. */
  def renderSession(series: IndexedSeq[Int], from: Long, until: Long): Array[Byte] = {
    val sb = new java.lang.StringBuilder(
      (series.size * (until - from) * 28 + series.size * 40).toInt)
    sb.append('*').append(series.size * 2).append(CRLF)
    series.indices.foreach { k =>
      val (m, h) = seriesAt(series(k))
      sb.append('+').append(sname(m, h)).append(CRLF)
        .append(':').append(k).append(CRLF)
    }
    var i = from
    while (i < until) {
      val t = ts(i)
      var k = 0
      while (k < series.size) {
        val (m, h) = seriesAt(series(k))
        sb.append(':').append(k).append(CRLF)
          .append(':').append(t).append(CRLF)
          .append(':').append(value(m, h, i)).append(CRLF)
        k += 1
      }
      i += 1
    }
    sb.toString.getBytes(UTF_8)
  }

  /** The event series as one RESP session. */
  def renderEvents(): Array[Byte] = {
    val sb = new java.lang.StringBuilder()
    for (h <- 0 until hosts; j <- 0 until events)
      sb.append('+').append(eventName(h)).append(CRLF)
        .append(':').append(eventTs(h, j)).append(CRLF)
        .append('+').append(eventBody(h, j)).append(CRLF)
    sb.toString.getBytes(UTF_8)
  }

  /** Checksum of slots [from, until) of the given series. */
  def checksum(series: IndexedSeq[Int], from: Long, until: Long): Checksum = {
    val c = new Checksum
    series.foreach { s =>
      val (m, h) = seriesAt(s)
      val name = sname(m, h)
      var i = from
      while (i < until) { c.add(name, i, value(m, h, i)); i += 1 }
    }
    c
  }
}

object Corpus {
  val CRLF = "\r\n"
  /** Day-aligned origin (2023-12-09T00:00Z) so each corpus day is one
    * layout day partition. */
  val T0: Long = 19700L * 86400L * 1000000000L
  val Day: Long = 86400L * 1000000000L
}

/** Order-independent checksum of a sample multiset: row count, value sum,
  * slot-index sum, and a sum of per-row hashes (mod 2^64) over
  * (sname, slot, value). The same fold is computed by Spark over the
  * stored layout in [[Checksum.ofStore]]. */
final class Checksum {
  var rows = 0L; var valueSum = 0L; var slotSum = 0L; var hashSum = 0L
  def add(sname: String, slot: Long, value: Long): Unit = {
    rows += 1; valueSum += value; slotSum += slot
    hashSum += Checksum.rowHash(sname, slot, value)
  }
  def merge(o: Checksum): Unit = {
    rows += o.rows; valueSum += o.valueSum; slotSum += o.slotSum
    hashSum += o.hashSum
  }
  override def equals(o: Any): Boolean = o match {
    case c: Checksum => rows == c.rows && valueSum == c.valueSum &&
      slotSum == c.slotSum && hashSum == c.hashSum
    case _ => false
  }
  override def hashCode: Int = (rows ^ hashSum).toInt
  override def toString: String =
    s"rows=$rows value_sum=$valueSum slot_sum=$slotSum hash_sum=$hashSum"
}

object Checksum {
  def rowHash(sname: String, slot: Long, value: Long): Long = {
    val b = sname.getBytes(UTF_8)
    var h = 1469598103934665603L
    var k = 0
    while (k < b.length) { h = (h ^ (b(k) & 0xff)) * 1099511628211L; k += 1 }
    h = (h ^ slot) * 1099511628211L
    (h ^ value) * 1099511628211L
  }

  /** The checksum of one metric family as stored (value-bearing samples
    * only), computed inside Spark: each partition folds its rows, then the
    * partition results are added up. */
  def ofStore(samples: org.apache.spark.sql.DataFrame, metrics: Seq[String],
              t0: Long, stepNs: Long): Checksum = {
    import org.apache.spark.sql.functions._
    val spark = samples.sparkSession
    import spark.implicits._
    val rows = samples.filter(col("metric").isin(metrics: _*) &&
        col("event").isNull)
      .select(col("sname"), ((col("ts") - lit(t0)) / lit(stepNs)).cast("long"),
        col("value").cast("long"))
      .as[(String, Long, Long)]
    val parts = rows.mapPartitions { it =>
      val c = new Checksum
      it.foreach { case (s, i, v) => c.add(s, i, v) }
      Iterator((c.rows, c.valueSum, c.slotSum, c.hashSum))
    }.collect()
    val out = new Checksum
    parts.foreach { case (r, v, s, h) =>
      out.rows += r; out.valueSum += v; out.slotSum += s; out.hashSum += h }
    out
  }
}
