package graftbench

/** One generated request and the only response that is correct for it. */
final case class Request(kind: String, json: String,
                         expected: () => IndexedSeq[String])

/** The serving query mix over a [[Corpus]], with each request's exact
  * expected response (CSV, raw timestamps) derived from the corpus's
  * closed form. `extraNames` are further series the store holds that a
  * `meta:names` listing must include (the live stream's series). */
final class Mix(c: Corpus, extraNames: Seq[(String, Int)] = Nil) {
  import Mix._

  private val Out = """"output":{"format":"csv","timestamp":"raw"}"""
  private val minute = 60L * 1000000000L
  private def slotsFor(ns: Long): Int = math.max(1, (ns / c.stepNs).toInt)
  private def rangeJson(from: Long, to: Long) =
    s""""range":{"from":$from,"to":$to}"""
  private def fmt(v: Long): String = v.toString

  private def line(cells: Any*): String = cells.mkString(",")

  /** Time-major rows over slots [a, b) of the given hosts of metric m. */
  private def selectRows(m: Int, hs: Seq[Int], a: Long, b: Long) = {
    val names = hs.map(h => (c.sname(m, h), h)).sortBy(_._1)
    (a until b).flatMap { i =>
      names.map { case (n, h) => line(n, c.ts(i), fmt(c.value(m, h, i))) }
    }
  }

  def narrowSelect(r: java.util.SplittableRandom): Request = {
    val m = r.nextInt(c.metricNames.size)
    val h1 = r.nextInt(c.hosts)
    val h2 = (h1 + 1 + r.nextInt(c.hosts - 1)) % c.hosts
    val w = slotsFor(10 * minute)
    val a = r.nextInt(c.slots - w + 1).toLong
    Request(NarrowSelect,
      s"""{"select":"${c.metricNames(m)}","where":{"host":["${c.host(h1)}","${c.host(h2)}"]},""" +
        s"""${rangeJson(c.ts(a), c.ts(a + w))},$Out}""",
      () => selectRows(m, Seq(h1, h2), a, a + w))
  }

  def wideSelect(r: java.util.SplittableRandom): Request = {
    val m = r.nextInt(c.metricNames.size)
    val w = slotsFor(60 * minute)
    val a = r.nextInt(c.slots - w + 1).toLong
    Request(WideSelect,
      s"""{"select":"${c.metricNames(m)}",${rangeJson(c.ts(a), c.ts(a + w))},$Out}""",
      () => selectRows(m, 0 until c.hosts, a, a + w))
  }

  private def sumOf(m: Int, h: Int): Long = {
    var s = 0L; var i = 0L
    while (i < c.slots) { s += c.value(m, h, i); i += 1 }
    s
  }

  def aggregate(r: java.util.SplittableRandom): Request = {
    val m = r.nextInt(c.metricNames.size)
    val name = c.metricNames(m)
    Request(Aggregate,
      s"""{"aggregate":{"$name":"sum"},${rangeJson(c.t0, c.ts(c.slots))},$Out}""",
      () => (0 until c.hosts).map { h =>
        (s"$name:sum dc=${c.dc(h)} host=${c.host(h)}", sumOf(m, h))
      }.sortBy(_._1).map { case (n, s) => line(n, c.ts(c.slots - 1), fmt(s)) })
  }

  def groupAggregate(r: java.util.SplittableRandom): Request = {
    val m = r.nextInt(c.metricNames.size)
    val name = c.metricNames(m)
    val step = slotsFor(10 * minute)
    Request(GroupAggregate,
      s"""{"group-aggregate":{"metric":"$name","step":"10m","func":["sum","max"]},""" +
        s"""${rangeJson(c.t0, c.ts(c.slots))},$Out}""",
      () => {
        val names = (0 until c.hosts).map(h =>
          (s"$name:sum|$name:max dc=${c.dc(h)} host=${c.host(h)}", h)).sortBy(_._1)
        (0L until c.slots by step.toLong).flatMap { b =>
          names.map { case (n, h) =>
            val vs = (b until math.min(b + step, c.slots)).map(c.value(m, h, _))
            line(n, c.ts(b), fmt(vs.sum), fmt(vs.max))
          }
        }
      })
  }

  def join(r: java.util.SplittableRandom): Request = {
    val a = r.nextInt(c.metricNames.size)
    val b = (a + 1 + r.nextInt(c.metricNames.size - 1)) % c.metricNames.size
    val (na, nb) = (c.metricNames(a), c.metricNames(b))
    val w = slotsFor(60 * minute)
    val s0 = r.nextInt(c.slots - w + 1).toLong
    Request(Join,
      s"""{"join":["$na","$nb"],${rangeJson(c.ts(s0), c.ts(s0 + w))},$Out}""",
      () => {
        val names = (0 until c.hosts).map(h =>
          (s"$na|$nb dc=${c.dc(h)} host=${c.host(h)}", h)).sortBy(_._1)
        (s0 until s0 + w).flatMap { i =>
          names.map { case (n, h) =>
            line(n, c.ts(i), fmt(c.value(a, h, i)), fmt(c.value(b, h, i)))
          }
        }
      })
  }

  def aggregateByTag(r: java.util.SplittableRandom): Request = {
    val m = r.nextInt(c.metricNames.size)
    val name = c.metricNames(m)
    Request(AggregateByTag,
      s"""{"aggregate":{"$name":"sum"},"group-by-tag":["host"],""" +
        s"""${rangeJson(c.t0, c.ts(c.slots))},$Out}""",
      () => (0 until c.hosts).groupBy(c.dc).toSeq.map { case (d, hs) =>
        (s"$name:sum dc=$d", hs.map(sumOf(m, _)).sum)
      }.sortBy(_._1).map { case (n, s) => line(n, c.ts(c.slots - 1), fmt(s)) }
        .toIndexedSeq)
  }

  def metaNames(r: java.util.SplittableRandom): Request = {
    val d = r.nextInt(4)
    Request(MetaNames,
      s"""{"select":"meta:names","where":{"dc":["dc$d"]},$Out}""",
      () => {
        val base = for (m <- c.metricNames.indices; h <- 0 until c.hosts
                        if h % 4 == d) yield c.sname(m, h)
        val extra = extraNames.collect { case (n, h) if h % 4 == d => n }
        (base ++ extra).sorted
      })
  }

  def selectEvents(r: java.util.SplittableRandom): Request = {
    val span = c.ts(c.slots) - c.t0
    val w = span / 4
    val a = c.t0 + (r.nextLong() & Long.MaxValue) % (span - w)
    Request(SelectEvents,
      s"""{"select-events":"!deploy",${rangeJson(a, a + w)},$Out}""",
      () => (for (h <- 0 until c.hosts; j <- 0 until c.events
                  if c.eventTs(h, j) >= a && c.eventTs(h, j) < a + w)
        yield (c.eventTs(h, j), c.eventName(h), c.eventBody(h, j)))
        .sortBy(t => (t._1, t._2))
        .map { case (t, n, b) => line(n, t, b) })
  }

  val generators: IndexedSeq[(String, java.util.SplittableRandom => Request)] =
    IndexedSeq(NarrowSelect -> narrowSelect, WideSelect -> wideSelect,
      Aggregate -> aggregate, GroupAggregate -> groupAggregate,
      Join -> join, AggregateByTag -> aggregateByTag,
      MetaNames -> metaNames, SelectEvents -> selectEvents)
}

object Mix {
  val NarrowSelect = "narrow_select"
  val WideSelect = "wide_select"
  val Aggregate = "aggregate"
  val GroupAggregate = "group_aggregate"
  val Join = "join"
  val AggregateByTag = "aggregate_by_tag"
  val MetaNames = "meta_names"
  val SelectEvents = "select_events"
  val Kinds: Seq[String] = Seq(NarrowSelect, WideSelect, Aggregate,
    GroupAggregate, Join, AggregateByTag, MetaNames, SelectEvents)

  /** Draws requests deck by deck: every deck holds each kind once in a
    * seeded order, so the kind proportions of a run do not depend on the
    * seed and per-run percentiles stay comparable. */
  final class Deck(gens: IndexedSeq[(String, java.util.SplittableRandom => Request)],
                   seed: Long) {
    private val rng = new java.util.SplittableRandom(seed)
    private var deck: List[Int] = Nil
    /** True between decks: stopping here keeps the run's mix exact. */
    def atDeckStart: Boolean = deck.isEmpty
    def next(): Request = {
      if (deck.isEmpty) {
        val a = gens.indices.toArray
        var i = a.length - 1
        while (i > 0) {
          val j = rng.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
          i -= 1
        }
        deck = a.toList
      }
      val k = deck.head; deck = deck.tail
      gens(k)._2(rng)
    }
  }

  /** Compares a response body with the expected lines; returns the
    * first difference, or None when they are identical. */
  def check(body: String, expected: IndexedSeq[String]): Option[String] = {
    val got = body.split("\r\n", -1).toIndexedSeq.filter(_.nonEmpty)
    got.find(_.startsWith("-")) match {
      case Some(err) => Some(s"in-band error: ${err.take(160)}")
      case None =>
        if (got == expected) None
        else {
          val i = got.indices.find(k => k >= expected.size || got(k) != expected(k))
            .getOrElse(got.size)
          Some(s"${got.size} lines, expected ${expected.size}; first difference " +
            s"at line $i: got '${got.lift(i).getOrElse("<end>")}', " +
            s"expected '${expected.lift(i).getOrElse("<end>")}'")
        }
    }
  }
}
