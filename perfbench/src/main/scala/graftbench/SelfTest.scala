package graftbench

import java.io.File

/** Tests of the harness's own logic (no Spark needed):
  * `python3 perfbench/run.py --selftest`. Exits non-zero on a failure. */
object SelfTest {
  private var failures = 0
  private def check(name: String)(body: => Unit): Unit =
    try { body; println(s"ok   $name") }
    catch { case t: Throwable => failures += 1; println(s"FAIL $name: $t") }
  private def eq[T](got: T, want: T): Unit =
    if (got != want) throw new AssertionError(s"got $got, want $want")

  def main(args: Array[String]): Unit = {
    val root = new File(args.headOption.getOrElse("."))

    check("percentile rule: p90 needs 10 samples beyond it") {
      val xs = (1 to 200).map(_.toDouble)
      eq(Stats.tail(xs, 90), (180.0, 90.0))
      // 50 samples: p90 would leave 5 beyond; the highest percentile that
      // leaves 10 beyond is the 40th value (p80)
      eq(Stats.tail((1 to 50).map(_.toDouble), 90), (40.0, 80.0))
      // exactly 100: the 90th value has 10 beyond it
      eq(Stats.tail((1 to 100).map(_.toDouble), 90)._1, 90.0)
      // order of the input does not matter
      eq(Stats.tail((1 to 50).reverse.map(_.toDouble), 90)._1, 40.0)
      // too few samples for any percentile with 10 beyond: the minimum
      eq(Stats.tail(Seq(5.0, 1.0, 3.0), 90)._1, 1.0)
      eq(Stats.median(Seq(3.0, 1.0, 2.0, 10.0)), 2.5)
    }

    check("kind-balanced summary does not depend on samples per kind") {
      val two = Seq("a" -> 1.0, "a" -> 1.0, "b" -> 8.0, "b" -> 8.0, "c" -> 27.0, "c" -> 27.0)
      val three = two ++ Seq("a" -> 1.0, "b" -> 8.0, "c" -> 27.0)
      def near(got: (Double, Double), want: (Double, Double)) =
        if (math.abs(got._1 - want._1) > 1e-9 || math.abs(got._2 - want._2) > 1e-9)
          throw new AssertionError(s"got $got, want $want")
      near(Stats.byKind(two), (6.0, 6.0))
      near(Stats.byKind(three), (6.0, 6.0))
      // a pooled median of the same runs moves with the counts
      eq(Stats.median(two.map(_._2) ++ Seq(1.0, 1.0)), 4.5)
      // few samples per kind: the tail is each kind's largest
      near(Stats.byKind(Seq("a" -> 1.0, "a" -> 8.0, "b" -> 8.0)), (math.sqrt(36.0), 8.0))
      // one kind with enough samples: its median and its p90 rule
      val one = (1 to 200).map(i => "s" -> i.toDouble)
      eq(Stats.byKind(one), (100.5, 180.0))
    }

    check("self time with overlapping child spans") {
      val parent = Span(1, 0, 7, "p", 0, 100)
      val kids = Seq(Span(2, 1, 7, "a", 10, 50), Span(3, 1, 7, "b", 30, 70),
        Span(4, 1, 7, "c", 90, 130)) // sticks out of the parent
      val grandkid = Span(5, 2, 7, "g", 20, 25)
      val self = Trace.selfTimes(parent +: grandkid +: kids)
      // children cover [10,70) and [90,100) of the parent: 70 ns
      eq(self(1), 30L)
      eq(self(2), 35L) // 40 minus the grandchild's 5
      eq(self(3), 40L)
      eq(self(5), 5L)
      eq(Trace.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 20L), (30L, 40L))), 25L)
    }

    check("tracer nests spans on one thread") {
      val t = new Tracer(true)
      t.span("outer", 1) { t.span("inner", 1)(()) }
      val byName = t.all.map(s => s.name -> s).toMap
      eq(byName("inner").parent, byName("outer").id)
      eq(byName("outer").parent, 0L)
      val off = new Tracer(false)
      eq(off.span("x")(42), 42)
      eq(off.all.size, 0)
    }

    check("open loop measures from the due time") {
      var clock = 0L
      val slept = scala.collection.mutable.ArrayBuffer.empty[Long]
      val ol = new OpenLoop(startNs = 1000, intervalNs = 100)
      // on time: sleeps until due, starts exactly then
      eq(ol.await(2, () => clock, ns => { slept += ns; clock += ns }), 0L)
      eq(clock, 1200L); eq(slept.toSeq, Seq(1200L))
      // late: op 3 was due at 1300 but the generator only gets to it at 1450
      clock = 1450
      eq(ol.await(3, () => clock, _ => throw new AssertionError("slept")), 150L)
      // finishing at 1460 is 160 ns after the due time, not 10
      eq(ol.latencyNs(3, 1460), 160L)
    }

    check("closed-form checker accepts the right response, rejects a corrupted one") {
      val c = new Corpus(11, IndexedSeq("bm0", "bm1"), hosts = 4,
        stepNs = 60L * 1000000000L, slots = 120, events = 2)
      val mix = new Mix(c)
      val rng = new java.util.SplittableRandom(3)
      mix.generators.foreach { case (kind, gen) =>
        val req = gen(rng)
        val good = req.expected()
        if (good.isEmpty) throw new AssertionError(s"$kind: empty expectation")
        val body = good.mkString("", "\r\n", "\r\n")
        eq(Mix.check(body, good), None)
        // one changed digit in the last line
        val last = good.last
        val bad = good.init :+ (last.init + (if (last.last == '1') '2' else '1'))
        if (Mix.check(bad.mkString("\r\n"), good).isEmpty)
          throw new AssertionError(s"$kind: corrupted value accepted")
        if (good.size > 1 && Mix.check(good.tail.mkString("\r\n"), good).isEmpty)
          throw new AssertionError(s"$kind: missing line accepted")
        if (Mix.check(body + "-error in stream\r\n", good).isEmpty)
          throw new AssertionError(s"$kind: in-band error accepted")
      }
    }

    check("corpus checksum is order independent and sees a changed value") {
      val c = new Corpus(5, IndexedSeq("m"), hosts = 3, stepNs = 1000, slots = 10)
      val all = c.checksum(0 until 3, 0, 10)
      val parts = c.checksum(IndexedSeq(2, 0), 0, 10)
      parts.merge(c.checksum(IndexedSeq(1), 0, 4)); parts.merge(c.checksum(IndexedSeq(1), 4, 10))
      eq(parts, all)
      val bent = c.checksum(0 until 3, 0, 10)
      bent.add(c.sname(0, 0), 3, c.value(0, 0, 3) + 1)
      val plus = c.checksum(0 until 3, 0, 10)
      plus.add(c.sname(0, 0), 3, c.value(0, 0, 3))
      if (bent == plus) throw new AssertionError("changed value not seen")
    }

    check("metric names match BENCHMARK.json") {
      val f = new File(root, "BENCHMARK.json")
      val text = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      import org.json4s._
      import org.json4s.jackson.JsonMethods
      val js = JsonMethods.parse(text)
      def names(key: String) = (js \ key).children.map(m =>
        ((m \ "name").asInstanceOf[JString].s, (m \ "unit").asInstanceOf[JString].s))
      eq(names("end_to_end"), Metrics.endToEnd.toList)
      eq(names("per_layer"), Metrics.perLayer.toList)
    }

    if (failures > 0) { println(s"$failures failed"); sys.exit(1) }
    println("all passed")
  }
}
