package layerbench

import java.nio.file.Paths

import scala.collection.mutable

/** The benchmark's own tests: `run.py --selftest` runs the unit checks
  * below, then a smoke run of every workload at scale factor 0.001 (the
  * size of the smallest sf tables) with every oracle, untraced and traced.
  * Exit code 0 iff all pass. */
object SelfTest {
  private val results = mutable.ArrayBuffer.empty[(String, Option[String])]

  private def test(name: String)(body: => Unit): Unit = {
    val outcome =
      try { body; None }
      catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    results += name -> outcome
    println(outcome.fold(s"ok   $name")(m => s"FAIL $name: $m"))
  }

  private def eq[A](got: A, want: A, what: String = ""): Unit =
    if (got != want) throw new AssertionError(s"$what got $got, want $want")

  def run(): Int = {
    unitTests()
    smoke()
    val failed = results.count(_._2.nonEmpty)
    println(s"selftest: ${results.size - failed} passed, $failed failed")
    if (failed == 0) 0 else 1
  }

  def unitTests(): Unit = {
    test("tail: highest ladder percentile with at least ten samples beyond") {
      def xs(n: Int) = (1 to n).map(_.toDouble)
      eq(Stats.tail(xs(19)).percentile, 50.0, "n=19 falls back to the median:")
      eq(Stats.tail(xs(20)).percentile, 50.0, "n=20:")
      eq(Stats.tail(xs(39)).percentile, 50.0, "n=39:")
      eq(Stats.tail(xs(40)).percentile, 75.0, "n=40:")
      eq(Stats.tail(xs(100)).percentile, 90.0, "n=100:")
      eq(Stats.tail(xs(199)).percentile, 90.0, "n=199:")
      eq(Stats.tail(xs(200)).percentile, 95.0, "n=200:")
      eq(Stats.tail(xs(1000)).percentile, 99.0, "n=1000:")
      eq(Stats.tail(xs(10000)).percentile, 99.9, "n=10000:")
      Seq(20, 40, 57, 100, 250, 1000, 10000).foreach { n =>
        val t = Stats.tail(xs(n))
        if (xs(n).count(_ > t.value) < 10)
          throw new AssertionError(s"n=$n: fewer than ten samples above ${t.value}")
        eq(t.samples, n)
      }
    }
    test("tail: never below the median") {
      val t = Stats.tail(Seq(5.0, 1.0, 9.0, 7.0))
      eq(t.value >= Stats.median(Seq(5.0, 1.0, 9.0, 7.0)), true)
    }
    test("self time: span duration minus the union of its children") {
      val root = Span(0, "root", -1, 0, 0, 100)
      val kids = Seq(Span(1, "a", 0, 0, 10, 40), Span(2, "b", 0, 0, 30, 60),
        Span(3, "a.x", 1, 0, 15, 20), Span(4, "late", 0, 0, 90, 120))
      eq(Tracer.selfUs(root, root +: kids), 100L - 50L - 10L)
      eq(Tracer.selfUs(kids.head, root +: kids), 30L - 5L)
      eq(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 25L))), 20L)
      eq(Stats.coveredWithin(0, 10, Seq((-5L, 3L), (8L, 20L))), 5L)
    }
    test("count check: differing spans are named, equal ones pass") {
      val a = Seq(Span(0, "crud.get", -1, 0, 0, 10), Span(1, "crud.query", -1, 1, 10, 20))
      val b = Seq(Span(2, "crud.get", -1, 0, 0, 10), Span(3, "crud.query", -1, 1, 10, 20))
      val own = Map(0 -> Counters(jobs = 3), 1 -> Counters(jobs = 2),
        2 -> Counters(jobs = 3), 3 -> Counters(jobs = 4))
      eq(Main.countMismatches(a, b, own).map(_._1), Seq("crud.query"))
      eq(Main.countMismatches(a, b.take(1), own).map(_._1), Seq("spans"))
      eq(Main.countMismatches(a, a, own), Nil)
    }
    test("same seed: same op sequence and inputs") {
      val work = Paths.get(".layerbench/selftest-unused").toAbsolutePath
      def crud(seed: Long) = new CrudMixed(Config("crud_mixed", seed, 1, trace = false,
        0.001, work, 1), null, null)
      val (a, b, c) = (crud(7), crud(7), crud(8))
      eq((0 until 5).map(a.block), (0 until 5).map(b.block), "blocks at one seed:")
      if ((0 until 5).map(a.block) == (0 until 5).map(c.block))
        throw new AssertionError("two seeds gave the same ops")
      eq(a.block(3).size, CrudMixed.Mix.size, "ops per block:")
      eq(a.block(3).count {
        case _: CrudMixed.Upsert | _: CrudMixed.Modify | _: CrudMixed.Delete => true
        case _ => false
      }, 4, "writes per block:")
      eq(Gen.lineitem(7, 500), Gen.lineitem(7, 500), "lineitem:")
      eq(Gen.documents(7, 50), Gen.documents(7, 50), "documents:")
      eq(Gen.vectors(7, 20, 4).map { case (i, v) => (i, v.toSeq) },
        Gen.vectors(7, 20, 4).map { case (i, v) => (i, v.toSeq) }, "vectors:")
      eq(Gen.graph(7, 2, 5, 2, 4, 1, 3, 3), Gen.graph(7, 2, 5, 2, 4, 1, 3, 3), "graph:")
      val ev = Gen.events(7, 300, 5, 20)
      eq(ev, Gen.events(7, 300, 5, 20), "events:")
      eq(Gen.deliveries(7, ev, 4, 0.05, 0.03), Gen.deliveries(7, ev, 4, 0.05, 0.03),
        "deliveries:")
      if (Gen.lineitem(7, 500) == Gen.lineitem(8, 500))
        throw new AssertionError("two seeds gave the same lineitem rows")
    }
    test("deliveries: every event at least once, late events within two files") {
      val ev = Gen.events(3, 2000, 10, 50)
      val files = Gen.deliveries(3, ev, 8, 0.05, 0.03)
      eq(files.flatten.map(_.id).toSet, ev.map(_.id).toSet)
      if (files.flatten.size <= ev.size) throw new AssertionError("no re-deliveries")
    }
    test("oracles: components, SCC, k-core, BFS on a known graph") {
      // 1→2→3→1 is one SCC; 3→4→5 a tail; 6 isolated
      val es = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L))
      eq(Oracles.components(Seq(6L), es), Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
        4L -> 1L, 5L -> 1L, 6L -> 6L))
      eq(Oracles.scc(es), Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 5L))
      val k4 = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
      eq(Oracles.kCore(k4 :+ ((4L, 9L)), 3), Map(1L -> 3, 2L -> 3, 3L -> 3, 4L -> 3))
      eq(Oracles.bfs(es, Seq(5L), 2), Map(5L -> 0, 4L -> 1, 3L -> 2))
      eq(Oracles.topK(Seq(0L -> Array(1f, 0f)), Seq(1L -> Array(1f, 0.1f),
        2L -> Array(0f, 1f), 3L -> Array(1f, 0f)), 2), Map(0L -> Seq(3L, 1L)))
    }
    test("metric names and units match the declared sets") {
      eq(Main.EndToEnd.map(_._1).distinct.size, Main.EndToEnd.size)
      eq(Main.PerLayer.map(_._1).distinct.size, Main.PerLayer.size)
      val name = "[A-Za-z0-9][A-Za-z0-9_.-]{0,63}".r
      (Main.EndToEnd ++ Main.PerLayer).foreach { case (n, u) =>
        if (!name.matches(n) || !"[A-Za-z0-9_/%.-]{1,16}".r.matches(u))
          throw new AssertionError(s"bad metric $n [$u]")
      }
    }
    test("BENCHMARK.json declares the workloads and metrics the harness prints") {
      val text = new String(java.nio.file.Files.readAllBytes(Paths.get("BENCHMARK.json")), "UTF-8")
      def section(key: String): String = {
        val start = text.indexOf("\"" + key + "\"")
        text.substring(start, text.indexOf("]", start))
      }
      val Metric = "\"name\": \"([^\"]+)\",\\s*\"unit\": \"([^\"]+)\"".r
      def metrics(key: String) =
        Metric.findAllMatchIn(section(key)).map(m => m.group(1) -> m.group(2)).toSet
      eq(metrics("end_to_end"), Main.EndToEnd.toSet, "end_to_end:")
      eq(metrics("per_layer"), Main.PerLayer.toSet, "per_layer:")
      val names = "\"name\": \"([^\"]+)\"".r.findAllMatchIn(section("workloads")).map(_.group(1))
      names.foreach(w => eq(Workload.Names.contains(w), true, s"workload $w known:"))
    }
  }

  /** Every workload at sf 0.001, every oracle, untraced; crud also traced. */
  def smoke(): Unit = {
    val work = Paths.get(".layerbench/selftest").toAbsolutePath
    Workload.deleteTree(work)
    val base = Config("crud_mixed", 1, 0, trace = false, 0.001, work.resolve("run"),
      math.min(4, Runtime.getRuntime.availableProcessors()))
    val spark = Main.session(base)
    try {
      Workload.Names.foreach { w =>
        test(s"smoke: $w at sf 0.001, oracles pass") {
          val (res, _) = Main.measure(base.copy(workload = w), spark)
          eq(res("failed"), 0, "failed ops:")
          eq(res("correct"), true)
          eq(res("metrics").asInstanceOf[Map[String, Any]].keySet,
            Main.EndToEnd.map(_._1).toSet, "metrics:")
        }
      }
      test("smoke: crud_mixed traced: per-layer metrics, counts repeat") {
        val (res, detail) = Main.measure(base.copy(trace = true), spark)
        eq(res("correct"), true)
        val m = res("metrics").asInstanceOf[Map[String, Map[String, Any]]]
        eq(m.keySet, Main.PerLayer.map(_._1).toSet, "metrics:")
        eq(m("trace.count_mismatches")("value"), 0.0, s"${detail("count_mismatches")}:")
        Seq("crud.get.jobs", "crud.upsert.jobs", "sql.query.jobs", "spark.jobs").foreach { k =>
          if (m(k)("value").asInstanceOf[Double] <= 0) throw new AssertionError(s"$k is 0")
        }
      }
    } finally spark.stop()
    Workload.deleteTree(work)
  }
}
