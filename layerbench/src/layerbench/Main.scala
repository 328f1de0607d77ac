package layerbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark entry point:
  *
  * {{{
  * layerbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                 [--work <dir>]
  * }}}
  *
  * Prints one stamp line (`{"layerbench": …}`) and, as the last stdout
  * line, the result object. `--trace 0` measures the end-to-end metrics
  * with tracing off; `--trace 1` runs the workload twice over the same
  * seeded units with spans on, reports the per-layer metrics, and counts
  * as a failed check every span whose job, stage or plan counts differ
  * between the two, except the spans the workload names as varying. */
object Main {

  /** End-to-end metrics: name → unit. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "read_p50_ms" -> "ms", "read_tail_ms" -> "ms",
    "write_p50_ms" -> "ms", "write_tail_ms" -> "ms", "ops_per_s" -> "ops/s",
    "pass_s" -> "s", "recall_at_10" -> "ratio", "batch_p50_ms" -> "ms",
    "batch_tail_ms" -> "ms", "store_bytes_per_live_byte" -> "ratio",
    "peak_rss_mb" -> "MB")

  /** Engine calls with their own layer metrics: (span name, time unit). */
  val LayerCalls: Seq[(String, String)] = Seq(
    "crud.get" -> "ms", "crud.query" -> "ms", "crud.count" -> "ms",
    "crud.upsert" -> "ms", "crud.update" -> "ms", "crud.delete" -> "ms",
    "crud.merge" -> "ms", "sql.query" -> "ms",
    "dedup.candidates" -> "s", "dedup.cc" -> "s",
    "graph.scc" -> "s", "graph.kcore" -> "s", "graph.bfs" -> "s",
    "similarity.kmeans" -> "s", "similarity.build" -> "s",
    "similarity.append" -> "s", "similarity.remove" -> "s",
    "similarity.neighbors" -> "s", "similarity.serve" -> "ms",
    "pipeline.run" -> "ms")

  val StoreLayer: Seq[(String, String)] = Seq("store.written_mb_per_write" -> "MB",
    "store.write_amp" -> "ratio", "store.parquet_files" -> "count")

  val StreamingLayer: Seq[(String, String)] = Seq(
    "streaming.add_batch.ms" -> "ms", "streaming.query_planning.ms" -> "ms",
    "streaming.wal_commit.ms" -> "ms", "streaming.commit_offsets.ms" -> "ms",
    "streaming.latest_offset.ms" -> "ms", "streaming.batches" -> "count",
    "streaming.state_rows" -> "count", "streaming.state_mem_mb" -> "MB")

  val SparkLayer: Seq[(String, String)] = Seq("spark.jobs" -> "count",
    "spark.stages" -> "count", "spark.tasks" -> "count", "spark.task_s" -> "s",
    "spark.gc_s" -> "s", "spark.shuffle_read_mb" -> "MB",
    "spark.shuffle_write_mb" -> "MB", "spark.input_mb" -> "MB",
    "spark.output_mb" -> "MB", "spark.spill_mb" -> "MB",
    "spark.driver_gap_s" -> "s", "spark.untagged_jobs" -> "count",
    "spark.plan_exchanges" -> "count", "spark.plan_smj" -> "count",
    "spark.plan_bhj" -> "count", "spark.plan_windows" -> "count")

  /** Every per-layer metric: name → unit. `trace.count_mismatches` counts
    * spans whose job/stage/plan counts differ between the traced run's two
    * passes over the same units. */
  val PerLayer: Seq[(String, String)] =
    Seq("dsl.compile.ms" -> "ms") ++
      LayerCalls.flatMap { case (n, u) => Seq(s"$n.$u" -> u, s"$n.jobs" -> "count") } ++
      StoreLayer ++ StreamingLayer ++ SparkLayer ++ Seq("trace.count_mismatches" -> "count")

  def main(args: Array[String]): Unit = {
    val code =
      try {
        if (args.headOption.contains("--selftest")) SelfTest.run()
        else run(parse(args.toSeq))
      } catch {
        case e: Throwable =>
          System.err.println(s"layerbench: ${e.getClass.getName}: ${e.getMessage}")
          e.printStackTrace()
          3
      }
    System.out.flush()
    sys.exit(code)
  }

  def parse(args: Seq[String]): Config = {
    val kv = args.grouped(2).collect { case Seq(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Config(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", Config.Sf,
      Paths.get(kv.getOrElse("work", ".layerbench/run")).toAbsolutePath,
      math.min(4, Runtime.getRuntime.availableProcessors()))
  }

  def session(cfg: Config): SparkSession = {
    Files.createDirectories(cfg.work)
    val s = graft.GraftSession.builder(s"local[${cfg.cores}]", cfg.cores)
      .config("spark.local.dir", cfg.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", cfg.work.resolve("warehouse").toString)
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.streaming.checkpointLocation",
        cfg.work.resolve("checkpoints").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** One workload run; returns the process exit code. */
  def run(cfg: Config): Int = {
    require(Workload.Names.contains(cfg.workload),
      s"unknown workload ${cfg.workload} (one of ${Workload.Names.mkString(", ")})")
    val spark = session(cfg)
    try {
      val (result, detail) = measure(cfg, spark)
      val stamp = Main.stamp(cfg, spark)
      val record = Map("stamp" -> stamp) ++ detail
      writeResult(cfg, record ++ Map("result" -> result))
      println(Json.render(Map("layerbench" -> record)))
      println(Json.render(result))
      0
    } finally spark.stop()
  }

  /** Runs the workload and returns (result object, detail). */
  def measure(cfg: Config, spark: SparkSession): (Map[String, Any], Map[String, Any]) = {
    val tracer = new Tracer(spark, cfg.trace)
    val progress = new ProgressLog
    spark.streams.addListener(progress)
    try measureWith(cfg, spark, tracer, progress)
    finally {
      spark.streams.removeListener(progress)
      tracer.close()
    }
  }

  private def measureWith(cfg: Config, spark: SparkSession, tracer: Tracer,
      progress: ProgressLog): (Map[String, Any], Map[String, Any]) = {
    val wl = Workload.make(cfg, spark, tracer, progress)
    val cpu0 = cpuTicks()
    // an untimed warm-up takes the JVM's and Spark's one-time costs; then
    // set-up is timed several times, and the last staging is what the
    // measured units start from
    val w0 = System.nanoTime()
    val warm = new Samples
    wl.warmUp(warm)
    val warmS = (System.nanoTime() - w0) / 1e9
    val setups = (0 until SetupReps).map { _ =>
      val t0 = System.nanoTime(); wl.setup(); (System.nanoTime() - t0) / 1e9
    }
    val setupS = Stats.median(setups)
    progress.take()
    tracer.clear()
    def runFor(s: Samples, seconds: Double, minUnits: Int): Int = {
      val end = System.nanoTime() + (seconds * 1e9).toLong
      var i = 0
      while (i < math.max(1, minUnits) || System.nanoTime() < end) { wl.runUnit(i, s); i += 1 }
      i
    }
    // CPU time the host took from this VM during the run: the main source
    // of run-to-run drift on shared machines
    def base = Map[String, Any]("setup_runs_s" -> setups, "warmup_s" -> warmS,
      "cpu_steal_pct" -> cpu0.zip(cpuTicks()).map { case ((s0, t0), (s1, t1)) =>
        100.0 * (s1 - s0) / math.max(1L, t1 - t0) })
    if (!cfg.trace) {
      val s = new Samples
      val n = runFor(s, cfg.seconds, wl.minUnits)
      wl.finish(s)
      addChecks(s, warm)
      val (metrics, tails) = endToEnd(s, setupS)
      (result(s, metrics), base ++ Map("units" -> n, "unit_s" -> s.units.toSeq, "tails" -> tails,
        "call_p50_ms" -> callMedians(s), "failures" -> s.failures.toSeq))
    } else {
      val a = new Samples
      val n = runFor(a, cfg.seconds / 2.0, 1)
      val spansA = tracer.recorded
      tracer.clear()
      wl.setup()
      val b = new Samples
      (0 until n).foreach(i => wl.runUnit(i, b))
      wl.finish(b)
      val spansB = tracer.recorded
      val all = spansA ++ spansB
      val own = tracer.attribute(all)
      // the same units must cost the same counted work: a span whose counts
      // differ fails, unless the workload names it as varying
      val mismatches = countMismatches(spansA, spansB, own)
      mismatches.foreach { case (name, m) =>
        System.err.println(s"layerbench: count mismatch: $m")
        b.check(wl.varyingCounts(name), s"count mismatch: $m")
      }
      val layer = perLayer(wl, all, own, tracer) +
        ("trace.count_mismatches" -> (mismatches.size.toDouble, "count"))
      require(layer.keySet == PerLayer.map(_._1).toSet, "per-layer metric set mismatch: " +
        layer.keySet.diff(PerLayer.map(_._1).toSet) + " / " + PerLayer.map(_._1).toSet.diff(layer.keySet))
      val merged = new Samples
      Seq(a, b).foreach(merge(merged, _))
      addChecks(merged, warm)
      val (traced, tails) = endToEnd(merged, setupS)
      val overhead = untracedResult(cfg).map { un =>
        traced.collect { case (k, (v, _)) if un.contains(k) && un(k) != 0 =>
          k -> (v / un(k) - 1.0) }
      }.getOrElse(Map.empty)
      (result(merged, layer), base ++ Map("units_per_rep" -> n,
        "spans" -> all.size, "count_mismatches" -> mismatches.map(_._2),
        "self_ms" -> all.groupBy(_.name).map { case (k, ss) =>
          k -> Stats.median(ss.map(Tracer.selfUs(_, all) / 1000.0)) },
        "traced_end_to_end" -> traced.map { case (k, (v, _)) => k -> v },
        "tracing_overhead" -> overhead, "tails" -> tails,
        "call_p50_ms" -> callMedians(merged),
        "failures" -> merged.failures.toSeq))
    }
  }

  val SetupReps = 3

  /** Spans of two runs over the same units whose job, stage or plan counts
    * differ: (span name, description). A difference in the span sequence
    * itself is named "spans". */
  def countMismatches(a: Seq[Span], b: Seq[Span],
      own: Map[Int, Counters]): Seq[(String, String)] = {
    val sizes = if (a.size == b.size) Nil
      else Seq("spans" -> s"rep A recorded ${a.size} spans, rep B ${b.size}")
    sizes ++ a.zip(b).flatMap { case (x, y) =>
      val cx = own.getOrElse(x.id, Counters()).deterministic
      val cy = own.getOrElse(y.id, Counters()).deterministic
      if (x.name == y.name && cx == cy) None
      else Some((if (x.name == y.name) x.name else "spans") ->
        s"${x.name}#${x.op} ${cx.mkString("/")} vs ${y.name}#${y.op} ${cy.mkString("/")}")
    }
  }

  private def callMedians(s: Samples): Map[String, Any] =
    s.byCall.map { case (k, v) => k -> Map("p50" -> Stats.median(v.toSeq), "n" -> v.size) }.toMap

  /** Count the checks of `from` (e.g. the warm-up) in `into`. */
  private def addChecks(into: Samples, from: Samples): Unit = {
    into.attempted += from.attempted
    into.failed += from.failed
    into.failures ++= from.failures
  }

  private def merge(into: Samples, s: Samples): Unit = {
    s.byCall.foreach { case (k, v) =>
      into.byCall.getOrElseUpdate(k, mutable.ArrayBuffer.empty) ++= v }
    into.reads ++= s.reads; into.writes ++= s.writes; into.batches ++= s.batches
    into.units ++= s.units; into.callSeconds += s.callSeconds
    into.calls += s.calls; into.recall ++= s.recall
    into.storeRatio = s.storeRatio.orElse(into.storeRatio)
    addChecks(into, s)
  }

  private def result(s: Samples, metrics: Map[String, (Double, String)]): Map[String, Any] =
    Map("correct" -> (s.failed == 0), "attempted" -> math.max(1, s.attempted),
      "failed" -> s.failed,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) })

  /** End-to-end metrics of a measured stretch, plus where each tail sits. */
  def endToEnd(s: Samples, setupS: Double)
      : (Map[String, (Double, String)], Map[String, Any]) = {
    def need(xs: scala.collection.Seq[Double], what: String): Seq[Double] = {
      require(xs.nonEmpty, s"no $what were measured"); xs.toSeq
    }
    val read = Stats.tail(need(s.reads, "reads"))
    val write = Stats.tail(need(s.writes, "writes"))
    val batch = Stats.tail(need(s.batches, "batches"))
    val values = Map(
      "setup_s" -> setupS,
      "read_p50_ms" -> Stats.median(s.reads.toSeq), "read_tail_ms" -> read.value,
      "write_p50_ms" -> Stats.median(s.writes.toSeq), "write_tail_ms" -> write.value,
      "ops_per_s" -> s.calls / s.callSeconds,
      "pass_s" -> Stats.median(need(s.units, "units")),
      "recall_at_10" -> need(s.recall, "recall samples").sum / s.recall.size,
      "batch_p50_ms" -> Stats.median(s.batches.toSeq), "batch_tail_ms" -> batch.value,
      "store_bytes_per_live_byte" -> s.storeRatio.getOrElse(
        throw new IllegalStateException("no store ratio was measured")),
      "peak_rss_mb" -> peakRssMb())
    val units = EndToEnd.toMap
    def tailInfo(t: Stats.Tail) = Map("percentile" -> t.percentile, "samples" -> t.samples)
    (values.map { case (k, v) => k -> (v, units(k)) },
      Map("read_tail_ms" -> tailInfo(read), "write_tail_ms" -> tailInfo(write),
        "batch_tail_ms" -> tailInfo(batch)))
  }

  /** Per-layer metrics from the spans of a traced run. */
  def perLayer(wl: Workload, spans: Seq[Span], own: Map[Int, Counters],
      tracer: Tracer): Map[String, (Double, String)] = {
    val incl = mutable.Map.empty[Int, Counters]
    def inclusive(s: Span): Counters =
      incl.getOrElseUpdate(s.id, tracer.inclusive(s, spans, own))
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    val byName = spans.groupBy(_.name)
    val calls = (("dsl.compile" -> "ms") +: LayerCalls).flatMap { case (n, u) =>
      val ss = byName.getOrElse(n, Nil)
      val time = med(ss.map(sp => if (u == "s") sp.ms / 1000 else sp.ms))
      val timed = s"$n.$u" -> (time, u)
      if (n == "dsl.compile") Seq(timed)
      else Seq(timed, s"$n.jobs" -> (med(ss.map(inclusive(_).jobs.toDouble)), "count"))
    }
    val extras = wl.layerExtras(spans, inclusive)
    val roots = spans.filter(sp => wl.rootNames(sp.name))
    def perRoot(f: (Span, Counters) => Double): Double =
      med(roots.map(sp => f(sp, inclusive(sp))))
    val mb = 1e6
    val sparkM = Map[String, (Span, Counters) => Double](
      "spark.jobs" -> ((_, c) => c.jobs), "spark.stages" -> ((_, c) => c.stages),
      "spark.tasks" -> ((_, c) => c.tasks), "spark.task_s" -> ((_, c) => c.taskMs / 1e3),
      "spark.gc_s" -> ((_, c) => c.gcMs / 1e3),
      "spark.shuffle_read_mb" -> ((_, c) => c.shuffleRead / mb),
      "spark.shuffle_write_mb" -> ((_, c) => c.shuffleWrite / mb),
      "spark.input_mb" -> ((_, c) => c.input / mb),
      "spark.output_mb" -> ((_, c) => c.output / mb),
      "spark.spill_mb" -> ((_, c) => c.spill / mb),
      "spark.driver_gap_s" -> ((sp, c) =>
        (sp.endUs - sp.startUs - Stats.coveredWithin(sp.startUs, sp.endUs,
          c.jobIntervalsUs)) / 1e6),
      "spark.untagged_jobs" -> ((_, c) => c.untagged),
      "spark.plan_exchanges" -> ((_, c) => c.exchanges),
      "spark.plan_smj" -> ((_, c) => c.smj), "spark.plan_bhj" -> ((_, c) => c.bhj),
      "spark.plan_windows" -> ((_, c) => c.windows))
    val units = PerLayer.toMap
    calls.toMap ++
      (StoreLayer ++ StreamingLayer).map { case (n, u) => n -> (extras.getOrElse(n, 0.0), u) } ++
      sparkM.map { case (n, f) => n -> (perRoot(f), units(n)) }
  }

  /** (steal, total) CPU ticks since boot, where /proc/stat exists. */
  def cpuTicks(): Option[(Long, Long)] = {
    val stat = Paths.get("/proc/stat")
    if (!Files.exists(stat)) None
    else {
      val ticks = new String(Files.readAllBytes(stat), "UTF-8").linesIterator.next()
        .trim.split("\\s+").drop(1).map(_.toLong)
      if (ticks.length < 8) None else Some((ticks(7), ticks.sum))
    }
  }

  def peakRssMb(): Double = {
    val status = Paths.get("/proc/self/status")
    if (!Files.exists(status)) 0.0
    else {
      val lines = scala.io.Source.fromFile(status.toFile)
      try lines.getLines().find(_.startsWith("VmHWM:"))
        .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
      finally lines.close()
    }
  }

  def stamp(cfg: Config, spark: SparkSession): Map[String, Any] = Map(
    "workload" -> cfg.workload, "seed" -> cfg.seed, "seconds" -> cfg.seconds,
    "trace" -> (if (cfg.trace) 1 else 0), "sf" -> cfg.sf,
    "nproc" -> Runtime.getRuntime.availableProcessors(),
    "master" -> spark.sparkContext.master,
    "heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
    "spark" -> spark.version, "java" -> System.getProperty("java.version"),
    "source" -> sys.env.getOrElse("LAYERBENCH_SOURCE", "unknown"))

  private def resultsDir(cfg: Config): Path =
    cfg.work.getParent.resolve("results")

  private def resultFile(cfg: Config, trace: Boolean): Path =
    resultsDir(cfg).resolve(
      s"${cfg.workload}-seed${cfg.seed}-trace${if (trace) 1 else 0}.json")

  private def writeResult(cfg: Config, record: Map[String, Any]): Unit = {
    Files.createDirectories(resultsDir(cfg))
    Files.write(resultFile(cfg, cfg.trace), (Json.render(record) + "\n").getBytes("UTF-8"))
  }

  /** End-to-end values of the last untraced run at this workload and seed. */
  private def untracedResult(cfg: Config): Option[Map[String, Double]] = {
    val f = resultFile(cfg, trace = false)
    if (!Files.exists(f)) None
    else Json.metricValues(new String(Files.readAllBytes(f), "UTF-8"))
  }
}

/** Minimal JSON rendering of maps, sequences and scalars, and a reader for
  * the metric values of a result record. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => quote(k.toString) + ": " + render(x) }
        .sortBy(identity).mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ", ", "]")
    case other => quote(other.toString)
  }

  def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\t' => sb ++= "\\t"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
    sb.toString
  }

  /** `result.metrics.<name>.value` of a record written by [[Main]]. */
  def metricValues(text: String): Option[Map[String, Double]] = {
    val M = "\"([a-z0-9_.]+)\": \\{\"unit\": \"[^\"]*\", \"value\": ([-0-9.eE]+)\\}".r
    val at = text.indexOf("\"result\": ")
    if (at < 0) None
    else Some(M.findAllMatchIn(text.substring(at)).map(m => m.group(1) -> m.group(2).toDouble).toMap)
  }
}
