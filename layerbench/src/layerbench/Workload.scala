package layerbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Run settings shared by every workload. `sf` scales the generated inputs
  * the way the sf tables scale (0.1 is the benchmark size, 0.001 the smoke
  * size); `work` is the directory every file the run writes lands under. */
final case class Config(workload: String, seed: Long, seconds: Int,
    trace: Boolean, sf: Double, work: java.nio.file.Path, cores: Int)

object Config {
  /** The benchmark size: sf 0.1 row counts. */
  val Sf = 0.1
}

/** Timings and checks of one measured stretch of a workload. Calls are
  * the engine calls the workload times; `reads` change no stored state,
  * `writes` do. A unit is the workload's unit of work: a block of crud
  * ops, one curation pass, one stream drain. */
final class Samples {
  val reads = mutable.ArrayBuffer.empty[Double]   // ms
  val writes = mutable.ArrayBuffer.empty[Double]  // ms
  val batches = mutable.ArrayBuffer.empty[Double] // ms
  val units = mutable.ArrayBuffer.empty[Double]   // s
  var callSeconds = 0.0
  var calls = 0
  val recall = mutable.ArrayBuffer.empty[Double]
  var storeRatio: Option[Double] = None
  var attempted = 0
  var failed = 0
  val failures = mutable.ArrayBuffer.empty[String]

  val byCall = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  /** Time one engine call `name` inside its span; `read` selects its
    * latency class. */
  def call[A](name: String, read: Boolean, tracer: Tracer)(body: => A): A = {
    val t0 = System.nanoTime()
    val out = tracer.span(name)(body)
    val ms = (System.nanoTime() - t0) / 1e6
    (if (read) reads else writes) += ms
    byCall.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += ms
    callSeconds += ms / 1000.0
    calls += 1
    out
  }

  /** Record one correctness check (an attempted op); false is a failure. */
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      if (failures.size < 20) failures += what
    }
  }
}

/** A benchmark workload. `setup` stages inputs from scratch (it is run
  * several times and timed); `runUnit(i)` runs unit `i` of the seeded
  * sequence, times its engine calls into `s` and checks their results.
  * Unit `i` is the same work for every run at one seed, after a `setup`;
  * unit -1 is the warm-up. */
trait Workload {
  def setup(): Unit
  def runUnit(i: Int, s: Samples): Unit
  /** Untimed work before the timed set-ups that takes the JVM's and
    * Spark's one-time costs; it stages whatever it runs on. */
  def warmUp(s: Samples): Unit
  /** End-of-run figures read from the stores (e.g. the bytes ratio). */
  def finish(s: Samples): Unit
  /** Units an untraced run measures at least, whatever `--seconds` says:
    * enough samples that each tail stays on one percentile step. */
  def minUnits: Int
  /** Span names whose job, stage or plan counts may differ between two
    * traced passes over the same units; any other difference fails. */
  def varyingCounts: Set[String] = Set.empty
  /** Span names that are one op (crud) or one pass: spark.* is per root. */
  def rootNames: Set[String]
  /** Layer metrics only the workload can compute (store, streaming). */
  def layerExtras(spans: Seq[Span], incl: Span => Counters): Map[String, Double]
}

object Workload {
  val Names: Seq[String] = Seq("crud_mixed", "curation_batch", "stream_ingest")

  def make(cfg: Config, spark: SparkSession, tracer: Tracer,
      progress: ProgressLog): Workload = cfg.workload match {
    case "crud_mixed" => new CrudMixed(cfg, spark, tracer)
    case "curation_batch" => new CurationBatch(cfg, spark, tracer)
    case "stream_ingest" => new StreamIngest(cfg, spark, tracer, progress)
    case other => throw new IllegalArgumentException(
      s"unknown workload $other (one of ${Names.mkString(", ")})")
  }

  /** Bytes of the `.parquet` files under `dir`. */
  def parquetBytes(dir: java.nio.file.Path): Long =
    if (!java.nio.file.Files.exists(dir)) 0L
    else {
      val w = java.nio.file.Files.walk(dir)
      try {
        val it = w.iterator()
        var total = 0L
        while (it.hasNext) {
          val p = it.next()
          if (p.getFileName.toString.endsWith(".parquet") &&
              java.nio.file.Files.isRegularFile(p))
            total += java.nio.file.Files.size(p)
        }
        total
      } finally w.close()
    }

  /** On-disk bytes of `stageDir` over the bytes of `live` written once
    * with a plain parquet write at `codec`. */
  def storeRatio(stageDir: java.nio.file.Path,
      live: org.apache.spark.sql.DataFrame, codec: String,
      scratch: java.nio.file.Path): Double = {
    val plain = scratch.resolve("plain_" + System.nanoTime())
    live.coalesce(1).write.option("compression", codec).parquet(plain.toString)
    val ratio = parquetBytes(stageDir).toDouble / math.max(1L, parquetBytes(plain))
    deleteTree(plain)
    ratio
  }

  def deleteTree(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      val w = java.nio.file.Files.walk(p)
      try {
        val all = mutable.ArrayBuffer.empty[java.nio.file.Path]
        w.forEach(x => all += x)
        all.reverseIterator.foreach(java.nio.file.Files.deleteIfExists)
      } finally w.close()
    }
}
