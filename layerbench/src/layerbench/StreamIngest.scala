package layerbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.nio.file.attribute.FileTime

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.crud.CrudService
import graft.model.Bucket
import graft.pipeline.{Emit, ExprStage, JsStage, Pipeline, ScriptStage}
import graft.store.BucketStore
import graft.streaming.Streams

/** `stream_ingest`: a unit is one `Trigger.AvailableNow` drain of the
  * staged delivery files, one file per micro-batch. The files are seeded
  * events, drawn like the sf `events` table, in time slices plus
  * re-deliveries and late events. Each batch is deduplicated by the
  * watermarked stream dedup, enriched by an expression stage and a
  * JavaScript stage, and merged into a sink bucket by event id.
  * Every drain starts from an empty sink and a fresh checkpoint.
  *
  * Oracle: the sink must equal the enrichment, computed on the driver, of
  * the distinct events across all files, with no duplicate event id. */
final class StreamIngest(cfg: Config, spark: SparkSession, tracer: Tracer,
    progress: ProgressLog) extends Workload {
  import StreamIngest._

  private val events = Gen.events(cfg.seed, math.max(400, (Events * cfg.sf / 0.1).toInt),
    Days, users = math.max(20, (Users * cfg.sf / 0.1).toInt))
  private val files = Gen.deliveries(cfg.seed, events, FileCount, redeliver = 0.05,
    late = 0.03)
  private val want: Map[Long, Enriched] = events.map(e => e.id -> enrich(e)).toMap

  private val root = cfg.work.resolve("stream")
  private val source = root.resolve("source")
  private val sink = Bucket("/bench/events_sink")
  private var store: BucketStore = _
  private val drains = mutable.ArrayBuffer.empty[Seq[ProgressLog#Batch]]
  /** Rows each micro-batch (one file) adds to the sink: its enriched events
    * not delivered by an earlier file. */
  private val newRows: Vector[Long] = {
    val seen = mutable.HashSet.empty[Long]
    files.map(f => f.map(_.id).distinct.count(i => seen.add(i) && want.contains(i)).toLong)
  }
  private var bytesPerRow = 1.0
  private var sinkGeneration = 0

  /** Write each delivery file as one parquet file, with modification times
    * in delivery order (the file source orders by them). */
  def setup(): Unit = {
    Workload.deleteTree(root)
    Files.createDirectories(source)
    val base = System.currentTimeMillis() - 3600 * 1000L
    files.zipWithIndex.foreach { case (es, i) =>
      val tmp = root.resolve(s"staging-$i")
      spark.createDataFrame(java.util.Arrays.asList(es.map(e => Row(e.id,
          timestamp(e.tsUs), e.user, e.kind, e.value, e.props)): _*),
          SourceSchema)
        .coalesce(1).write.parquet(tmp.toString)
      val part = onlyParquet(tmp)
      val dst = source.resolve(f"delivery-$i%03d.parquet")
      Files.move(part, dst, StandardCopyOption.ATOMIC_MOVE)
      Files.setLastModifiedTime(dst, FileTime.fromMillis(base + i * 1000L))
      Workload.deleteTree(tmp)
    }
  }

  private def freshSink(): CrudService = {
    sinkGeneration += 1
    store = new BucketStore(spark, root.resolve(s"sink-$sinkGeneration").toString)
    store.write(sink, spark.createDataFrame(
      java.util.Collections.emptyList[Row](), SinkSchema))
    new CrudService(store, sink)
  }

  def runUnit(pass: Int, s: Samples): Unit = drain(pass, s, source, want)

  /** Staging, then a drain of the first [[WarmFiles]] delivery files only:
    * every plan a drain runs, at a fraction of a drain's cost. */
  def warmUp(s: Samples): Unit = {
    setup()
    val warm = root.resolve("warm-source")
    Files.createDirectories(warm)
    (0 until WarmFiles).foreach { i =>
      val f = f"delivery-$i%03d.parquet"
      Files.copy(source.resolve(f), warm.resolve(f), StandardCopyOption.COPY_ATTRIBUTES)
    }
    val ids = files.take(WarmFiles).flatten.map(_.id).toSet
    drain(-1, s, warm, want.filter { case (id, _) => ids(id) })
    Workload.deleteTree(warm)
  }

  private def drain(pass: Int, s: Samples, from: Path, want: Map[Long, Enriched]): Unit = {
    tracer.op = pass
    if (sinkGeneration > 0)
      Workload.deleteTree(root.resolve(s"sink-$sinkGeneration"))
    val crud = freshSink()
    val t0 = System.nanoTime()
    tracer.span("pass") {
      val stream = spark.readStream.schema(SourceSchema)
        .option("maxFilesPerTrigger", "1").parquet(from.toString)
      val deduped = Streams.dedupStream(stream, Seq("event_id"), Some("ts"), Watermark)
      Streams.runForeachBatchIds(deduped, statePartitions = Some(cfg.cores)) { (batch, id) =>
        tracer.op = batchOp(pass, id)
        // materialized once: the merge reads its source twice, and the
        // batch plan carries the stateful dedup
        val enriched = s.call("pipeline.run", read = true, tracer)(
          enrichFrame(batch).localCheckpoint(eager = true))
        s.call("crud.merge", read = false, tracer)(
          crud.mergeInto(enriched.select(col("event_id") +:
              Payload.map(f => col(f).as("s_" + f)): _*), Seq("event_id"),
            notMatchedInsert = Some(Payload.map(f => f -> col("s_" + f)).toMap)))
      }
    }
    s.units += (System.nanoTime() - t0) / 1e9
    org.apache.spark.sql.layerbench.Bridge.drainListeners(spark.sparkContext)
    val batches = progress.take()
    s.batches ++= batches.map(_.durationMs.toDouble)
    if (pass >= 0) drains += batches
    check(s, want)
  }

  /** The sink against the oracle. */
  private def check(s: Samples, want: Map[Long, Enriched]): Unit = {
    val got = store.read(sink).collect().map(fromRow)
    val byId = got.map(e => e.id -> e).toMap
    s.check(byId.size == got.length, s"sink holds ${got.length - byId.size} duplicate ids")
    s.check(byId == want, s"sink differs from the oracle on ${CurationBatch.diff(byId, want)}")
    // top-10 users by landed events, against the oracle's
    def top(es: Iterable[Enriched]) = es.groupBy(_.user).toSeq
      .map { case (u, xs) => (u, xs.size) }.sortBy { case (u, n) => (-n, u) }.take(10).map(_._1)
    val wantTop = top(want.values)
    s.recall += wantTop.toSet.intersect(top(got.toSeq).toSet).size.toDouble / wantTop.size
    bytesPerRow = Workload.parquetBytes(stageDir).toDouble / math.max(1, got.length)
  }

  private def stageDir: Path = java.nio.file.Paths.get(store.stagePath(sink))

  def finish(s: Samples): Unit =
    s.storeRatio = Some(Workload.storeRatio(stageDir, store.read(sink), "snappy", cfg.work))

  val minUnits = 1

  val rootNames: Set[String] = Set("pass")

  def layerExtras(spans: Seq[Span], incl: Span => Counters): Map[String, Double] = {
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def phase(k: String) = med(drains.flatten.map(_.phases.getOrElse(k, 0L).toDouble).toSeq)
    val merges = spans.filter(_.name == "crud.merge")
    val written = merges.map(sp => incl(sp).output.toDouble)
    val amp = merges.zip(written).flatMap { case (sp, w) =>
      newRows.lift(sp.op % BatchStride).filter(_ > 0).map(n => w / (n * bytesPerRow)) }
    Map("streaming.add_batch.ms" -> phase("addBatch"),
      "streaming.query_planning.ms" -> phase("queryPlanning"),
      "streaming.wal_commit.ms" -> phase("walCommit"),
      "streaming.commit_offsets.ms" -> phase("commitOffsets"),
      "streaming.latest_offset.ms" -> phase("latestOffset"),
      "streaming.batches" -> med(drains.map(_.size.toDouble).toSeq),
      "streaming.state_rows" -> med(drains.flatMap(_.lastOption).map(_.stateRows.toDouble).toSeq),
      "streaming.state_mem_mb" -> med(drains.flatMap(_.lastOption)
        .map(_.stateMemBytes / 1e6).toSeq),
      "store.written_mb_per_write" -> med(written) / 1e6,
      "store.write_amp" -> med(amp),
      "store.parquet_files" -> store.parquetFileCount(sink, "processed").toDouble)
  }
}

object StreamIngest {
  /** Span op id of micro-batch `id` of drain `pass`. */
  val BatchStride = 10000
  def batchOp(pass: Int, id: Long): Int = pass * BatchStride + id.toInt
  // at sf 0.1: the first six days of the sf events table's rate
  // (100,000 events over 30 days from 1,500 users)
  val Events = 20000.0
  val Users = 1500.0
  val Days = 6
  val FileCount = 8
  val WarmFiles = 2
  val Watermark = "15 days"

  final case class Enriched(id: Long, tsUs: Long, user: Long, kind: String,
      value: Double, cents: Long, k: Long, tag: String)

  val SourceSchema: StructType = StructType(Seq(StructField("event_id", LongType),
    StructField("ts", TimestampType), StructField("user_id", LongType),
    StructField("event_type", StringType), StructField("value", DoubleType),
    StructField("props", StringType)))

  val SinkSchema: StructType = StructType(Seq(StructField("event_id", LongType),
    StructField("ts", TimestampType), StructField("user_id", LongType),
    StructField("event_type", StringType), StructField("value", DoubleType),
    StructField("value_cents", LongType), StructField("k", LongType),
    StructField("tag", StringType)))

  /** Sink columns other than the merge key. */
  val Payload: Seq[String] = SinkSchema.fieldNames.toSeq.tail

  /** Drops events without a time (none in this data, as in the sf table)
    * and prices the value in cents. */
  val Expr: ExprStage = ExprStage(Seq(Emit(Seq("event_id", "ts", "user_id",
    "event_type", "value", "props", "CAST(round(value * 100) AS BIGINT) AS value_cents"))),
    where = Some("ts IS NOT NULL"))

  /** Reads `k` from the props JSON and tags the event. */
  val Script: String =
    """function handle(doc) {
      |  var p = JSON.parse(doc.props);
      |  return {id: doc.event_id, k: p.k,
      |          tag: doc.event_type.toUpperCase().slice(0, 3) + '-' + (p.k % 10)};
      |}""".stripMargin

  def enrichFrame(batch: DataFrame): DataFrame = {
    val staged = Pipeline.runChain(batch, Seq(ScriptStage(Expr)))
      .withColumn("rec", to_json(struct(col("event_id"), col("event_type"),
        col("user_id"), col("props"))))
    JsStage.stage(staged, "rec", "out", Script)
      .withColumn("o", from_json(col("out"), "id BIGINT, k BIGINT, tag STRING",
        Map.empty[String, String]))
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"), col("value_cents"), col("o.k").as("k"), col("o.tag").as("tag"))
  }

  /** The same enrichment on the driver. */
  def enrich(e: Gen.Event): Enriched = {
    val k = "\"k\": *([0-9]+)".r.findFirstMatchIn(e.props).map(_.group(1).toLong)
      .getOrElse(-1L)
    Enriched(e.id, e.tsUs, e.user, e.kind, e.value,
      java.math.BigDecimal.valueOf(e.value * 100).setScale(0,
        java.math.RoundingMode.HALF_UP).longValue,
      k, e.kind.toUpperCase.take(3) + "-" + (k % 10))
  }

  def fromRow(r: Row): Enriched = Enriched(r.getAs[Long]("event_id"),
    micros(r.getAs[java.sql.Timestamp]("ts")), r.getAs[Long]("user_id"),
    r.getAs[String]("event_type"), r.getAs[Double]("value"),
    r.getAs[Long]("value_cents"), r.getAs[Long]("k"), r.getAs[String]("tag"))

  /** A timestamp at microsecond precision, as the sf events carry. */
  def timestamp(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  def micros(t: java.sql.Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000

  def onlyParquet(dir: Path): Path = {
    val ls = Files.list(dir)
    try {
      val parts = ls.iterator()
      var found: Path = null
      while (parts.hasNext) {
        val p = parts.next()
        if (p.getFileName.toString.endsWith(".parquet")) {
          require(found == null, s"more than one parquet file in $dir")
          found = p
        }
      }
      require(found != null, s"no parquet file in $dir")
      found
    } finally ls.close()
  }
}
