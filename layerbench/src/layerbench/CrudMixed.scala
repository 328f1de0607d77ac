package layerbench

import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.crud.CrudService
import graft.dsl.{Query, QueryCompiler, QueryComponent, Update}
import graft.model.{Bucket, DataSchema, GroupingPeriod, TemporalSchema}
import graft.sql.SqlSurface
import graft.store.BucketStore

/** `crud_mixed`: one client issuing a seeded 80/20 read/write mix against
  * a lineitem bucket with a temporal schema, through the CRUD, DSL and SQL
  * surfaces. A unit is a block of 24 ops with a fixed mix — 7 point gets
  * (Zipf-skewed ids), 6 term+range queries with sort and limit, 4 time-range
  * counts biased to recent slices, 3 SQL aggregates over the exposed view,
  * 2 upserts of 1 new and 3 replaced rows each, 1 update of 4 rows and
  * 1 delete — in seeded order. The delete removes the rows the upserts
  * inserted, so the live row count is the same after every block.
  *
  * Oracle: a driver-side model of every live row, updated from the
  * harness's own writes; every read is recomputed on the model. */
final class CrudMixed(cfg: Config, spark: SparkSession, tracer: Tracer)
    extends Workload {
  import CrudMixed._
  import Gen.Line

  private val rows = math.max(300, (LinesPerSf * cfg.sf).toInt)
  private val initial: Vector[Line] = Gen.lineitem(cfg.seed, rows)
  private val initialById: Map[String, Line] = initial.map(l => l.id -> l).toMap
  private val hot: IndexedSeq[String] =
    Gen.shuffle(initial.map(_.id), Gen.rng(cfg.seed, "hot"))
  private val zipf = new Gen.Zipf(hot.size, 1.1)

  val bucket: Bucket = Bucket("/bench/lineitem",
    DataSchema(temporal = Some(TemporalSchema("l_shipdate", GroupingPeriod.Yearly))))
  private val root = cfg.work.resolve("crud")
  private var generation = 0
  private var store: BucketStore = _
  private var crud: CrudService = _
  private val model = mutable.HashMap.empty[String, Line]
  private var opId = 0
  private val changed = mutable.Map.empty[Int, Long]
  private var liveBytesPerRow = 1.0

  def setup(): Unit = {
    Workload.deleteTree(root)
    generation += 1
    store = new BucketStore(spark, root.resolve(s"g$generation").toString)
    crud = new CrudService(store, bucket)
    crud.storeObjects(frame(spark, initial), replacePresent = true)
    model.clear()
    initial.foreach(l => model(l.id) = l)
    liveBytesPerRow = Workload.parquetBytes(stageDir).toDouble / initial.size
  }

  private def stageDir = java.nio.file.Paths.get(store.stagePath(bucket))

  /** The ops of block `b`: a pure function of the seed and `b`. */
  def block(b: Int): Vector[Op] = {
    val r = Gen.rng(cfg.seed, s"block-$b")
    def hotId(): String = hot(zipf.sample(r))
    def replacement(id: String): Line = {
      val o = initialById(id)
      Gen.line(r, o.orderkey, o.linenumber, id)
    }
    val inserted = Vector(s"N$b-0", s"N$b-1")
    val kinds = Gen.shuffle(Mix, r).toArray
    // the delete removes this block's inserts, so it must follow both upserts
    val del = kinds.indexOf("delete")
    val up = kinds.lastIndexOf("upsert")
    if (del < up) { kinds(del) = "upsert"; kinds(up) = "delete" }
    var ups = 0
    kinds.toVector.map {
      case "get" => Get(hotId())
      case "query" =>
        val lo = (1 + r.nextInt(45)).toDouble
        Find(Vector("A", "N", "R")(r.nextInt(3)), lo, lo + 1 + r.nextInt(4))
      case "count" =>
        // ends an exponential (mean 60 days) distance before the last
        // shipdate, 1–13 weeks long: recent slices are counted most
        val endDays = (-math.log(math.max(r.nextDouble(), 1e-9)) * 60).toLong
        val hi = Gen.ShipLastUs - math.min(endDays, Gen.ShipDays - 100L) * DayUs
        Count(hi - (7 + r.nextInt(85)) * DayUs, hi)
      case "sql" => Sql(Gen.ShipLastUs - (30 + r.nextInt(335)) * DayUs)
      case "upsert" =>
        ups += 1
        Upsert(Gen.line(r, r.nextLong(Gen.Orders), 1 + r.nextInt(7), inserted(ups - 1)) +:
          Vector.fill(3)(replacement(hotId())))
      case "update" => Modify(Vector.fill(4)(hotId()), r.nextInt(11) / 100.0)
      case "delete" => Delete(inserted)
    }
  }

  def runUnit(b: Int, s: Samples): Unit = runOps(block(b), s)

  /** Staging and the first op of each kind of the warm-up block, on a
    * bucket at scale factor 0.001: every plan and code path a block runs,
    * without the cost of a cold staging of the full bucket. */
  def warmUp(s: Samples): Unit = {
    val small = new CrudMixed(cfg.copy(sf = 0.001, work = cfg.work.resolve("warm")),
      spark, tracer)
    small.setup()
    small.runOps(small.block(-1).distinctBy(_.getClass), s)
    Workload.deleteTree(cfg.work.resolve("warm"))
  }

  private def runOps(ops: Vector[Op], s: Samples): Unit = {
    var busy = 0.0
    ops.foreach { op =>
      tracer.op = opId
      val before = s.callSeconds
      try runOp(op, s)
      catch {
        case e: Exception => s.check(ok = false, s"$op threw ${e.getMessage}")
      }
      val sec = s.callSeconds - before
      s.batches += sec * 1000
      busy += sec
      opId += 1
    }
    s.units += busy
  }

  private def runOp(op: Op, s: Samples): Unit = op match {
    case Get(id) =>
      val got = s.call("crud.get", read = true, tracer)(crud.getObjectById(id))
      val want = model.get(id)
      s.check(got.map(fromRow) == want, s"get $id: ${got.map(fromRow)} != $want")
    case Find(flag, lo, hi) =>
      val q = Query.allOf().when("l_returnflag", flag)
        .rangeIn("l_quantity", lo, hi, loInc = true, hiInc = true)
        .orderBy("l_extendedprice" -> -1, "_id" -> 1).limit(10)
      compileProbe(q)
      val got = s.call("crud.query", read = true, tracer)(crud.getObjectsBySpec(q).collect())
        .map(fromRow).toVector
      val want = model.valuesIterator
        .filter(l => l.returnflag == flag && l.quantity >= lo && l.quantity <= hi)
        .toVector.sortBy(l => (-l.extendedprice, l.id)).take(10)
      if (want.nonEmpty)
        s.recall += want.map(_.id).toSet.intersect(got.map(_.id).toSet).size.toDouble / want.size
      s.check(got == want, s"query $flag [$lo, $hi]: ${got.map(_.id)} != ${want.map(_.id)}")
    case Count(lo, hi) =>
      val q = Query.allOf().rangeIn("l_shipdate", ts(lo), ts(hi), loInc = true, hiInc = false)
      compileProbe(q)
      val got = s.call("crud.count", read = true, tracer)(crud.countObjectsBySpec(q))
      val want = model.valuesIterator.count(l => l.shipUs >= lo && l.shipUs < hi).toLong
      s.check(got == want, s"count [$lo, $hi): $got != $want")
    case Sql(since) =>
      val got = s.call("sql.query", read = true, tracer) {
        val Seq(view) = SqlSurface.exposeBuckets(spark, store, Seq(bucket))
        SqlSurface.runSql(spark,
          s"""SELECT l_returnflag, l_linestatus, count(*) AS n,
             |  sum(l_quantity) AS qty, sum(l_extendedprice) AS price
             |FROM $view WHERE l_shipdate >= TIMESTAMP '${ts(since)}'
             |GROUP BY l_returnflag, l_linestatus
             |ORDER BY l_returnflag, l_linestatus""".stripMargin).collect()
      }.map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4))).toVector
      val want = model.valuesIterator.filter(_.shipUs >= since).toVector
        .groupBy(l => (l.returnflag, l.linestatus)).toVector.sortBy(_._1)
        .map { case ((f, st), ls) =>
          (f, st, ls.size.toLong, ls.map(_.quantity).sum, ls.map(_.extendedprice).sum)
        }
      val ok = got.size == want.size && got.zip(want).forall { case (g, w) =>
        g._1 == w._1 && g._2 == w._2 && g._3 == w._3 && close(g._4, w._4) &&
          close(g._5, w._5)
      }
      s.check(ok, s"sql since $since: $got != $want")
    case Upsert(lines) =>
      s.call("crud.upsert", read = false, tracer)(
        crud.storeObjects(frame(spark, lines), replacePresent = true))
      lines.foreach(l => model(l.id) = l)
      changed(opId) = lines.size.toLong
      s.check(ok = true, "")
    case Modify(ids, disc) =>
      val q = Query.allOf().withAny("_id", ids)
      val u = Update.update().increment("l_quantity", 1.0).set("l_discount", disc)
      val got = s.call("crud.update", read = false, tracer)(crud.updateObjectsBySpec(q, u))
      val hit = ids.distinct.filter(model.contains)
      hit.foreach(id => model(id) = model(id).copy(quantity = model(id).quantity + 1,
        discount = disc))
      changed(opId) = hit.size.toLong
      s.check(got == hit.size, s"update $ids matched $got != ${hit.size}")
    case Delete(ids) =>
      val got = s.call("crud.delete", read = false, tracer)(
        crud.deleteObjectsBySpec(Query.allOf().withAny("_id", ids)))
      val hit = ids.distinct.filter(model.contains)
      hit.foreach(model.remove)
      changed(opId) = hit.size.toLong
      s.check(got == hit.size, s"delete $ids removed $got != ${hit.size}")
  }

  /** DSL compile and physical planning of a read, with no action. */
  private def compileProbe(q: QueryComponent): Unit =
    tracer.span("dsl.compile") {
      QueryCompiler.run(store.read(bucket), q).queryExecution.executedPlan
    }

  def finish(s: Samples): Unit = {
    // the whole live table against the model: the check on every write
    val live = store.read(bucket).collect().map(fromRow)
    val ok = live.length == model.size && live.forall(l => model.get(l.id).contains(l))
    s.check(ok, s"final table: ${live.length} rows vs model ${model.size}")
    s.storeRatio = Some(Workload.storeRatio(stageDir,
      store.read(bucket).drop(BucketStore.PartitionCol), "snappy",
      cfg.work))
  }

  val minUnits = 2

  val rootNames: Set[String] = Set("crud.get", "crud.query", "crud.count",
    "crud.upsert", "crud.update", "crud.delete", "sql.query")

  /** Bytes written per write op, and per user byte changed. */
  def layerExtras(spans: Seq[Span], incl: Span => Counters): Map[String, Double] = {
    val ws = spans.filter(sp => Set("crud.upsert", "crud.update", "crud.delete")(sp.name))
    val written = ws.map(sp => incl(sp).output.toDouble)
    val amp = ws.zip(written).flatMap { case (sp, w) =>
      changed.get(sp.op).filter(_ > 0).map(n => w / (n * liveBytesPerRow))
    }
    Map("store.written_mb_per_write" -> med(written) / 1e6,
      "store.write_amp" -> med(amp),
      "store.parquet_files" -> store.parquetFileCount(bucket, "processed").toDouble)
  }
}

object CrudMixed {
  /** Lineitem rows per unit of scale factor (the sf tables' ratio). */
  val LinesPerSf = 600000
  val DayUs: Long = 86400L * 1000000L
  val Mix: IndexedSeq[String] = Vector.fill(7)("get") ++ Vector.fill(6)("query") ++
    Vector.fill(4)("count") ++ Vector.fill(3)("sql") ++
    Vector("upsert", "upsert", "update", "delete")

  sealed trait Op
  final case class Get(id: String) extends Op
  final case class Find(flag: String, lo: Double, hi: Double) extends Op
  final case class Count(loUs: Long, hiUs: Long) extends Op
  final case class Sql(sinceUs: Long) extends Op
  final case class Upsert(lines: Vector[Gen.Line]) extends Op
  final case class Modify(ids: Vector[String], discount: Double) extends Op
  final case class Delete(ids: Vector[String]) extends Op

  val Schema: StructType = StructType(Seq(
    StructField("_id", StringType), StructField("l_orderkey", LongType),
    StructField("l_partkey", LongType), StructField("l_suppkey", LongType),
    StructField("l_linenumber", IntegerType), StructField("l_quantity", DoubleType),
    StructField("l_extendedprice", DoubleType), StructField("l_discount", DoubleType),
    StructField("l_tax", DoubleType), StructField("l_returnflag", StringType),
    StructField("l_linestatus", StringType), StructField("l_shipdate", TimestampType)))

  def ts(us: Long): Timestamp = new Timestamp(us / 1000L)

  def frame(spark: SparkSession, lines: Seq[Gen.Line]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(lines.map(l => Row(l.id,
      l.orderkey, l.partkey, l.suppkey, l.linenumber, l.quantity,
      l.extendedprice, l.discount, l.tax, l.returnflag, l.linestatus,
      ts(l.shipUs))): _*), Schema)

  def fromRow(r: Row): Gen.Line = Gen.Line(r.getAs[String]("_id"),
    r.getAs[Long]("l_orderkey"), r.getAs[Long]("l_partkey"),
    r.getAs[Long]("l_suppkey"), r.getAs[Int]("l_linenumber"),
    r.getAs[Double]("l_quantity"), r.getAs[Double]("l_extendedprice"),
    r.getAs[Double]("l_discount"), r.getAs[Double]("l_tax"),
    r.getAs[String]("l_returnflag"), r.getAs[String]("l_linestatus"),
    r.getAs[Timestamp]("l_shipdate").getTime * 1000L)

  def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-9 * math.max(1.0, math.max(math.abs(a), math.abs(b)))

  def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
}
