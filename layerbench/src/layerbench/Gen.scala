package layerbench

import java.util.SplittableRandom

/** Seeded input generators. Each produces rows with the schema and the
  * value distributions of the corresponding sf table (lineitem, documents,
  * embeddings, events; the figures were measured on the sf 0.1 tables and
  * are listed in README.md), or a synthetic edge set, sized by the scale
  * factor: the same seed and scale give the same rows. The engine only
  * ever sees these rows. */
object Gen {

  /** Independent stream `salt` of seed `seed`. */
  def rng(seed: Long, salt: String): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ salt.hashCode.toLong)

  // ---- lineitem --------------------------------------------------------

  final case class Line(id: String, orderkey: Long, partkey: Long,
      suppkey: Long, linenumber: Int, quantity: Double, extendedprice: Double,
      discount: Double, tax: Double, returnflag: String, linestatus: String,
      shipUs: Long)

  // sf 0.1 lineitem: every column independent and uniform over these ranges
  val ShipFirstUs: Long = micros("1995-01-02T00:00:00Z")
  val ShipDays = 2498
  val ShipLastUs: Long = ShipFirstUs + ShipDays * 86400L * 1000000L
  val Orders = 150000L
  private val Parts = 20000L
  private val Suppliers = 1000L

  def micros(iso: String): Long =
    java.time.Instant.parse(iso).toEpochMilli * 1000L

  def round2(x: Double): Double = math.round(x * 100.0) / 100.0

  /** One line with key `id` of order `orderkey`, drawn from `r`. */
  def line(r: SplittableRandom, orderkey: Long, linenumber: Int, id: String): Line =
    Line(id, orderkey, r.nextLong(Parts), r.nextLong(Suppliers), linenumber,
      (1 + r.nextInt(50)).toDouble, round2(900.0 + r.nextDouble() * 104100.0),
      round2(r.nextDouble() * 0.10), round2(r.nextDouble() * 0.08),
      Vector("A", "N", "R")(r.nextInt(3)), if (r.nextBoolean()) "F" else "O",
      ShipFirstUs + r.nextLong(ShipDays + 1L) * 86400L * 1000000L)

  /** `n` lineitem rows with keys `L0`, `L1`, …; order keys are uniform, as
    * in the sf tables, where (orderkey, linenumber) is not unique. */
  def lineitem(seed: Long, n: Int): Vector[Line] = {
    val r = rng(seed, "lineitem")
    Vector.tabulate(n)(i => line(r, r.nextLong(Orders), 1 + r.nextInt(7), s"L$i"))
  }

  /** Zipf(s) sampler over ranks 0 until n. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      val tot = w.sum
      var acc = 0.0
      w.map { x => acc += x / tot; acc }
    }
    def sample(r: SplittableRandom): Int = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  /** A seeded permutation of `xs`. */
  def shuffle[A](xs: IndexedSeq[A], r: SplittableRandom): IndexedSeq[A] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[A]]
  }

  // ---- documents -----------------------------------------------------

  final case class Doc(id: Long, text: String, lang: String, source: String)

  /** The sf documents' vocabulary: every word about equally frequent. */
  val Vocabulary: Vector[String] = Vector("a", "agg", "batch", "big", "column",
    "customer", "data", "fast", "filter", "group", "hash", "join", "key", "line",
    "merge", "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window")

  /** `n` documents of 10–100 uniform words; 5% are copies of another
    * document with " dup" appended (the sf near-duplicates). Language is
    * en for 41%, else zh/es/fr/de; the source is `src<id mod 20>`. */
  def documents(seed: Long, n: Int): Vector[Doc] = {
    val r = rng(seed, "documents")
    val texts = Array.fill(n) {
      Vector.fill(10 + r.nextInt(91))(Vocabulary(r.nextInt(Vocabulary.size))).mkString(" ")
    }
    val dups = shuffle(0 until n, r).take(n / 20)
    val isDup = dups.toSet
    val originals = (0 until n).filterNot(isDup)
    dups.foreach(d => texts(d) = texts(originals(r.nextInt(originals.size))) + " dup")
    Vector.tabulate(n) { i =>
      val u = r.nextDouble()
      val lang = if (u < 0.41) "en" else Vector("zh", "es", "fr", "de")(((u - 0.41) / 0.1475).toInt min 3)
      Doc(i.toLong, texts(i), lang, s"src${i % 20}")
    }
  }

  // ---- vectors ---------------------------------------------------------

  /** `n` unit vectors of `dim` floats with ids from `firstId`, uniform on
    * the sphere: the sf embeddings' labels carry no cluster signal (cosine
    * to a label's centroid has median 0.07, the value for random vectors). */
  def vectors(seed: Long, n: Int, dim: Int, salt: String = "vectors",
      firstId: Long = 0L): Vector[(Long, Array[Float])] = {
    val v = rng(seed, salt)
    Vector.tabulate(n) { i =>
      val x = Array.fill(dim)(gauss(v))
      val norm = math.sqrt(x.map(a => a * a).sum)
      (firstId + i, x.map(a => (a / norm).toFloat))
    }
  }

  def gauss(r: SplittableRandom): Double = {
    // Box–Muller, one value per call
    val u1 = math.max(r.nextDouble(), 1e-12)
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  // ---- graph -----------------------------------------------------------

  /** Directed edges mixing long chains (high diameter: the iterative
    * loops' round count), directed cycles, dense cliques and `cross` random
    * links from a lower block to a higher one. Chain ids ascend along the
    * chain; the other blocks' ids are shuffled within the graph's id range
    * above the chains. */
  def graph(seed: Long, chains: Int, chainLen: Int, cycles: Int, cycleLen: Int,
      cliques: Int, cliqueSize: Int, cross: Int): Vector[(Long, Long)] = {
    val r = rng(seed, "graph")
    val edges = Vector.newBuilder[(Long, Long)]
    var next = 0
    def block(n: Int): Range = { val b = next until next + n; next += n; b }
    (0 until chains).foreach { _ =>
      val b = block(chainLen); b.init.foreach(i => edges += ((i.toLong, i + 1L)))
    }
    val rest = next
    (0 until cycles).foreach { _ =>
      val b = block(cycleLen)
      b.foreach(i => edges += ((i.toLong, if (i == b.last) b.head.toLong else i + 1L)))
    }
    (0 until cliques).foreach { _ =>
      val b = block(cliqueSize)
      for (i <- b; j <- b if i != j) edges += ((i.toLong, j.toLong))
    }
    val total = next
    (0 until cross).foreach { _ =>
      val a = r.nextInt(total - 1); val c = a + 1 + r.nextInt(total - a - 1)
      edges += ((a.toLong, c.toLong))
    }
    val perm = (0 until rest) ++ shuffle(rest until total, r)
    edges.result().map { case (a, b) => (1000L + perm(a.toInt), 1000L + perm(b.toInt)) }.distinct
  }

  // ---- events ----------------------------------------------------------

  final case class Event(id: Long, tsUs: Long, user: Long, kind: String,
      value: Double, props: String)

  /** sf 0.1 events: five types, each a fifth of the rows. */
  val EventKinds = Vector("click", "error", "purchase", "signup", "view")
  val EventFirstUs: Long = micros("2024-01-01T00:00:00Z")

  /** `n` events over `days` days, ids 0 … n-1 in time order, as in the sf
    * table: microsecond times uniform over the days, users uniform over
    * `users`, values exponential with mean 50 (two decimals), props
    * `{"k": n}` with n uniform over 0–99. */
  def events(seed: Long, n: Int, days: Int, users: Int): Vector[Event] = {
    val r = rng(seed, "events")
    val span = days * 86400L * 1000000L
    val ts = Vector.fill(n)(EventFirstUs + r.nextLong(span)).sorted
    ts.zipWithIndex.map { case (t, i) =>
      Event(i.toLong, t, r.nextLong(users), EventKinds(r.nextInt(EventKinds.size)),
        round2(-50.0 * math.log(1.0 - r.nextDouble())), s"""{"k": ${r.nextInt(100)}}""")
    }
  }

  /** Split time-ordered `events` into `files` delivery files, one time
    * slice each; then re-deliver a share of events in a later file and
    * move a share of events one or two files late. Returns the files. */
  def deliveries(seed: Long, events: Vector[Event], files: Int,
      redeliver: Double, late: Double): Vector[Vector[Event]] = {
    val r = rng(seed, "deliveries")
    val per = math.max(1, (events.size + files - 1) / files)
    val slot = events.indices.map(i => math.min(files - 1, i / per)).toArray
    val out = Array.fill(files)(Vector.newBuilder[Event])
    events.zipWithIndex.foreach { case (e, i) =>
      val home = slot(i)
      val at = if (r.nextDouble() < late) math.min(files - 1, home + 1 + r.nextInt(2)) else home
      out(at) += e
      if (r.nextDouble() < redeliver)
        out(math.min(files - 1, at + r.nextInt(3))) += e
    }
    out.map(_.result()).toVector
  }
}
