package graft.similarity

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

import graft.store.PartitionedStore

/** What each cell of an [[IvfIndex]] stores per vector beside
  * `(vec_id, embedding, cell, d2)`, and how a probed candidate scores. */
sealed trait IvfCodec

object IvfCodec {
  /** Nothing more: candidates score by exact cosine over the raw vector. */
  case object Raw extends IvfCodec

  /** Plus a `code` column: `m` product-quantized codes (`k` entries per
    * sub-codebook) of the residual against the vector's cell centroid —
    * FAISS IndexIVFPQ's layout, the density 100 TB serving deploys — under
    * codebooks trained on the build corpus's residuals and frozen beside
    * the store. Candidates score by an asymmetric-distance (ADC) scan
    * reading only `(cell, id, code)`; the `rerank` best per query fetch
    * their raw vector for the exact cosine that is reported. */
  final case class Pq(m: Int, k: Int) extends IvfCodec {
    require(m >= 1 && k >= 2, s"m/k must be >= 1/2: $m/$k")
  }
}

/** A PERSISTED, incrementally-maintained IVF index — the op a real serving
  * pipeline runs daily: append a new embedding batch into the persisted
  * index WITHOUT rebuilding it. Composes the two components built for each
  * other: [[Ann.assignCellsWithDist]] routes vectors to coarse cells, and
  * [[PartitionedStore.append]] commits each batch as ONE added data dir
  * per touched cell partition behind one atomic manifest swap — O(batch)
  * write I/O, crash-safe, time-travelable, version-CAS write-guarded (all
  * inherited, spec'd contracts). The lifecycle is written once; the
  * [[IvfCodec]] decides only what a cell stores and how candidates score.
  * The reference's analog is the time-sliced index append + rollover
  * lifecycle (`aleph2_search_index_service_elasticsearch/.../services/
  * ElasticsearchIndexService.java:335-391`), re-expressed as a lakehouse
  * layout instead of an ES alias dance — whatever the mapping stores.
  *
  * Layout: the store is keyed by `cell`, so a partition holds whole cells
  * (`pmod(xxhash64(cell), nPartitions)` — at nPartitions ≈ |cells|, about
  * one cell per directory). Serving prunes at the partition-directory
  * level: a query batch probing p of C cells reads ~p/C of the corpus —
  * the same 100 TB story as the static ann13 layout, plus O(batch)
  * maintenance I/O per append instead of O(n) rebuild I/O; a periodic
  * [[compact]] collapses a partition's accumulated append dirs to one.
  *
  * Frozen models: the centroids (and the PQ codec's codebooks) are FROZEN
  * at build time — that is what makes appends cheap — so each append
  * measures the batch's mean squared assignment distance against the
  * train-time mean persisted in the meta file (`ivf_meta.json`, or
  * `ivfpq_meta.json` with the codebook shape). A batch whose distribution
  * moved away from the trained cells assigns measurably farther (ratio
  * >> 1); [[append]] returns the ratio and fails loudly — BEFORE any write
  * — when it exceeds `maxDriftRatio`, the signal to re-train and rebuild
  * ([[RotatingIvfIndex.rebuild]] swaps a fresh build in without a serving
  * blackout). Every row also persists its own `d2`, so a post-hoc drift
  * audit never re-scores the corpus.
  *
  * Id contract: appended ids are expected new. A replayed batch (same id,
  * same vector → same cell) is caught by a bounded guard over the touched
  * partitions only; a duplicate id arriving with a DIFFERENT vector that
  * lands in another cell is the caller's uniqueness contract, same as any
  * keyed sink here.
  */
class IvfIndex(val spark: SparkSession, val root: String,
    val nPartitions: Int, val codec: IvfCodec = IvfCodec.Raw,
    val idCol: String = "vec_id", val vecCol: String = "embedding",
    val cellCol: String = "cell", val centId: String = "cent_id",
    val centVec: String = "cent_vec") {

  val store = new PartitionedStore(spark, root, Seq(cellCol), nPartitions)

  /** Test-only fault-injection seam: invoked after [[build]]'s ordered
    * persistent steps (`metaInvalidated`, for the PQ codec
    * `codebooksWritten`, then `storeInit`) so FaultInjectionSpec can
    * snapshot the state a crash at that point would leave — in particular
    * the PQ window where NEW codebooks sit next to OLD-codebook codes,
    * reachable only through the deleted meta. No-op in production. */
  private[graft] var onStep: String => Unit = _ => ()

  private val (label, metaPath) = codec match {
    case IvfCodec.Raw => ("IVF", Paths.get(root, "ivf_meta.json"))
    case _: IvfCodec.Pq => ("IVF-PQ", Paths.get(root, "ivfpq_meta.json"))
  }
  private def codebooksPath = Paths.get(root, "pq_codebooks.parquet")

  private def metaField(name: String): Double =
    IvfCommon.metaField(metaPath, name, s"$label index at $root not built")

  /** Train-time mean squared assignment distance (the drift baseline). */
  def trainMeanD2: Double = metaField("train_mean_d2")

  /** The PQ codec's FROZEN residual codebooks, reconstructed from the
    * persisted parquet — m·k rows of bounded model state, never
    * data-sized. The meta file is the only path to them (`sub_dim` rides
    * it), so a crashed rebuild's new codebooks are never paired with the
    * old build's codes. */
  def codebooks(): Pq.Codebooks = codec match {
    case IvfCodec.Pq(m, k) =>
      val d = metaField("sub_dim").toInt
      val rows = spark.read.parquet(codebooksPath.toString).collect()
      require(rows.length == m * k,
        s"codebooks at $root hold ${rows.length} entries, expected ${m * k}")
      val arr = Array.fill(m, k)(Seq.empty[Double])
      rows.foreach(r => arr(r.getInt(0))(r.getInt(1)) = r.getSeq[Double](2))
      Pq.Codebooks(m, k, d, arr.map(_.toIndexedSeq).toIndexedSeq)
    case IvfCodec.Raw =>
      throw new UnsupportedOperationException(s"$label index at $root has no codebooks")
  }

  private def frozenBooks(): Option[Pq.Codebooks] =
    if (codec == IvfCodec.Raw) None else Some(codebooks())

  /** Coarse-assign: `(id, vec, cell, d2)`; the PQ codec adds `__res`, the
    * residual against the ASSIGNED cell's centroid — the corpus side of
    * the asymmetric distance. */
  private def assign(df: DataFrame, centroids: DataFrame): DataFrame = {
    val assigned = Ann.assignCellsWithDist(df, centroids,
      idCol, vecCol, centId, centVec, cellCol)
    if (codec == IvfCodec.Raw) assigned
    else assigned
      .join(broadcast(centroids.select(col(centId).as(cellCol),
        col(centVec).cast("array<double>").as("__cv"))), Seq(cellCol))
      .withColumn("__res", zip_with(col(vecCol).cast("array<double>"),
        col("__cv"), (a, b) => a - b))
      .drop("__cv")
  }

  /** [[assign]]ed rows with the codec's payload attached (PQ: `code`). */
  private def encode(assigned: DataFrame, books: Option[Pq.Codebooks]) =
    books.fold(assigned)(Pq.encode(assigned, "__res", _))

  private def storedCols = Seq(col(idCol), col(vecCol), col(cellCol),
    col("d2")) ++ (if (codec == IvfCodec.Raw) Nil else Seq(col("code")))

  /** Build the index: assign every corpus vector to its nearest (frozen)
    * centroid, train the codec's model (PQ: codebooks on the corpus
    * residuals), persist per-cell via the store's init, and record the
    * train-time mean d2 as the drift baseline. The baseline is an
    * `Observation` riding the init write — no separate read-back job —
    * which is correct because the store's main write is the first action
    * on the frame it is given ([[PartitionedStore.init]]'s contract).
    * Overwrites any existing index; the meta swap at the end is the
    * commit point. */
  def build(corpus: DataFrame, centroids: DataFrame): Unit = {
    // validate BEFORE invalidating anything: an empty rebuild corpus (an
    // upstream filter bug) must fail HERE, while the previous index's data
    // and baseline are still fully intact — not after the overwrite
    require(!corpus.isEmpty,
      s"$label build corpus is empty — an index at $root needs at least one vector")
    val assigned = assign(corpus, centroids)
    // codebook training runs its OWN validation (>= k sample vectors, dim
    // divisible by m) — let any of it fail while the previous index is
    // still fully intact
    val books = codec match {
      case IvfCodec.Pq(m, k) => Some(Pq.train(
        assigned.select(col(idCol), col("__res")), idCol, "__res", m, k, iters = 2))
      case IvfCodec.Raw => None
    }
    // invalidate the PREVIOUS build's drift baseline (and, through it, its
    // codebook pairing) BEFORE the first persistent mutation: a crash
    // before the new meta swap must leave "index not built" (trainMeanD2
    // fails loudly), never a fresh index silently drift-checking appends
    // against a stale baseline
    Files.deleteIfExists(metaPath)
    onStep("metaInvalidated")
    books.foreach { b =>
      // ONE definition of the (sub, cent, cv) codebook row layout — the
      // same frame Pq's trainer joins against, so codebooks() can't
      // desynchronize
      Pq.codebookFrame(spark, b.cents)
        .coalesce(1).write.mode("overwrite").parquet(codebooksPath.toString)
      onStep("codebooksWritten")
    }
    val obs = org.apache.spark.sql.Observation()
    store.init(encode(assigned, books).select(storedCols: _*)
      .observe(obs, avg(col("d2")).as("mean_d2")))
    onStep("storeInit")
    val meanOpt = obs.get.get("mean_d2").flatMap(Option(_))
    require(meanOpt.isDefined, s"$label build corpus yielded no assignment " +
      s"distances (empty centroids?) — the index at $root has no drift baseline")
    val shape = books.fold("")(b => s""""m":${b.m},"k":${b.k},"sub_dim":${b.subDim},""")
    val body = String.format(java.util.Locale.ROOT,
      """{"train_mean_d2":%s,%s"n_partitions":%d}""",
      java.lang.Double.toString(meanOpt.get.asInstanceOf[Double]), shape,
      Int.box(nPartitions))
    val tmp = Paths.get(root, s".meta_tmp${System.nanoTime()}")
    Files.write(tmp, body.getBytes("UTF-8"))
    Files.move(tmp, metaPath,
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Append a batch under the FROZEN quantizer (and codebooks): assign,
    * drift-check, encode, and commit per-cell through the store's APPEND
    * commit — write I/O is O(|batch|) (one new dir per touched partition,
    * existing dirs untouched — a uniform batch spreading over every cell
    * still appends in O(batch), where a full-content refresh would rewrite
    * the store), and a failure at any point (drift, replay, a poisoned
    * batch) leaves the index byte-identical at its previous version (the
    * store's commit contract). The replay guard reads only the touched
    * partitions' id COLUMN (a pruned scan). Returns the measured drift
    * ratio (batch mean d2 over the train-time mean). */
  def append(batch: DataFrame, centroids: DataFrame,
      maxDriftRatio: Double = Double.MaxValue): Double = {
    val baseline = trainMeanD2
    val books = frozenBooks()
    val assigned = assign(batch, centroids)
    // ONE pre-commit job: the drift statistic and the touched-partition
    // set ride the same aggregate (an append is latency-sensitive — a
    // separate action per statistic hands the win to the rebuild on pure
    // job-submission overhead, which the ann14_append_scale gate measures)
    val pre = assigned.agg(avg(col("d2")).as("mean"),
      collect_set(store.partitionId).as("touched")).collect()(0)
    require(!pre.isNullAt(0), "append batch is empty")
    val touched = pre.getSeq[Int](1).sorted
    val ratio = IvfCommon.driftRatio(pre.getDouble(0), baseline, maxDriftRatio)
    // replay guard, bounded to the touched partitions (where a same-vector
    // duplicate MUST land — same vector → same cell → same partition) and
    // FUSED into the commit's own write job
    store.append(touched, IvfCommon
      .guardReplays(encode(assigned, books), store.readPartitions(touched), idCol)
      .select(storedCols: _*))
    ratio
  }

  /** Delete vectors from the maintained index — the GDPR/right-to-erasure
    * op a persisted embedding store must support. `victims` carries the
    * SAME columns as an append batch (id + vector): the vector is what
    * localizes the delete — it re-derives the victim's cell under the
    * frozen quantizer (same argmin ⇒ same cell ⇒ same partition as when
    * it was indexed), so only the touched partitions are read,
    * anti-joined, and rewritten (a refresh commit — deletes are rewrites
    * here exactly as in every lakehouse). An id with no stored vector is
    * a loud error by default (`requirePresent`): a curation pipeline
    * deleting a doc that was never indexed usually indicates an id-space
    * bug, and silently "deleting" nothing would mask it. Returns the
    * count of rows actually removed. */
  def remove(victims: DataFrame, centroids: DataFrame,
      requirePresent: Boolean = true): Long =
    IvfCommon.removeFrom(store,
      Ann.assignCellsWithDist(victims, centroids,
        idCol, vecCol, centId, centVec, cellCol),
      idCol, storedCols, requirePresent)

  /** Compact every partition whose dir list grew past `maxDirs` appends:
    * one refresh (full-content rewrite of exactly those partitions)
    * collapses each list back to a single dir. This is the lever that
    * bounds append-path read amplification — run it on whatever cadence
    * the append:serve ratio justifies (the Delta OPTIMIZE shape). Returns
    * the compacted partition ids (empty = nothing fragmented, no commit,
    * no version bump). */
  def compact(maxDirs: Int = 1): Seq[Int] =
    IvfCommon.compactStore(store, maxDirs)

  /** Partition-pruned top-`kTop` serving over the maintained index.
    * `nprobe = |cells|` with `rerank = Int.MaxValue` probes and scores
    * everything exactly (provably exact, the oracle config); bounded
    * nprobe reads ~nprobe/C of the index, and a bounded `rerank` is the PQ
    * codec's ADC cut (the raw codec's scores are already exact). */
  def serve(queries: DataFrame, centroids: DataFrame, kTop: Int,
      nprobe: Int, rerank: Int = Int.MaxValue): DataFrame = {
    require(kTop >= 1 && nprobe >= 1 && rerank >= kTop,
      s"need kTop >= 1, nprobe >= 1, rerank >= kTop: $kTop/$nprobe/$rerank")
    // bounded-heap rank (Ann.rankTopK): candidates never cross a shuffle,
    // only n_q·kTop ranked rows do
    Ann.rankTopK(scoredCandidates(queries, centroids, nprobe, rerank), kTop)
  }

  /** Threshold (radius) neighbor join against the maintained index — the
    * SEMANTIC-DEDUP serving shape (dd8/dd17's question asked of a
    * persisted index instead of a one-shot corpus self-join): every stored
    * vector within cosine >= `minSim` of a batch vector, as
    * `(corpus_id, new_id, sim)`. Same probe machinery as [[serve]], but
    * the cut is a similarity threshold, not a rank: `nprobe = |cells|`
    * with `rerank = Int.MaxValue` examines every (batch, stored) pair
    * (provably exact, the oracle config); bounded settings are the scale
    * path whose recall trade is one-sided (a true neighbor hiding in an
    * unprobed cell or below the ADC cut is dropped, never a false one
    * added — `sim` is always the exact cosine). Identity pairs (same id)
    * are excluded so the streaming append-then-query service doesn't
    * report each row as its own duplicate. */
  def neighborsWithin(batch: DataFrame, centroids: DataFrame,
      minSim: Double, nprobe: Int, rerank: Int = Int.MaxValue): DataFrame = {
    require(nprobe >= 1 && rerank >= 1,
      s"need nprobe >= 1, rerank >= 1: $nprobe/$rerank")
    scoredCandidates(batch, centroids, nprobe, rerank)
      .filter(col("sim") >= minSim && col("c_id") =!= col("q_id"))
      .select(col("c_id").as("corpus_id"), col("q_id").as("new_id"),
        col("sim"))
  }

  /** Probe + prune + score, shared by [[serve]] and [[neighborsWithin]]:
    * derive each query's `nprobe` nearest cells ONCE, route them through
    * the store's own partitioning expression to a directory-level prune
    * (so the cells read and the cells joined can never fork), and score
    * the pruned candidates — `(q_id, c_id, sim)` with `sim` the exact
    * cosine. */
  private def scoredCandidates(queries: DataFrame, centroids: DataFrame,
      nprobe: Int, rerank: Int): DataFrame = {
    val books = frozenBooks()
    val (probeRows, probeSchema) = Ann.collectProbes(
      queries, centroids, nprobe, idCol, vecCol, centId, centVec)
    // cell type from the PINNED schema (two small files), never from a
    // read() plan — building a file index over every data dir of a large
    // appended store per serve would be O(store) driver metadata I/O
    val cellType = store.schema(cellCol).dataType
    val cells = Ann.probeCells(probeRows, cellType)
    // route the probed cells through the store's OWN partitioning
    // expression (touchedBy) — the cell column must carry the stored
    // type exactly, or xxhash64 would route to different partitions.
    // An EMPTY query batch (an idle streaming micro-batch) probes no
    // cells: read one partition anyway so the empty result keeps the
    // full output schema instead of readPartitions failing loudly
    val cellsDf = spark.createDataFrame(
      java.util.Arrays.asList(cells.map(c => Row(c)): _*),
      StructType(Seq(StructField(cellCol, cellType, nullable = false))))
    val ids = if (cells.isEmpty) Seq(0) else store.touchedBy(cellsDf)
    val pruned = store.readPartitions(ids)
    books match {
      case None => Ann.scoreOverProbes(pruned.drop("d2"), probeRows,
        probeSchema, cellCol, idCol, vecCol)
      case Some(b) =>
        // probe side: per (query, probed cell), the query's residual
        // against THAT cell -> one m×k ADC table
        val probesLocal = spark.createDataFrame(
          java.util.Arrays.asList(probeRows: _*), probeSchema)
        val cent = centroids.select(col(centId).as("cent"),
          col(centVec).cast("array<double>").as("__cv"))
        val probes = probesLocal.join(broadcast(cent), Seq("cent"))
          .withColumn("__qres", zip_with(col("q_vec").cast("array<double>"),
            col("__cv"), (a, b) => a - b))
          .select(col("q_id"), col("cent").cast(cellType).as(cellCol),
            Pq.distanceTable(col("__qres"), b).as("__dtab"))
        // ADC scan: ONLY (cell, id, code) of the probed partitions — the
        // parquet reader prunes the raw-vector column out of this stage
        val scored = pruned.select(col(cellCol), col(idCol).as("c_id"), col("code"))
          .join(broadcast(probes), Seq(cellCol))
          .withColumn("adc", graft.functions.VectorExprFunctions
            .pq_adc(col("code"), col("__dtab")))
        // exact rerank: |queries|·rerank raw vectors, equi-joined from the
        // probed partitions after the cut
        val qVecs = probesLocal.select(col("q_id"),
          col("q_vec").cast("array<double>").as("q_vec"))
          .dropDuplicates("q_id")
        Pq.adcCut(scored, rerank)
          .join(pruned.select(col(idCol).as("c_id"),
            col(vecCol).cast("array<double>").as("__cvec")), Seq("c_id"))
          .join(broadcast(qVecs), Seq("q_id"))
          .select(col("q_id"), col("c_id"), graft.functions.VectorFunctions
            .cosine(col("q_vec"), col("__cvec")).as("sim"))
    }
  }
}
