package graft.similarity

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Drift-triggered ONLINE rebuild for the maintained IVF index — serving
  * continuity across a retrain, for either [[IvfCodec]]. [[IvfIndex]]'s
  * drift guard says "re-train and rebuild", but a rebuild IN PLACE would
  * black out serving for the whole build; this wraps the index in one more
  * level of pointer indirection (the [[graft.store.BucketStore]]
  * secondary-buffer promote generalized to a whole index): each build
  * lands in a fresh GENERATION directory — its frozen centroids persisted
  * beside it, and the PQ codec's codebooks persisted by the build itself,
  * so a generation is self-consistent by construction — and a small
  * `current` pointer file swaps atomically to the new generation once it
  * is fully built. Serves resolve the pointer PER CALL: a serve that
  * started before the swap reads the old generation end to end, one after
  * reads the new — never a mix of quantizer (or PQ tables) and data
  * (RotatingIvfSpec races a serve loop against a live rebuild to pin
  * exactly that). The reference analog is the secondary-buffer primary
  * swap (`aleph2_search_index_service_elasticsearch/.../utils/
  * ElasticsearchIndexUtils.java:68-87` and the alias rollover in
  * `.../services/ElasticsearchIndexService.java:335-391`).
  *
  * Retention: the PREVIOUS generation outlives the swap (an in-flight
  * serve may still be reading it — the same bounded reader-grace contract
  * as BucketStore.bufferAndPromote); older generations and crash-orphaned
  * never-promoted builds are reclaimed at the next rebuild.
  *
  * Centroids ownership: callers hand centroids to [[build]]/[[rebuild]]
  * ONCE; [[append]]/[[remove]]/[[serve]] read the live generation's
  * persisted copy, so a caller can never pair gen-N queries with gen-M
  * data — the failure mode a bare IvfIndex + external centroid frame
  * leaves open across a retrain.
  *
  * Writer contract: all mutations (append/remove/compact/rebuild) of one
  * root serialize on a per-root JVM monitor ([[GenRotator.writerLock]]),
  * so an in-process append can never commit into a generation a
  * concurrent rebuild is about to supersede — it waits and lands in the
  * promoted one. Across PROCESSES the supported deployment is one writer
  * (unlimited readers, same doctrine as
  * [[graft.store.PartitionedStore]]); if a second process violates that
  * and promotes mid-write, the post-commit pointer re-check
  * ([[GenRotator.guardedWrite]]) fails the write LOUDLY naming the
  * stranded batch instead of letting it silently vanish at the next
  * reclaim. Serves never take the lock: rebuild-while-serving stays
  * blackout-free.
  */
final class RotatingIvfIndex(val spark: SparkSession, val root: String,
    val nPartitions: Int, val codec: IvfCodec = IvfCodec.Raw,
    val idCol: String = "vec_id", val vecCol: String = "embedding",
    val centId: String = "cent_id", val centVec: String = "cent_vec") {

  private[graft] val rotator = new GenRotator(spark, root)

  /** The live generation's directory name (pointer read — two small
    * files' worth of metadata, resolved fresh on every operation). */
  def currentGen(): String = rotator.currentGen()

  private def index(dir: String): IvfIndex = new IvfIndex(spark, dir,
    nPartitions, codec, idCol, vecCol, "cell", centId, centVec)

  /** Generation `gen` as an [[IvfIndex]] plus its frozen centroids —
    * resolved together, so every composed operation is self-consistent. */
  private def resolve(gen: String): (IvfIndex, DataFrame) =
    (index(rotator.genDir(gen).toString), rotator.genCentroids(gen))

  /** The live generation, [[resolve]]d. */
  def current(): (IvfIndex, DataFrame) = resolve(currentGen())

  /** First build — same mechanics as [[rebuild]] (a rebuild with nothing
    * to retain). */
  def build(corpus: DataFrame, centroids: DataFrame): Unit =
    rebuild(corpus, centroids)

  /** Retrain-and-swap: build the new quantizer's index (and, for the PQ
    * codec, its codebooks) into a FRESH generation directory while the
    * live one keeps serving, then promote it with one atomic pointer
    * rename ([[GenRotator]]'s contract: the previous generation is
    * retained for in-flight serves; everything older, and crash orphans,
    * is reclaimed). */
  def rebuild(corpus: DataFrame, centroids: DataFrame): Unit =
    rotator.rotate(centroids)((dir, frozen) => index(dir).build(corpus, frozen))

  /** Run `op` against the live generation's index and frozen centroids
    * under the writer contract (serialized against rebuilds). */
  private def write[A](name: String)(op: (IvfIndex, DataFrame) => A): A =
    rotator.guardedWrite(name)(gen => op.tupled(resolve(gen)))

  /** O(batch) append into the LIVE generation under its frozen models;
    * past `maxDriftRatio` this fails loudly — and [[rebuild]] is the
    * remediation the message names. */
  def append(batch: DataFrame, maxDriftRatio: Double = Double.MaxValue): Double =
    write("append")(_.append(batch, _, maxDriftRatio))

  /** Erasure against the live generation ([[IvfIndex.remove]]). NOTE: a
    * retained PREVIOUS generation still holds the victims until the next
    * rebuild or its reclaim — right-to-erasure pipelines should follow a
    * remove with a [[rebuild]] (or delete the previous generation) once
    * in-flight serves drain. */
  def remove(victims: DataFrame, requirePresent: Boolean = true): Long =
    write("remove")(_.remove(victims, _, requirePresent))

  /** Compaction lever on the live generation ([[IvfIndex.compact]]). */
  def compact(maxDirs: Int = 1): Seq[Int] =
    write("compact")((idx, _) => idx.compact(maxDirs))

  /** Partition-pruned serve over the live generation — pointer, index and
    * centroids (and codebooks) resolved together per call. Semantics are
    * [[IvfIndex.serve]]'s. */
  def serve(queries: DataFrame, kTop: Int, nprobe: Int,
      rerank: Int = Int.MaxValue): DataFrame = {
    val (idx, cents) = current()
    idx.serve(queries, cents, kTop, nprobe, rerank)
  }

  /** Threshold (radius) serve through the live generation — resolves the
    * pointer per call exactly like [[serve]], so the dedup service keeps
    * answering across a rebuild with no blackout and never a mixed
    * quantizer/data read. Semantics are [[IvfIndex.neighborsWithin]]'s. */
  def neighborsWithin(batch: DataFrame, minSim: Double, nprobe: Int,
      rerank: Int = Int.MaxValue): DataFrame = {
    val (idx, cents) = current()
    idx.neighborsWithin(batch, cents, minSim, nprobe, rerank)
  }
}
