package graft.similarity

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.store.PartitionedStore

/** Machinery shared by the maintained indexes ([[IvfIndex]] under either
  * codec, and the dedup-side [[graft.dedup.LshIndex]]): the drift
  * statistic, the erasure commit, compaction, replay guarding, and the
  * meta-file field parse. One definition each — a hardening fix (the
  * round-14 stale-baseline and empty-erasure class) lands once instead of
  * per index. */
private[graft] object IvfCommon {

  /** Parse a numeric field out of a tiny hand-written meta JSON. */
  def metaField(metaPath: Path, name: String, notBuilt: String): Double = {
    require(Files.exists(metaPath), notBuilt)
    val body = new String(Files.readAllBytes(metaPath), "UTF-8")
    ("\"" + name + "\"\\s*:\\s*([-0-9.eE]+)").r.findFirstMatchIn(body)
      .getOrElse(throw new IllegalStateException(
        s"malformed meta at $metaPath: $body")).group(1).toDouble
  }

  /** Drift ratio of a batch's mean d2 against the frozen train-time
    * baseline; throws past `maxDriftRatio` naming the no-blackout
    * remediation (a rotating rebuild re-freezes the quantizer and, for
    * the PQ codec, the codebooks with it). A zero baseline (every
    * training vector ON its centroid) with a zero-distance batch is NO
    * drift, not infinite drift. */
  def driftRatio(mean: Double, baseline: Double,
      maxDriftRatio: Double): Double = {
    val ratio =
      if (baseline > 0) mean / baseline
      else if (mean == 0) 1.0
      else Double.PositiveInfinity
    if (ratio > maxDriftRatio)
      throw new IllegalStateException(
        f"quantizer drift: batch mean d2 $mean%.6f is $ratio%.2fx the " +
          f"train-time mean $baseline%.6f (max $maxDriftRatio%.2f) — " +
          "re-train the centroids and rebuild the index " +
          "(RotatingIvfIndex.rebuild swaps a fresh build in without a " +
          "serving blackout)")
    ratio
  }

  /** The replay guard FUSED into an append's write lineage: left-join the
    * batch onto the touched partitions' id column and poison any id that
    * already exists, so a replayed batch fails the write loudly (store
    * tears the partial down) without a separate pre-pass. */
  def guardReplays(assigned: DataFrame, existingIds: DataFrame,
      idCol: String): DataFrame =
    assigned.join(existingIds.select(col(idCol), lit(1).as("__dup")),
        Seq(idCol), "left")
      .withColumn(idCol,
        when(col("__dup").isNull, col(idCol))
          .otherwise(raise_error(concat(
            lit("append batch replays an id already in the index: "),
            col(idCol).cast("string")))))

  /** Erasure against `store`: `assigned` carries the victims routed to
    * their cells (frozen-quantizer argmin, so only touched partitions
    * move). ONE id-column-pruned pass computes the removed and missing
    * counts; the only full read of the touched partitions is the refresh
    * write itself. Empty batches are 0-row no-ops. */
  def removeFrom(store: PartitionedStore, assigned: DataFrame,
      idCol: String, storedCols: Seq[Column],
      requirePresent: Boolean): Long = {
    val touched = store.touchedBy(assigned)
    if (touched.isEmpty) return 0L
    val current = store.readPartitions(touched)
    val victimIds = assigned.select(col(idCol))
    val stats = current.select(col(idCol)).withColumn("__c", lit(1))
      .join(victimIds.distinct().withColumn("__v", lit(1)), Seq(idCol), "full")
      .agg(
        sum(when(col("__c").isNotNull && col("__v").isNotNull, 1L)
          .otherwise(0L)).as("removed"),
        sum(when(col("__c").isNull, 1L).otherwise(0L)).as("missing"))
      .collect()(0)
    val removed = if (stats.isNullAt(0)) 0L else stats.getLong(0)
    val missing = if (stats.isNullAt(1)) 0L else stats.getLong(1)
    if (requirePresent && missing > 0) {
      // error path only: name a small sample of the absent ids
      val sample = victimIds
        .join(current.select(col(idCol)), Seq(idCol), "left_anti")
        .limit(5).collect().map(_.get(0))
      throw new IllegalArgumentException(
        s"remove batch names $missing ids not in the index: " +
          sample.mkString(", "))
    }
    store.refresh(touched,
      current.join(victimIds, Seq(idCol), "left_anti").select(storedCols: _*))
    removed
  }

  /** Compact every partition whose dir list grew past `maxDirs` appends
    * back to one dir — the OPTIMIZE lever bounding append-path read
    * amplification. Returns the compacted ids (empty = no commit). */
  def compactStore(store: PartitionedStore, maxDirs: Int): Seq[Int] = {
    require(maxDirs >= 1, s"maxDirs must be >= 1: $maxDirs")
    val frag = store.dirCounts().collect {
      case (i, n) if n > maxDirs => i
    }.toSeq.sorted
    if (frag.nonEmpty) store.refresh(frag, store.readPartitions(frag))
    frag
  }
}
