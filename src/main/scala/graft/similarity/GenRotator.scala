package graft.similarity

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The generation/pointer machinery behind [[RotatingIvfIndex]]'s online
  * rebuilds, whatever the index's codec: each build lands in a fresh
  * generation directory with its frozen centroids persisted beside it (a
  * generation is self-consistent by construction), a small `current`
  * pointer file promotes it in one atomic rename, readers resolve the
  * pointer per call, the predecessor generation outlives the swap for
  * in-flight readers, and older/orphaned generations (plus crashed
  * writers' pointer tmp files) are reclaimed at the next promote.
  *
  * Writer discipline: every MUTATION of the same rotating root
  * (rotate/append/remove/compact, via [[writerLock]]) serializes on one
  * per-normalized-root JVM monitor — the same shape as
  * [[graft.store.PartitionedStore]]'s commit lock — so an in-process
  * append can never interleave with a rotate's promote and strand its
  * batch in a superseded generation. Readers (serve) never take the lock:
  * rebuild-while-serving stays blackout-free. Writers in DIFFERENT
  * processes are outside the monitor's reach; the supported deployment is
  * ONE writer process (unlimited readers), and the rotating wrapper
  * backs that doctrine with a post-commit pointer re-check that turns a
  * cross-process promote-during-write into a loud error instead of a
  * silently vanished batch. */
private[graft] final class GenRotator(val spark: SparkSession,
    val root: String) {

  private def rootPath: Path = Paths.get(root)
  private def pointerPath: Path = rootPath.resolve("current")

  /** The per-root monitor every writer of this rotating index family
    * holds for its whole mutation (resolve → commit → re-check). */
  private[graft] def writerLock: Object = GenRotator.lock(rootPath)

  /** Test-only fault-injection seam: invoked after each ordered step of
    * [[rotate]] (`centroidsPersisted`, `genBuilt`, `ptrWritten`,
    * `promoted`) so FaultInjectionSpec can snapshot the exact on-disk
    * state a crash at that point would leave. No-op in production. */
  private[graft] var onStep: String => Unit = _ => ()

  /** Run one non-rotate mutation (append/remove/compact) against the live
    * generation under [[writerLock]]: resolve the pointer, run `body`
    * against that generation, then RE-READ the pointer — if a promote
    * slipped in between (only a writer in ANOTHER process can do that;
    * in-process rotates hold the same monitor), the commit just landed in
    * a superseded generation that the next rotate will reclaim, so fail
    * LOUDLY naming the stranded operation instead of letting the batch
    * silently vanish from the served view. The inner commit itself is
    * crash-safe (the store's contract); this guard closes the
    * lost-VISIBILITY window on top of it. */
  private[graft] def guardedWrite[A](op: String)(body: String => A): A =
    writerLock.synchronized {
      val gen = currentGen()
      onStep(s"resolved:$op")
      val result = body(gen)
      val now = currentGen()
      if (now != gen)
        throw new java.util.ConcurrentModificationException(
          s"rotating index at $root: generation $gen was promoted away " +
            s"to $now while a $op was committing into it — the $op's " +
            "batch is stranded in the superseded generation (reclaimed at " +
            "the next rotate) and is NOT in the served view; re-apply it " +
            "against the live generation. A second writer PROCESS did " +
            "this: the supported deployment is one writer process")
      result
    }

  /** The live generation's directory name (one small file read). */
  def currentGen(): String = {
    require(Files.exists(pointerPath), s"rotating index at $root not built")
    new String(Files.readAllBytes(pointerPath), "UTF-8").trim
  }

  def genDir(gen: String): Path = rootPath.resolve(gen)

  /** The generation's FROZEN centroids — always read from the persisted
    * copy, never a caller-held frame, so quantizer and data can't fork. */
  def genCentroids(gen: String): DataFrame =
    spark.read.parquet(genDir(gen).resolve("centroids.parquet").toString)

  /** Run one rebuild: persist the centroids into a fresh generation dir,
    * let `build` construct the index there AGAINST THE PERSISTED COPY,
    * promote with one atomic pointer rename, then reclaim everything but
    * the new generation and its predecessor. Holds [[writerLock]] end to
    * end: a concurrent in-process append/remove waits and then lands in
    * the PROMOTED generation (never the one about to be superseded), and
    * two concurrent rotates can no longer interleave their promotes or
    * delete each other's pointer tmp files. */
  def rotate(centroids: DataFrame)(build: (String, DataFrame) => Unit): Unit =
    writerLock.synchronized {
      Files.createDirectories(rootPath)
      val prev = if (Files.exists(pointerPath)) Some(currentGen()) else None
      val gen = s"gen${System.nanoTime()}"
      centroids.write.mode("overwrite")
        .parquet(genDir(gen).resolve("centroids.parquet").toString)
      onStep("centroidsPersisted")
      // build against the JUST-PERSISTED copy, not the caller's frame: a
      // lazy centroids plan would otherwise re-execute here, and a plan
      // that isn't replay-stable would persist quantizer X while assigning
      // the data under quantizer Y — self-consistency must be structural
      build(genDir(gen).toString, genCentroids(gen))
      onStep("genBuilt")
      // the promote: readers resolve old-or-new, never a mix
      val tmp = rootPath.resolve(s".ptr${System.nanoTime()}")
      Files.write(tmp, gen.getBytes("UTF-8"))
      onStep("ptrWritten")
      Files.move(tmp, pointerPath,
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
      onStep("promoted")
      // reclaim all generations except the new one and its predecessor,
      // plus any crash-orphaned pointer tmp files
      val keep = Set(gen) ++ prev
      import scala.jdk.CollectionConverters._
      val s = Files.list(rootPath)
      val stale = try s.iterator().asScala.filter { p =>
        val name = p.getFileName.toString
        (Files.isDirectory(p) && name.startsWith("gen") &&
          !keep.contains(name)) || name.startsWith(".ptr")
      }.toSeq finally s.close()
      stale.foreach(graft.util.Scratch.deleteRecursive)
    }
}

private[graft] object GenRotator {
  // one writer monitor per normalized rotating-index root, JVM-wide —
  // two wrapper instances over the same directory (whatever their codecs)
  // serialize on the SAME object. Bounded by the number of distinct roots
  // the driver opens; never reclaimed (reclaiming would reintroduce the
  // race).
  private val locks =
    new java.util.concurrent.ConcurrentHashMap[Path, Object]()
  private def lock(root: Path): Object =
    locks.computeIfAbsent(root.toAbsolutePath.normalize, _ => new Object)
}
