package graft.similarity

import org.apache.spark.sql.SparkSession

/** The PQ-coded maintained index under its own name: an [[IvfIndex]] with
  * the [[IvfCodec.Pq]] codec (`m` residual codes of `k` entries each). The
  * lifecycle, serving and crash contract are all [[IvfIndex]]'s. */
final class IvfPqIndex(spark: SparkSession, root: String, nPartitions: Int,
    m: Int, k: Int, idCol: String = "vec_id", vecCol: String = "embedding",
    cellCol: String = "cell", centId: String = "cent_id",
    centVec: String = "cent_vec")
  extends IvfIndex(spark, root, nPartitions, IvfCodec.Pq(m, k), idCol, vecCol,
    cellCol, centId, centVec)
