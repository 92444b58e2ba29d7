package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.{HashFunctions => H}

/**
 * Deterministic sampling.
 *
 * Random-number sampling (`df.sample`) depends on partition layout and RNG
 * state, so a resumed or re-partitioned 100 TB job samples a different set.
 * Hash sampling decides per ROW from a content hash: the same row is in or
 * out under any partitioning, any executor count, any engine — which also
 * makes it DuckDB-replayable and joinable across tables (sample the same
 * entities everywhere). The reference's InferClassifications chunk sampling
 * is the same idea's in-memory cousin
 * (indexing/extract/infer_classifications.py).
 */
object Sampling {

  /**
   * Cluster-balanced (diversity) sampling: keep up to `perCell` rows per
   * cluster cell, chosen by content hash within the cell — the
   * cluster-then-sample step that flattens a skewed embedding-space
   * density into a diverse training draw (pair with
   * [[graft.ops.MlAnn.assignCells]] for the cells). Adds a 1-based
   * `rankCol` in hash order. One heap aggregate
   * ([[graft.functions.TopKAgg]]), map-side combine, O(perCell) state per
   * cell — no window sort over the corpus, so a billion-row cell costs
   * one pass. Hash-chosen: the draw is stable under repartitioning and
   * monotone in `perCell`.
   */
  def clusterBalanced(assigned: DataFrame, idCol: String, cellCol: String,
                      perCell: Int, salt: String = "",
                      rankCol: String = "rn"): DataFrame = {
    require(perCell >= 1, s"perCell must be >= 1, got $perCell")
    // order by the 60-bit integer hash, not a [0,1) double: the division
    // is monotone but collapses 60 bits onto 53, and the oracle must
    // tie-break identically
    val h = H.h60(concat_ws("#", lit(salt), col(idCol).cast("string")))
    graft.functions.TopKAgg.topKPerKeyRanked(
      assigned, Seq(cellCol), Seq(h, col(idCol)), perCell, rankCol)
  }
}
