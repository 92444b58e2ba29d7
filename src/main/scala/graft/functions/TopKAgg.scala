package graft.functions

import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge}
import org.apache.spark.sql.functions.{col, explode, posexplode, struct}

/**
 * Bounded top-k-per-key aggregation built on Catalyst's `CollectTopK`
 * (spark-catalyst collect.scala) — a heap-bounded Collect whose partial
 * (map-side) aggregation keeps at most k rows per key per partition.
 *
 * Relation to the window pattern (`row_number() over (...) <= k`): Spark 4
 * already bounds THAT shuffle too, via the partial `WindowGroupLimit`
 * below the exchange — both shapes move O(k × |keys| × |map partitions|)
 * rows. What the heap aggregate removes is the two SORTS the window plan
 * keeps (a map-side sort of the full input feeding the partial group
 * limit, and a reduce-side sort under the final Window): candidates heap
 * in O(n log k) with no sort at all. The trade: the aggregation buffer
 * carries the sort-key struct alongside the payload, so shuffled bytes
 * run wider than the window's plain rows (measured by the since-removed
 * `shufflebytes` probe). Use it where rows-per-key is large and
 * the sort is the cost (kNN candidates, fuzzy-link scoring, per-key
 * truncation over wide retrieval rows); for k = 1 prefer a codegen'd
 * `min_by`/`max_by` winner (half the window's bytes, no object
 * aggregation — see Processors.dedupResults).
 *
 * Ordering: rows rank by the BINARY ascending order of a packed sort-key
 * struct; k smallest survive. Descending numeric keys enter negated (the
 * caller builds the key columns), exactly like a sort key list.
 *
 * Sort-key columns must be NON-NULL: struct ordering ranks a null field
 * first (ascending), where the window pattern's `desc` ranks nulls last —
 * a null score would silently win here and lose there. Likewise they must
 * be FINITE: `negate(score)` ascending ranks NaN last where `desc(score)`
 * ranks NaN first, so winners differ if a score is ever NaN. Every current
 * call site computes its score from finite inputs (and cosine guards
 * zero norms), so both contracts hold by construction.
 *
 * The whole input frame must also be ORDERABLE: the sort-key struct embeds
 * the full payload row as its final tiebreak field, so a MapType column
 * anywhere in the frame throws AnalysisException here where the window
 * formulation (which never orders the payload) worked. Project map-typed
 * metadata out (or serialize it) before a topKPerKey/truncate call.
 */
object TopKAgg {

  /** Aggregate Column: the k smallest `sortKey`-ordered elements, ascending.
    * `sortKey` must be orderable (struct of orderable fields is fine). */
  def smallestK(sortKey: Column, k: Int): Column =
    GraftSqlBridge.collectTopK(sortKey, k, reverse = true)

  /** Aggregate Column: the k largest elements, descending. */
  def largestK(sortKey: Column, k: Int): Column =
    GraftSqlBridge.collectTopK(sortKey, k, reverse = false)

  /**
   * Keep the top `k` rows per `keyCols` group, ordered by `asc` sort
   * columns ascending (negate numerics in the caller for descending) —
   * the `row_number() over (partition by key order by ...) <= k` pattern
   * as one hash aggregate with map-side heap combine. All input columns
   * survive; output column order is preserved.
   *
   * The sort columns must make the per-group order total (unique tiebreak),
   * or the kept set would be nondeterministic — same contract as the
   * window version, which this replaces row-for-row.
   */
  def topKPerKey(df: DataFrame, keyCols: Seq[String], asc: Seq[Column],
                 k: Int): DataFrame = {
    val payload = struct(df.columns.toIndexedSeq.map(col): _*).as("_row")
    val sortKey = struct(asc.zipWithIndex.map { case (c, i) =>
      c.as(s"_k$i")
    } :+ payload: _*)
    df.groupBy(keyCols.map(col): _*)
      .agg(smallestK(sortKey, k).as("_top"))
      .select(explode(col("_top")).as("_e"))
      .select(col("_e._row.*"))
  }

  /** [[topKPerKey]] plus a 1-based within-group rank column in the sort
    * order — `CollectTopK.eval` emits the heap sorted (collect.scala:
    * sorted(ordering.reverse)), so the rank is the array position, free. */
  def topKPerKeyRanked(df: DataFrame, keyCols: Seq[String], asc: Seq[Column],
                       k: Int, rankCol: String): DataFrame = {
    val payload = struct(df.columns.toIndexedSeq.map(col): _*).as("_row")
    val sortKey = struct(asc.zipWithIndex.map { case (c, i) =>
      c.as(s"_k$i")
    } :+ payload: _*)
    df.groupBy(keyCols.map(col): _*)
      .agg(smallestK(sortKey, k).as("_top"))
      .select(posexplode(col("_top")).as(Seq("_pos", "_e")))
      .select(col("_e._row.*") +: Seq((col("_pos") + 1).as(rankCol)): _*)
  }
}
