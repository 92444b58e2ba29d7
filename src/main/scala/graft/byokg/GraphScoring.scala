package graft.byokg

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * GraphScoringRetriever (reference byokg graph_retrievers.py:186-250):
 * multi-hop triplet expansion with two pruning stages and a final rerank —
 * k-hop triplets → prune the RELATION vocabulary to `maxRelations` by query
 * relevance → keep only triplets on surviving relations → merged
 * verbalization → prune merged lines to `maxTriplets` → rerank top-k.
 *
 * Every stage is a DataFrame op: the relation vocabulary and the merged
 * line set are the only rerank inputs, and both are bounded (vocabulary ≤
 * label count, lines capped by the pruning stages), so the rerank top-k
 * stays a TakeOrderedAndProject. The k-hop expansion holds the triplet set
 * on the driver only while it fits in [[Traversal.ProbeRowCap]] rows.
 */
object GraphScoringRetriever {

  def retrieve(edges: DataFrame, seeds: DataFrame, query: String,
               reranker: Reranker,
               pruningReranker: Option[Reranker] = None,
               hops: Int = 2, topk: Int = 10,
               maxRelations: Int = 20, maxTriplets: Int = 100): DataFrame = {
    val pruner = pruningReranker.getOrElse(reranker)
    val triplets = Traversal.kHopTriplets(edges, seeds, hops)
      .localCheckpoint(true)
    // stage 1: prune the relation vocabulary (verbalize_relations + rerank)
    val rels = triplets.select(col("label")).distinct()
    val keptRels = pruner
      .rerankTopK(query, rels.withColumn("ord", col("label")),
        "label", maxRelations, "ord")
      .select("label")
    val filtered = triplets.join(broadcast(keptRels), Seq("label"), "left_semi")
    // stage 2: merged verbalization, pruned to maxTriplets
    val merged = Traversal.verbalizeTripletsMerged(filtered)
    val pruned = pruner
      .rerankTopK(query, merged.withColumn("ord", col("text")),
        "text", maxTriplets, "ord")
      .drop("rerank_score")
    // final rerank to top-k
    reranker.rerankTopK(query, pruned, "text", topk, "ord")
      .select(col("text"), col("rerank_score"))
  }
}
