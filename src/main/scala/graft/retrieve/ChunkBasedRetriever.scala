package graft.retrieve

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.{VectorFunctions => V}
import graft.index.GraphTables
import graft.ops.Similarity

/**
 * ChunkBasedSearch: vector top-k over chunk embeddings (with per-source
 * diversity) → chunk→statement→topic→source traversal joins → per-statement
 * fact aggregation → the central materialization shape
 * (reference: chunk_based_search.py:88-102 +
 * traversal_based_base_retriever.py:143-217).
 *
 * The traversal is a chain of broadcast joins seeded by the (tiny) top-k
 * chunk id set — the Spark analog of `WHERE chunkId IN $chunkIds`.
 */
object ChunkBasedRetriever {

  def search(
      g: GraphTables,
      queryEmbedding: Seq[Double],
      vssTopK: Int = graft.model.Defaults.VssTopK,
      diversityFactor: Int = graft.model.Defaults.VssDiversityFactor): DataFrame = {

    // Seed: diverse vector top-k over chunks (§2.3).
    val seedChunks = Similarity.diverseTopK(
      g.chunks, "embedding", "chunk_id", "source_id",
      queryEmbedding, vssTopK, diversityFactor)
      .select(col("id").as("chunk_id"), col("score").as("vss_score"))

    // Traversal joins: statements mentioned in the seed chunks, their topics
    // and sources; fact support counts become statement scores
    // (reference traversal_base:208-216 score = number of supporting facts).
    val stmts = g.statements
      .join(broadcast(seedChunks), Seq("chunk_id"))
    val factCounts = g.factSupports
      .join(broadcast(stmts.select("statement_id")), Seq("statement_id"), "left_semi")
      .groupBy("statement_id").agg(count(lit(1)).as("n_facts"))
    stmts
      .join(factCounts, Seq("statement_id"), "left")
      .join(g.chunks.select(col("chunk_id"), col("source_id")), Seq("chunk_id"))
      .select(
        col("source_id"), col("topic_id"), col("statement_id"), col("chunk_id"),
        col("value").as("statement"),
        coalesce(col("n_facts"), lit(0L)).cast("double").as("score"))
  }

  /** ChunkCosineSearch (reference chunk_cosine_search.py:40-93): prefetch a
    * small candidate set from the vector store, rescore those candidates by
    * cosine, keep topK. The reference's two stages exist because prefetch is
    * an OpenSearch RPC and the rescore runs on cached embeddings; here both
    * are one plan — prefetch = TakeOrderedAndProject, rescore a semi-join. */
  def chunkCosineSearch(
      g: GraphTables,
      queryEmbedding: Seq[Double],
      topK: Int = 100,
      prefetch: Int = 5): DataFrame = {
    val seeds = Similarity.topK(
      g.chunks, "embedding", "chunk_id", queryEmbedding, prefetch)
      .select(col("id").as("chunk_id"))
    Similarity.topK(
      g.chunks.join(broadcast(seeds), Seq("chunk_id"), "left_semi"),
      "embedding", "chunk_id", queryEmbedding, topK)
      .select(col("id").as("chunk_id"), col("score"))
  }

  /** ChunkBasedSemanticSearch (reference chunk_based_semantic_search.py:
    * 94-207): cosine-seeded chunk ids expanded by the semantic chunk beam,
    * then statements of topics mentioned in the expanded chunk set — the
    * `(l)-[:BELONGS_TO]->()-[:MENTIONED_IN]->(c)` traversal — scored by
    * supporting-fact count like the base search. */
  def semanticSearch(
      g: GraphTables,
      queryEmbedding: Seq[Double],
      beamWidth: Int = graft.model.Defaults.ChunkBeamWidth,
      beamDepth: Int = graft.model.Defaults.ChunkBeamDepth,
      prefetch: Int = 5,
      scoringMode: String = "cosine"): DataFrame = {
    val seeds = chunkCosineSearch(g, queryEmbedding, prefetch = prefetch)
      .select("chunk_id")
    val expanded = ChunkBeamSearch
      .search(g, seeds, queryEmbedding, beamWidth, beamDepth, scoringMode)
      .select("chunk_id")
    // beam output is width*depth-bounded — broadcast is safe
    val topicIds = g.topicMentionedIn
      .join(broadcast(expanded), Seq("chunk_id"))
      .select("topic_id").distinct()
    val stmts = g.statements.join(broadcast(topicIds), Seq("topic_id"))
    val factCounts = g.factSupports
      .join(stmts.select("statement_id"), Seq("statement_id"), "left_semi")
      .groupBy("statement_id").agg(count(lit(1)).as("n_facts"))
    stmts
      .join(factCounts, Seq("statement_id"), "left")
      .join(g.chunks.select(col("chunk_id"), col("source_id")), Seq("chunk_id"))
      .select(
        col("source_id"), col("topic_id"), col("statement_id"), col("chunk_id"),
        col("value").as("statement"),
        coalesce(col("n_facts"), lit(0L)).cast("double").as("score"))
  }

  /** Full flagship dataflow: search → processor chain → formatted context
    * (reference DEFAULT_PROCESSORS order, traversal_base:24-46). */
  def query(
      g: GraphTables,
      queryEmbedding: Seq[Double],
      vssTopK: Int = graft.model.Defaults.VssTopK,
      maxStatementsPerTopic: Int = graft.model.Defaults.MaxStatementsPerTopic,
      maxResults: Int = graft.model.Defaults.MaxSearchResults): DataFrame =
    Processors.formatContext(processedResults(
      g, queryEmbedding, vssTopK, maxStatementsPerTopic, maxResults))

  /** The default chain's flat scored frame before context formatting —
    * feed to any Processors.formatContext* renderer. */
  def processedResults(
      g: GraphTables,
      queryEmbedding: Seq[Double],
      vssTopK: Int = graft.model.Defaults.VssTopK,
      maxStatementsPerTopic: Int = graft.model.Defaults.MaxStatementsPerTopic,
      maxResults: Int = graft.model.Defaults.MaxSearchResults): DataFrame =
    defaultChain(search(g, queryEmbedding, vssTopK),
      maxStatementsPerTopic, maxResults)

  /** The default chain over a search frame: Dedup → Rescore →
    * TruncateStatements → TruncateResults. */
  def defaultChain(
      raw: DataFrame,
      maxStatementsPerTopic: Int = graft.model.Defaults.MaxStatementsPerTopic,
      maxResults: Int = graft.model.Defaults.MaxSearchResults): DataFrame =
    Seq[DataFrame => DataFrame](
      Processors.dedupResults,
      Processors.rescoreResults,
      df => Processors.truncateStatements(df, maxStatementsPerTopic),
      df => Processors.truncateResults(df, maxResults)
    ).foldLeft(raw)((df, p) => p(df))

  /** The reference's complete DEFAULT_PROCESSORS + DEFAULT_FORMATTING_PROCESSORS
    * chain (traversal_based_base_retriever.py:24-46), end-to-end over the flat
    * frame: Dedup → Disaggregate → RemoveVersioningMetadata → FilterByMetadata
    * → PopulateStatementStrs → RerankStatements → PruneStatements → Rescore →
    * Sort → TruncateStatements → UpdateChunkMetadata → ClearScores, then
    * StatementsToStrings → SimplifySingleTopicResults → FormatSources →
    * ClearChunks → ClearTopicIds → TruncateResults. Returns the final flat
    * formatted frame (source_rank, source_str, topic value, statement string);
    * feed it to Processors.formatContext* for a rendered context. */
  def fullQuery(
      g: GraphTables,
      queryEmbedding: Seq[Double],
      metadataFilter: Option[graft.filter.FilterAst.Filter] = None,
      reranker: Option[DataFrame => DataFrame] = None,
      topicReranker: Option[DataFrame => DataFrame] = None,
      includeFacts: Boolean = true,
      vssTopK: Int = graft.model.Defaults.VssTopK,
      maxStatementsPerTopic: Int = graft.model.Defaults.MaxStatementsPerTopic,
      maxResults: Int = graft.model.Defaults.MaxSearchResults): DataFrame = {
    val factValues = g.factSupports
      .join(g.facts.select(col("fact_id"), col("value").as("fact_value")),
        Seq("fact_id"))
      .select("statement_id", "fact_value")
    val cleanSources = Processors.removeVersioningMetadata(g.sources)
    val raw = search(g, queryEmbedding, vssTopK)
    // graph sources carry metadata as a map column — resolve filter keys
    // through it (reference FilterConfig applies to source metadata dicts)
    val filtered = metadataFilter.fold(raw)(f =>
      Processors.filterByMetadata(raw, cleanSources
        .select(col("source_id"), col("metadata")), f,
        k => col("metadata")(k)))
    val processed = Seq[DataFrame => DataFrame](
      Processors.dedupResults,
      Processors.disaggregateResults,
      df => Processors.populateStatementStrs(df, factValues),
      df => Processors.rerankStatements(df, reranker),
      // optional [RerankTopics] slot between the statement reranker and
      // pruning (reference traversal_base chain position)
      df => topicReranker.fold(df)(f => f(df).drop("topic_rr_score")),
      df => Processors.pruneStatements(df),
      Processors.rescoreResults,
      df => Processors.truncateStatements(df, maxStatementsPerTopic),
      // rank-and-truncate binds to result_score here, while it still exists —
      // the reference's formatting-time TruncateResults keeps the list head
      // whose order SortResults established before ClearScores nulled scores
      df => Processors.truncateRankResults(df, maxResults),
      df => Processors.updateChunkMetadata(df, g.chunks),
      df => Processors.clearScores(df)
    ).foldLeft(filtered)((df, p) => p(df))
    val formatted = Seq[DataFrame => DataFrame](
      df => Processors.statementsToStrings(df, includeFacts),
      df => Processors.simplifySingleTopicResults(df),
      Processors.clearChunks,
      df => df.join(
        g.topics.select(col("topic_id"), col("value").as("topic")),
        Seq("topic_id"), "left"),
      Processors.clearTopicIds
    ).foldLeft(processed)((df, p) => p(df))
    formatted
      .join(Processors.formatSources(cleanSources)
        .select("source_id", "source_str"), Seq("source_id"), "left")
      .select(col("source_rank"), col("source_str"), col("single_topic"),
        col("topic"), col("statement"), col("score"))
      .orderBy(col("source_rank"), col("topic"), desc("score"), col("statement"))
  }
}
