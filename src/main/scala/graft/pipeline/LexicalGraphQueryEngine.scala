package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.filter.FilterAst
import graft.index.{DeleteSources, GraphTables, LexicalGraphBuilder}
import graft.llm.{LLM, StubLLM}
import graft.retrieve.{ChunkBasedRetriever, Processors, QueryModeRetriever}

/**
 * The reference's primary user API as one facade (SURVEY.md §3.1/§3.2):
 * `LexicalGraphIndex.extract_and_build(docs)` then
 * `LexicalGraphQueryEngine.query("…")` → formatted context
 * (reference lexical_graph_query_engine.py:119-446,
 * lexical_graph_index.py:572-612). A user of the reference maps their two
 * entry objects onto [[LexicalGraphQueryEngine.fromDocuments]] and this
 * class; everything else (processors, filters, formats, multipart /
 * composite modes) hangs off it with the reference's defaults.
 *
 * State is the [[GraphTables]] bundle of cached DataFrames; the LLM is a
 * pluggable seam (deterministic stub by default). Query embeddings use the
 * same hash embedder the index side used, so retrieval is end-to-end
 * deterministic (reference to_embedded_query, vector_index.py:20-45).
 */
final class LexicalGraphQueryEngine(
    val graph: GraphTables,
    spark: SparkSession,
    llm: LLM = new StubLLM) {

  /** Retrieve for one question through the full DEFAULT_PROCESSORS +
    * formatting chain — the reference's `engine.query(question)`. */
  def query(question: String,
            metadataFilter: Option[FilterAst.Filter] = None,
            maxResults: Int = graft.model.Defaults.MaxSearchResults): DataFrame =
    ChunkBasedRetriever.fullQuery(
      graph, embed(question),
      metadataFilter = metadataFilter, maxResults = maxResults)

  /** Answer one question end-to-end and return the reference's Response
    * shape: the LLM answer, the retrieved source-node frame, and per-phase
    * wall-clock metrics (reference lexical_graph_query_engine.py:528-560 —
    * retrieve_ms / postprocessing_ms / answer_ms / total_ms plus the
    * context_format / retriever / postprocessors / num_source_nodes keys).
    * Each phase is forced (count / checkpoint / collect) so the timings
    * bound real work, not lazy-plan construction. */
  def answer(question: String,
             contextFormat: String = "text",
             maxResults: Int = graft.model.Defaults.MaxSearchResults): QueryResponse = {
    val start = System.nanoTime()
    val emb = embed(question)
    val raw = ChunkBasedRetriever.search(graph, emb).localCheckpoint(true)
    raw.count()
    val endRetrieve = System.nanoTime()
    val results = ChunkBasedRetriever.defaultChain(raw, maxResults = maxResults)
      .localCheckpoint(true)
    val numSourceNodes = results.count()
    val endPost = System.nanoTime()
    val rendered = render(results, contextFormat)
      .collect().map(_.mkString(" ")).mkString("\n")
    val response = llm.complete(
      s"Answer from the context only.\n\nContext:\n$rendered\n\n" +
        s"Question: $question\nAnswer:")
    val end = System.nanoTime()
    def ms(a: Long, b: Long): String = ((b - a) / 1e6).toString
    QueryResponse(response, results, Map(
      "retrieve_ms" -> ms(start, endRetrieve),
      "postprocessing_ms" -> ms(endRetrieve, endPost),
      "answer_ms" -> ms(endPost, end),
      "total_ms" -> ms(start, end),
      "context_format" -> contextFormat,
      "retriever" -> "ChunkBasedRetriever",
      "query" -> question,
      "postprocessors" -> "DedupResults,RescoreResults,TruncateStatements,TruncateResults",
      "num_source_nodes" -> numSourceNodes.toString,
      // rendered-context token count (whitespace rule) — the eval loop's
      // retrieval_context_tokens metric (reference token_tracker.py
      // extract_token_usage counts the context block separately)
      "context_tokens" -> QaEvaluation.tokens(rendered).toString))
  }

  /** Multipart mode: keyword shards with shrunken per-shard budgets
    * (reference query_mode_retriever.py:28-68). */
  def queryMultipart(question: String,
                     maxResults: Int = graft.model.Defaults.MaxSearchResults): DataFrame =
    QueryModeRetriever.retrieve(llm, question,
      (q, max) => ChunkBasedRetriever.fullQuery(graph, embed(q), maxResults = max),
      maxResults = maxResults)

  /** Composite mode: LLM decomposition into subqueries, each retrieved at
    * full budget, results unioned (composite_traversal_based_retriever.py). */
  def queryComposite(question: String,
                     maxResults: Int = graft.model.Defaults.MaxSearchResults): DataFrame =
    QueryModeRetriever.retrieveComposite(llm, question,
      (q, max) => ChunkBasedRetriever.fullQuery(graph, embed(q), maxResults = max),
      maxResults = maxResults)

  /** Render the lighter default-chain context for one question in any of
    * the reference's five formats (lexical_graph_query_engine.py:410-446). */
  def context(question: String, format: String = "json"): DataFrame =
    render(ChunkBasedRetriever.processedResults(graph, embed(question)), format)

  /** `results` rendered in one of the reference's five context formats. */
  private def render(results: DataFrame, format: String): DataFrame =
    format match {
      case "json" => Processors.formatContext(results)
      case "text" => Processors.formatContextText(results)
      case "xml" => Processors.formatContextXml(results)
      case "yaml" => Processors.formatContextYaml(results)
      case "bedrock_xml" =>
        Processors.formatContextBedrock(results, graph.sources)
      case other => throw new IllegalArgumentException(
        s"unknown context format '$other' " +
          "(expected json|text|xml|yaml|bedrock_xml)")
    }

  /** Semantic mode: beam-expanded chunk seeds → topic statements, through
    * the full chain (reference chunk_based_semantic_search.py). */
  def querySemantic(question: String,
                    scoringMode: String = "cosine",
                    maxResults: Int = graft.model.Defaults.MaxSearchResults): DataFrame = {
    val raw = ChunkBasedRetriever.semanticSearch(graph, embed(question),
      scoringMode = scoringMode)
    ChunkBasedRetriever.defaultChain(raw, maxResults = maxResults)
  }

  /** Entity-context mode: expand the question's entities into context
    * strings, re-query per context with shrunken budgets, union
    * (reference entity_context_search.py:109-153). */
  def queryEntityContexts(question: String,
                          maxContexts: Int = graft.model.Defaults.EcMaxContexts): DataFrame = {
    val kws = graft.retrieve.KeywordProviders.nlp(question) match {
      case Seq() => graft.llm.QueryOps.keywords(llm, question)
      case spans => spans
    }
    val seeds = graft.retrieve.EntityProvider
      .entitiesForKeywords(graph, kws)
      .select(org.apache.spark.sql.functions.col("entity_id"))
    val tree = graft.retrieve.EntityContextProvider.expand(graph, seeds)
    val contexts = tree
      .join(graph.entities, Seq("entity_id"))
      .orderBy(org.apache.spark.sql.functions.col("depth"),
        org.apache.spark.sql.functions.col("entity_id"))
      .select("value").collect().map(_.getString(0)).toSeq
    graft.retrieve.Retrievers.entityContextSearch(graph,
      if (contexts.isEmpty) Seq(question) else contexts,
      embed, maxContexts = maxContexts)
  }

  /** Class-level dominant-path summary over the built graph
    * (reference retrieval/summary/graph_summary.py:60-160). */
  def summary(k: Int = 100): DataFrame =
    graft.retrieve.GraphSummary.classPaths(graph, k)

  /** Cascade-delete sources and their orphaned dependents; returns the new
    * engine over the pruned graph (reference DeleteSources sink). */
  def deleteSources(sourceIds: DataFrame): LexicalGraphQueryEngine =
    new LexicalGraphQueryEngine(DeleteSources(graph, sourceIds), spark, llm)

  /** Question → 64-dim deterministic hash embedding, computed by the same
    * expression the builder embedded chunks/statements with. */
  def embed(question: String): Seq[Double] =
    LexicalPipeline.embedQuery(spark, question)
}

/** The reference's `Response`: LLM answer + retrieved source-node frame +
  * per-phase metrics metadata (reference Response/metadata dict,
  * lexical_graph_query_engine.py:535-560). */
final case class QueryResponse(response: String,
                               sourceNodes: DataFrame,
                               metadata: Map[String, String])

object LexicalGraphQueryEngine {

  /** `LexicalGraphIndex.extract_and_build`: documents frame → chunking →
    * deterministic extraction → cached graph tables → engine. */
  def fromDocuments(spark: SparkSession,
                    docs: DataFrame,
                    textCol: String,
                    metadataCols: Seq[String],
                    tenant: String = "t0",
                    classifications: Seq[String] = Seq("Token"),
                    llm: LLM = new StubLLM): LexicalGraphQueryEngine =
    new LexicalGraphQueryEngine(
      LexicalGraphBuilder
        .fromDocuments(docs, textCol, metadataCols, tenant = tenant,
          classifications = classifications)
        .persistAll(),
      spark, llm)
}
