package graft.retrieve

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/**
 * The reference's result-processor chain re-expressed as DataFrame transforms.
 *
 * The reference runs these as Python list transforms over collected results
 * (reference: the retrieval/processors modules, chained per
 * traversal_based_base_retriever.py:24-46). Here each one is a distributed
 * transform over a flat statements frame with columns
 * (source_id, topic_id, statement_id, chunk_id, statement, score, ...),
 * grouped only where the semantics demand it. Keeping the frame flat (instead
 * of the reference's nested SearchResultCollection) means every step stays a
 * window or aggregation Catalyst can plan, and re-nesting happens once at
 * format time.
 */
object Processors {

  /** SortResults: global score sort (reference sort_results.py:43-63).
    * Deterministic tie-break on ids. */
  def sortResults(df: DataFrame): DataFrame =
    df.orderBy(desc("score"), col("source_id"), col("topic_id"), col("statement_id"))

  /** TruncateResults: keep the top-n sources by source score
    * (reference truncate_results.py:36-56). */
  def truncateResults(df: DataFrame,
                      maxResults: Int = graft.model.Defaults.MaxSearchResults): DataFrame = {
    // top-n via orderBy+limit (TakeOrderedAndProject): per-partition top-n,
    // merged on the driver — never a global single-partition window rank
    val srcRank = df.groupBy("source_id").agg(max("score").as("src_score"))
      .orderBy(desc("src_score"), col("source_id"))
      .limit(maxResults)
      .select("source_id")
    df.join(broadcast(srcRank), Seq("source_id"), "left_semi")
  }

  /** TruncateStatements: top-n statements per topic
    * (reference truncate_statements.py:41-87).
    *
    * Physical shape: a heap-bounded hash aggregate
    * ([[graft.functions.TopKAgg]]) instead of a window rank. Both
    * pre-reduce map-side on Spark 4 (WindowGroupLimit bounds the window's
    * shuffle too); the aggregate additionally drops the map- and
    * reduce-side sorts of the window plan — the statements frame is wide
    * (statement text), so sorting it twice costs more than the aggregate's
    * wider shuffle rows. Same rows out (score desc, statement_id
    * tiebreak). */
  def truncateStatements(df: DataFrame,
                         maxPerTopic: Int = graft.model.Defaults.MaxStatementsPerTopic): DataFrame =
    graft.functions.TopKAgg.topKPerKey(df, Seq("topic_id"),
      Seq(negate(col("score")), col("statement_id")), maxPerTopic)

  /** TruncateByTokens: keep highest-scored statements while the running token
    * total stays within budget (reference truncate_by_tokens.py:74-164).
    * Token length = whitespace tokens of the statement text.
    *
    * The global running sum is a two-pass prefix sum — range-partition on the
    * rank order, local prefix sums, then broadcast per-partition offsets — so
    * no single task ever sees the whole frame (a bare `Window.orderBy` would
    * funnel every row through one partition). */
  def truncateByTokens(df: DataFrame, maxTokens: Int,
                       textCol: String = "statement"): DataFrame = {
    val withLen = df.withColumn("tok_len",
      graft.functions.TextFunctions.tokenCount(col(textCol)))
      .repartitionByRange(col("score").desc, col("statement_id"))
      .withColumn("_pid", spark_partition_id())
    val wLocal = Window.partitionBy("_pid")
      .orderBy(desc("score"), col("statement_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = withLen.withColumn("_local", sum("tok_len").over(wLocal))
    // per-partition totals: a few rows, so the tiny global window is fine
    val wOffset = Window.orderBy("_pid")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = local.groupBy("_pid").agg(sum("tok_len").as("_psum"))
      .withColumn("_offset", coalesce(sum("_psum").over(wOffset), lit(0L)))
      .select("_pid", "_offset")
    local.join(broadcast(offsets), Seq("_pid"))
      .filter(col("_local") + col("_offset") <= maxTokens)
      .drop("tok_len", "_pid", "_local", "_offset")
  }

  /** PruneStatements: drop statements scoring below max_score * factor or an
    * absolute floor (reference prune_statements.py:16-50). The global max is
    * a scalar aggregate broadcast back, NOT a whole-frame window — a window
    * over lit(1) would funnel every row through one partition. */
  def pruneStatements(df: DataFrame,
                      pruningFactor: Double = graft.model.Defaults.StatementPruningFactor,
                      absoluteFloor: Double = 0.0): DataFrame = {
    val mx = df.agg(max("score").as("max_score"))
    df.crossJoin(broadcast(mx))
      .filter(col("score") >= greatest(col("max_score") * pruningFactor,
        lit(absoluteFloor)))
      .drop("max_score")
  }

  /** PruneResults: drop whole sources whose aggregate score is below the
    * threshold (reference prune_results.py:36-57). The passing-source set
    * grows with the data, so no broadcast hint — AQE picks the join strategy
    * from the measured size. */
  def pruneResults(df: DataFrame,
                   threshold: Double = graft.model.Defaults.ResultsPruningThreshold): DataFrame = {
    val srcScores = df.groupBy("source_id").agg(avg("score").as("source_score"))
      .filter(col("source_score") >= threshold)
      .select("source_id")
    df.join(srcScores, Seq("source_id"), "left_semi")
  }

  /** DedupResults: merge duplicate statements across retrievers, keeping the
    * best score per statement (reference dedup_results.py:45-97). */
  def dedupResults(df: DataFrame): DataFrame = {
    // best-score winner per statement: one min_by aggregate with map-side
    // pre-reduce to one row per statement per partition — not a window rank
    // that shuffles and sorts every duplicate. (The struct-typed buffers
    // make this a SortAggregate, not a hash aggregate: a map-side sort
    // buys a pre-reduced shuffle.)
    // Scores must be NON-NULL (TopKAgg contract): a null would sort first in
    // the ascending struct and silently win where the old desc(score) window
    // ranked it last — coalesce to -Inf so a scoreless row can never beat a
    // scored one.
    val payload = struct(df.columns.map(col): _*)
    df.groupBy("statement_id")
      .agg(min_by(payload,
        struct(negate(coalesce(col("score"), lit(Double.NegativeInfinity))),
          col("source_id"))).as("_r"))
      .select(col("_r.*"))
  }

  /** DisaggregateResults: one result per topic, topic score = max statement
    * score (reference disaggregate_results.py:39-69). On the flat frame this
    * is a per-topic score annotation. */
  def disaggregateResults(df: DataFrame): DataFrame = {
    val w = Window.partitionBy("topic_id")
    df.withColumn("topic_score", max("score").over(w))
  }

  /** RescoreResults: source score = mean over its topics of the per-topic mean
    * statement score (reference rescore_results.py:39-86). The outer mean is a
    * sorted sequential fold, not a plain double sum: float addition isn't
    * associative, so an order-dependent sum differs run to run under Spark's
    * nondeterministic partition merge order (and across engines). Sorting the
    * addends first makes the score bit-reproducible everywhere. */
  def rescoreResults(df: DataFrame): DataFrame = {
    val perTopic = df.groupBy("source_id", "topic_id")
      .agg(avg("score").as("topic_mean"))
    val perSource = perTopic.groupBy("source_id")
      .agg((aggregate(sort_array(collect_list(col("topic_mean"))),
        lit(0.0), (acc, v) => acc + v) / count(lit(1))).as("result_score"))
    // one row per source — unbounded at scale, so let AQE pick the strategy
    df.join(perSource, Seq("source_id"))
  }

  /** FilterByMetadata: keep statements whose source metadata passes the filter
    * AST (reference filter_by_metadata.py:38-62). `sources` must carry the
    * metadata columns the filter references. */
  def filterByMetadata(df: DataFrame, sources: DataFrame,
                       filter: graft.filter.FilterAst.Filter,
                       resolve: String => org.apache.spark.sql.Column = col): DataFrame = {
    val passing = sources.filter(graft.filter.FilterAst.compile(filter, resolve))
      .select("source_id")
    // the passing set is a filtered scan of all sources — not broadcastable
    // by contract; AQE converts to broadcast when the measured size allows
    df.join(passing, Seq("source_id"), "left_semi")
  }

  // ---------------------------------------------------------------------
  // Default-chain tail (reference traversal_based_base_retriever.py:24-46:
  // DEFAULT_PROCESSORS + DEFAULT_FORMATTING_PROCESSORS). On the flat frame
  // most of these are narrow column transforms — no shuffle at all.
  // ---------------------------------------------------------------------

  /** Metadata keys the versioning layer injects into source metadata
    * (reference versioning.py:13-20). */
  val VersioningMetadataKeys: Seq[String] = Seq(
    "__graft__versioning__valid_from__",
    "__graft__versioning__valid_to__",
    "__graft__versioning__extract_timestamp__",
    "__graft__versioning__build_timestamp__",
    "__graft__versioning__version_independent_id_fields__",
    "__graft__versioning__prev_versions__")

  /** RemoveVersioningMetadata: strip versioning keys from each source's
    * metadata map (reference remove_versioning_metadata.py:10-17). Narrow
    * `map_filter` — no shuffle. */
  def removeVersioningMetadata(sources: DataFrame,
                               metadataCol: String = "metadata"): DataFrame = {
    val keys = VersioningMetadataKeys.map(lit(_))
    sources.withColumn(metadataCol,
      map_filter(col(metadataCol), (k, _) => !k.isin(keys: _*)))
  }

  /** PopulateStatementStrs: statement_str = statement plus its supporting
    * facts and details (reference populate_statement_strs.py:36-60:
    * `"{statement} (details: {facts..., details...})"`). `facts` carries one
    * (statement_id, fact_value) row per supporting fact. The reference keeps
    * store-iteration fact order; here facts sort lexicographically so the
    * string is reproducible under any partitioning. Fact values dedup in
    * the aggregation itself (collect_set) — callers must NOT pre-distinct
    * the fact frame; that would only add a second full shuffle. */
  def populateStatementStrs(df: DataFrame, facts: DataFrame): DataFrame = {
    val factArr = facts.groupBy("statement_id")
      .agg(sort_array(collect_set(col("fact_value"))).as("_facts"))
    val withDetails =
      if (df.columns.contains("details")) df
      else df.withColumn("details", array().cast("array<string>"))
    withDetails.join(factArr, Seq("statement_id"), "left")
      .withColumn("_all", concat(
        coalesce(col("_facts"), array().cast("array<string>")),
        coalesce(col("details"), array().cast("array<string>"))))
      .withColumn("statement_str",
        when(size(col("_all")) > 0,
          concat(col("statement"), lit(" (details: "),
            concat_ws(", ", col("_all")), lit(")")))
          .otherwise(col("statement")))
      .drop("_facts", "_all")
  }

  /** RerankStatements: reranker seam (reference rerank_statements.py:60-118).
    * The default configuration is `reranker='none'` → identity; a supplied
    * scorer replaces statement scores (e.g. the TF-IDF rerank in
    * [[graft.queries.TextQueries]], or a cross-encoder behind the
    * [[graft.llm.Llm]] seam). */
  def rerankStatements(df: DataFrame,
                       scorer: Option[DataFrame => DataFrame] = None): DataFrame =
    scorer.fold(df)(_(df))

  /** A deterministic rerank scorer: statement score := token-set Jaccard
    * against the query, rounded at 4dp (the reference rounds relevance the
    * same way, rerank_statements.py:104). Plug into [[rerankStatements]];
    * the model-backed path implements the same contract behind
    * [[graft.byokg.Reranker]]. */
  def tokenOverlapScorer(query: String,
                         textCol: String = "statement"): DataFrame => DataFrame = {
    df =>
      // drop split's empty edge tokens: a shared "" would give unrelated
      // punctuated statements a phantom intersection (same rule as
      // TokenOverlapReranker and the q_rerank_statements oracle)
      val q = array_distinct(array_remove(
        split(lower(lit(query)), "[^a-z0-9]+"), ""))
      val t = array_distinct(array_remove(
        split(lower(col(textCol)), "[^a-z0-9]+"), ""))
      df.withColumn("score",
        round(when(size(array_union(q, t)) === 0, lit(0.0))
          .otherwise(size(array_intersect(q, t)).cast("double") /
            size(array_union(q, t)).cast("double")), 4))
  }

  /** RerankTopics: score whole topics against the query — each topic's
    * document is its name plus all statement strings — keep the top
    * `maxTopics` globally, and propagate the topic relevance onto statements
    * that carry no score yet (reference rerank_topics.py:36-124, tfidf
    * strategy; the bedrock strategy is the same contract behind a model
    * seam). The per-topic document caps at 4000 chars like the reference;
    * statement order inside it is score-desc/statement-id — deterministic
    * under any partitioning. */
  def rerankTopics(df: DataFrame, query: String,
                   maxTopics: Int = graft.model.Defaults.MaxTopics,
                   topics: Option[DataFrame] = None,
                   textCol: String = "statement"): DataFrame = {
    val stmtText =
      if (df.columns.contains("statement_str"))
        coalesce(col("statement_str"), col(textCol))
      else col(textCol)
    val perTopic = df.groupBy("topic_id").agg(
      array_join(transform(sort_array(collect_list(struct(
        (-col("score")).as("ns"), col("statement_id").as("id"),
        stmtText.as("v")))), s => s("v")), " ").as("_stmts"))
    val named = topics match {
      case Some(t) => perTopic
        .join(t.select(col("topic_id"), col("value").as("_tname")),
          Seq("topic_id"), "left")
      case None => perTopic
        .withColumn("_tname", col("topic_id").cast("string"))
    }
    val docs = named.withColumn("_doc", substring(
      concat(coalesce(col("_tname"), col("topic_id").cast("string")),
        lit("\n"), col("_stmts")), 1, 4000))
    // TF-IDF of query terms over the candidate topic documents; topics
    // matching no term score 0.0 (they can still survive when fewer than
    // maxTopics topics exist — reference scored.get(t, 0.0)).
    val qTerms = query.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty)
      .distinct.toSeq
    val toks = docs.withColumn("toks",
      split(graft.functions.TextFunctions.searchStr(col("_doc")), "\\s+"))
    val termScores = TfIdf.scores(toks, "topic_id", "toks", qTerms)
      .withColumnRenamed("tfidf_score", "_ts")
    val kept = docs.select("topic_id")
      .join(termScores, Seq("topic_id"), "left")
      .withColumn("topic_rr_score", coalesce(col("_ts"), lit(0.0)))
      .orderBy(desc("topic_rr_score"), col("topic_id"))
      .limit(maxTopics)
      .select("topic_id", "topic_rr_score")
    // kept is <= maxTopics rows — genuinely bounded, broadcast is safe
    df.join(broadcast(kept), Seq("topic_id"))
      .withColumn("score",
        when(col("score").isNull || col("score") === 0.0,
          col("topic_rr_score")).otherwise(col("score")))
  }

  /** UpdateChunkMetadata: promote each chunk's stored value into the result
    * (reference update_chunk_metadata.py:10-22: `chunk.value =
    * metadata.pop('value')`). Flat-frame form: join the chunk text in as
    * `chunk_value`. */
  def updateChunkMetadata(df: DataFrame, chunks: DataFrame,
                          valueCol: String = "text"): DataFrame =
    df.join(chunks.select(col("chunk_id"), col(valueCol).as("chunk_value")),
      Seq("chunk_id"), "left")

  /** ClearScores: null the result-level score, keeping statement scores
    * (reference clear_scores.py:36-40 nulls `search_result.score` only). */
  def clearScores(df: DataFrame,
                  resultScoreCol: String = "result_score"): DataFrame =
    df.withColumn(resultScoreCol, lit(null).cast("double"))

  /** ZeroScores: zero result AND statement scores
    * (reference zero_scores.py — both levels). */
  def zeroScores(df: DataFrame,
                 resultScoreCol: String = "result_score"): DataFrame = {
    val zeroed = df.withColumn("score", lit(0.0))
    if (zeroed.columns.contains(resultScoreCol))
      zeroed.withColumn(resultScoreCol, lit(0.0))
    else zeroed
  }

  /** StatementsToStrings: collapse each statement to its final string —
    * the fact-enriched statement_str when include_facts, else the bare
    * statement (reference statements_to_strings.py:40-55). */
  def statementsToStrings(df: DataFrame,
                          includeFacts: Boolean = true): DataFrame = {
    val out =
      if (includeFacts && df.columns.contains("statement_str"))
        df.withColumn("statement",
          coalesce(col("statement_str"), col("statement")))
      else df
    out.drop("statement_str")
  }

  /** FormatSources: render each source's metadata into one display string —
    * longest value first, the rest in parentheses, bare source_id when the
    * map is empty (reference format_sources.py default_source_formatter_fn).
    * The reference's stable sort keeps map order on equal lengths; here ties
    * break on the value itself so the output is partition-independent. */
  def formatSources(sources: DataFrame,
                    metadataCol: String = "metadata"): DataFrame = {
    val sortedVals = transform(
      sort_array(transform(map_values(col(metadataCol)),
        v => struct((-length(v)).as("nl"), v.as("v")))),
      s => s("v"))
    sources.withColumn("source_str",
      when(size(sortedVals) === 0, col("source_id").cast("string"))
        .when(size(sortedVals) === 1, element_at(sortedVals, 1))
        .otherwise(concat(element_at(sortedVals, 1), lit(" ("),
          concat_ws(", ", slice(sortedVals, lit(2), size(sortedVals))), lit(")"))))
  }

  /** ClearChunks: drop chunk linkage from the formatted output
    * (reference clear_chunks.py). */
  def clearChunks(df: DataFrame): DataFrame =
    df.drop("chunk_id", "chunk_value")

  /** ClearTopicIds: drop internal topic ids, keeping the topic value
    * (reference clear_topic_ids.py). */
  def clearTopicIds(df: DataFrame): DataFrame =
    df.drop("topic_id")

  /** SimplifySingleTopicResults: flag sources whose results collapsed to one
    * topic — the reference promotes that topic's statements to the result
    * level and clears the topic list (simplify_single_topic_results.py:29-56);
    * on the flat frame the promotion is a boolean the renderers consume. */
  def simplifySingleTopicResults(df: DataFrame,
                                 topicCol: String = "topic_id"): DataFrame = {
    val w = Window.partitionBy("source_id")
    df.withColumn("single_topic",
      size(collect_set(col(topicCol)).over(w)) === 1)
  }

  /** Rank the surviving sources by result score and keep the top
    * `maxResults`, assigning `source_rank` — the formatting-time
    * TruncateResults (reference truncate_results.py) fused with the order
    * SortResults established. Top-n via orderBy+limit
    * (TakeOrderedAndProject); the rank window runs over ≤ maxResults rows. */
  def truncateRankResults(df: DataFrame, maxResults: Int,
                          resultScoreCol: String = "result_score"): DataFrame = {
    val ranked = df.groupBy("source_id")
      .agg(max(col(resultScoreCol)).as("_rs"))
      .orderBy(desc("_rs"), col("source_id"))
      .limit(maxResults)
      .withColumn("source_rank",
        row_number().over(Window.orderBy(desc("_rs"), col("source_id"))))
      .select("source_id", "source_rank")
    // ranked is ≤ maxResults rows — genuinely bounded, broadcast is safe
    df.join(broadcast(ranked), Seq("source_id"))
  }

  /** Fused [[rescoreResults]] → [[truncateRankResults]]: row-identical to
    * `truncateRankResults(rescoreResults(df), maxResults)` (spec-gated),
    * but the per-source score never joins back onto the full statement
    * frame — the sequential composition shuffles EVERY statement on
    * source_id to attach a result_score that the very next step discards
    * for all but `maxResults` sources, then aggregates the joined frame
    * again to rank. Here the rank set (≤ maxResults rows, carrying
    * result_score AND source_rank) is computed from the per-source
    * aggregate alone and broadcasts once onto the statements: one
    * groupBy shuffle of (source, topic) pairs + one broadcast-join scan,
    * versus groupBy + full-frame join shuffle + second aggregate + scan.
    * At 100 TB the difference is shuffling the corpus once more or not. */
  def rescoreAndRank(df: DataFrame, maxResults: Int): DataFrame = {
    val perTopic = df.groupBy("source_id", "topic_id")
      .agg(avg("score").as("topic_mean"))
    // same bit-reproducible sorted fold as rescoreResults
    val perSource = perTopic.groupBy("source_id")
      .agg((aggregate(sort_array(collect_list(col("topic_mean"))),
        lit(0.0), (acc, v) => acc + v) / count(lit(1))).as("result_score"))
    val ranked = perSource
      .orderBy(desc("result_score"), col("source_id"))
      .limit(maxResults)
      .withColumn("source_rank",
        row_number().over(Window.orderBy(desc("result_score"),
          col("source_id"))))
    df.join(broadcast(ranked), Seq("source_id"))
  }

  /** The nested per-source context frame (topics with sorted statements)
    * that every output format renders from. */
  private def nestedContext(df: DataFrame): DataFrame =
    df.groupBy("source_id", "topic_id")
      .agg(
        max("score").as("topic_score"),
        sort_array(collect_list(struct(col("score"), col("statement_id"),
          col("statement"))), asc = false).as("statements"))
      .groupBy("source_id")
      .agg(
        max("topic_score").as("score"),
        sort_array(collect_list(struct(col("topic_score"), col("topic_id"),
          col("statements"))), asc = false).as("topics"))

  /** Format the flat frame back into the nested per-source JSON context the
    * engine hands to the LLM (reference lexical_graph_query_engine.py:388-446;
    * the reference also renders yaml/xml/text/bedrock_xml from the same
    * nesting — see [[formatContextText]] / [[formatContextXml]]). */
  def formatContext(df: DataFrame): DataFrame =
    nestedContext(df)
      .select(col("source_id"), col("score"),
        to_json(struct(col("source_id"), col("topics"))).as("context_json"))
      .orderBy(desc("score"), col("source_id"))

  /** Plain-text rendering: one indented block per source, statements in
    * score order (reference text format, lexical_graph_query_engine.py:410-446). */
  def formatContextText(df: DataFrame): DataFrame =
    nestedContext(df)
      .select(col("source_id"), col("score"),
        concat(
          lit("source: "), col("source_id"), lit("\n"),
          concat_ws("\n", transform(col("topics"), t =>
            concat(lit("  topic: "), t("topic_id"), lit("\n"),
              concat_ws("\n", transform(t("statements"), st =>
                concat(lit("    - "), st("statement")))))))).as("context_text"))
      .orderBy(desc("score"), col("source_id"))

  /** XML rendering (reference xml / bedrock_xml formats). */
  def formatContextXml(df: DataFrame): DataFrame =
    nestedContext(df)
      .select(col("source_id"), col("score"),
        concat(
          lit("<source id=\""), col("source_id"), lit("\">"),
          concat_ws("", transform(col("topics"), t =>
            concat(lit("<topic id=\""), t("topic_id"), lit("\">"),
              concat_ws("", transform(t("statements"), st =>
                concat(lit("<statement>"), st("statement"),
                  lit("</statement>")))),
              lit("</topic>")))),
          lit("</source>")).as("context_xml"))
      .orderBy(desc("score"), col("source_id"))

  /** YAML rendering — block-style list mirroring the reference's
    * `yaml.dump(json_results, sort_keys=False)` shape
    * (lexical_graph_query_engine.py:437-438). */
  def formatContextYaml(df: DataFrame): DataFrame =
    nestedContext(df)
      .select(col("source_id"), col("score"),
        concat(
          lit("- source: "), col("source_id"), lit("\n  topics:\n"),
          concat_ws("\n", transform(col("topics"), t =>
            concat(lit("  - topic: "), t("topic_id"), lit("\n    statements:\n"),
              concat_ws("\n", transform(t("statements"), st =>
                concat(lit("    - "), st("statement")))))))).as("context_yaml"))
      .orderBy(desc("score"), col("source_id"))

  /** bedrock_xml rendering: numbered `<source_N>` blocks with a sorted
    * metadata element and `<statement_N.M>` children (reference
    * bedrock_context_format.py:64-90). Renders POST-truncation frames — the
    * global numbering window runs over ≤ maxResults sources, so the
    * single-partition sort is bounded by construction. `sources` supplies
    * the metadata map. */
  def formatContextBedrock(df: DataFrame, sources: DataFrame,
                           metadataCol: String = "metadata"): DataFrame = {
    val metaXml = concat_ws("\n", transform(
      map_entries(col(metadataCol)),
      e => concat(lit("\t<"), e("key"), lit(">"), e("value"),
        lit("</"), e("key"), lit(">"))))
    val nested = nestedContext(df)
      .join(sources.select(col("source_id"), metaXml.as("_meta")),
        Seq("source_id"), "left")
      .withColumn("_n", row_number().over(
        Window.orderBy(desc("score"), col("source_id"))))
    val stmts = flatten(transform(col("topics"), t =>
      transform(t("statements"), st => st("statement"))))
    nested.select(col("source_id"), col("score"),
      concat(
        lit("<source_"), col("_n"), lit(">\n"),
        lit("<source_"), col("_n"), lit("_metadata>\n"),
        coalesce(col("_meta"), lit("")),
        lit("\n</source_"), col("_n"), lit("_metadata>\n"),
        concat_ws("\n", zip_with(stmts,
          sequence(lit(1), greatest(size(stmts), lit(1))),
          (s, i) => concat(lit("<statement_"), col("_n"), lit("."), i,
            lit(">"), s, lit("</statement_"), col("_n"), lit("."), i,
            lit(">")))),
        lit("\n</source_"), col("_n"), lit(">")).as("context_bedrock"))
      .orderBy(desc("score"), col("source_id"))
  }
}

/**
 * The ONE tf-idf scorer (reference score_values_with_tfidf) shared by topic
 * reranking, entity reranking, and top-statement entity seeding — the same
 * ~15-line pipeline previously existed three times with drift risk.
 *
 * Per id: sum over query terms of tf(term, doc) * ln(n / df(term)), where
 * `n` is the candidate count and `df` counts candidates containing the
 * term — both computed from the candidate frame itself, folded in as
 * broadcast scalar/tiny frames (no driver-side count at plan build). Ids
 * matching no term get NO row; callers coalesce to 0.0 where the reference
 * keeps zero-scored candidates.
 */
private[graft] object TfIdf {
  def scores(docs: DataFrame, idCol: String, toksCol: String,
             terms: Seq[String]): DataFrame = {
    val termsDf = broadcast(docs.sparkSession
      .createDataFrame(terms.map(Tuple1(_))).toDF("term"))
    val nDf = docs.agg(count(lit(1)).cast("double").as("n"))
    val tf = docs.crossJoin(termsDf)
      .withColumn("tf", size(filter(col(toksCol), x => x === col("term"))))
      .filter(col("tf") > 0)
    tf.join(tf.groupBy("term").agg(count(lit(1)).as("df")), Seq("term"))
      .crossJoin(broadcast(nDf))
      .groupBy(idCol)
      .agg(sum(col("tf") * log(col("n") / col("df"))).as("tfidf_score"))
  }
}
