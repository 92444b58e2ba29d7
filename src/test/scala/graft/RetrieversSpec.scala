package graft

import org.apache.spark.sql.functions._
import graft.index.LexicalGraphBuilder
import graft.retrieve.{ChunkBasedRetriever, EntityContextProvider, Retrievers, TopicBeamSearch}

class RetrieversSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "spark joins tables fast spark joins tables fast spark joins " * 6, "a"),
    (2L, "cats chase mice daily cats chase mice daily cats chase " * 6, "b"),
    (3L, "query engines scan parquet files query engines scan parquet " * 6, "c"))
    .toDF("doc_id", "text", "source")

  private lazy val g = LexicalGraphBuilder
    .fromDocuments(docs, "text", Seq("doc_id", "source")).persistAll()

  private lazy val queryEmb: Seq[Double] = {
    import org.apache.spark.sql.functions.lit
    spark.range(1).select(graft.functions.VectorFunctions
      .hashEmbedding(lit("spark joins tables"), LexicalGraphBuilder.EmbeddingDim))
      .as[Seq[Double]].head()
  }

  test("LexicalGraphQueryEngine facade: build, query modes, formats, delete") {
    import graft.pipeline.LexicalGraphQueryEngine
    val eng = LexicalGraphQueryEngine.fromDocuments(
      spark, docs, "text", Seq("doc_id", "source"))
    assert(eng.query("spark joins tables").count() > 0)
    assert(eng.queryMultipart("spark joins and parquet scans").count() > 0)
    assert(eng.queryComposite("spark joins tables").count() > 0)
    for (fmt <- Seq("json", "text", "xml", "yaml", "bedrock_xml"))
      assert(eng.context("spark joins tables", fmt).count() > 0, fmt)
    intercept[IllegalArgumentException](eng.context("q", "toml"))
    assert(eng.querySemantic("spark joins tables").count() > 0)
    assert(eng.queryEntityContexts("spark joins tables").count() > 0)
    assert(eng.summary().count() > 0)
    val pruned = eng.deleteSources(
      eng.graph.sources.select("source_id").limit(1))
    assert(pruned.graph.sources.count() == eng.graph.sources.count() - 1)
  }

  test("answer returns the reference Response shape with phase metrics") {
    import graft.pipeline.LexicalGraphQueryEngine
    val eng = LexicalGraphQueryEngine.fromDocuments(
      spark, docs, "text", Seq("doc_id", "source"))
    val r = eng.answer("spark joins tables")
    assert(r.response.nonEmpty)
    assert(r.sourceNodes.count().toString == r.metadata("num_source_nodes"))
    val phases = Seq("retrieve_ms", "postprocessing_ms", "answer_ms")
    phases.foreach(k => assert(r.metadata(k).toDouble >= 0.0, k))
    // total covers the phases (same clock, same span)
    assert(r.metadata("total_ms").toDouble >=
      phases.map(r.metadata(_).toDouble).sum - 1.0)
    assert(r.metadata("context_format") == "text" &&
      r.metadata("query") == "spark joins tables")
    // deterministic stub LLM → deterministic answer across calls
    assert(eng.answer("spark joins tables").response == r.response)
    intercept[IllegalArgumentException](eng.answer("q", contextFormat = "toml"))
  }

  test("concurrent querySemantic callers on one engine get the sequential " +
    "rows and leave AQE on") {
    import graft.pipeline.LexicalGraphQueryEngine
    val eng = LexicalGraphQueryEngine.fromDocuments(
      spark, docs, "text", Seq("doc_id", "source"))
    val questions = Seq("spark joins tables", "query engines scan parquet")
    def rows(q: String): Seq[String] =
      eng.querySemantic(q).collect().map(_.toString).toSeq.sorted
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true",
      "precondition: AQE on")
    val sequential = questions.map(rows)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      // the threads alternate between the two questions
      val futures = (0 until 4).map { t =>
        pool.submit(new java.util.concurrent.Callable[Seq[String]] {
          def call() = rows(questions(t % 2))
        })
      }
      futures.zipWithIndex.foreach { case (f, t) =>
        assert(f.get() == sequential(t % 2)) }
    } finally pool.shutdown()
    // every beam restored the session's adaptive conf
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
  }

  test("chunk-based search returns scored flat statements") {
    val out = ChunkBasedRetriever.search(g, queryEmb, vssTopK = 5)
    assert(out.count() > 0)
    assert(out.columns.toSet == Set("source_id", "topic_id", "statement_id",
      "chunk_id", "statement", "score"))
  }

  test("full query pipeline produces nested context") {
    val out = ChunkBasedRetriever.query(g, queryEmb)
    assert(out.count() > 0 && out.count() <= 5)
    assert(out.columns.contains("context_json"))
  }

  test("fullQuery runs the complete default + formatting chain") {
    val out = ChunkBasedRetriever.fullQuery(g, queryEmb, maxResults = 2)
    val rows = out.collect()
    assert(rows.nonEmpty)
    assert(out.columns.toSeq == Seq("source_rank", "source_str", "single_topic",
      "topic", "statement", "score"))
    // truncateRankResults caps sources; ranks are 1-based and dense
    val ranks = rows.map(_.getInt(0)).distinct.sorted
    assert(ranks.head == 1 && ranks.length <= 2)
    // PopulateStatementStrs + StatementsToStrings: facts folded into the text
    assert(rows.exists(_.getString(4).contains("(details: ")))
    // FormatSources: metadata-derived display string, not a bare id
    assert(rows.forall(r => r.getString(1) != null && r.getString(1).nonEmpty))
    // topic value joined in, ids cleared
    assert(rows.forall(r => r.getString(3) != null))
  }

  test("fullQuery honors a metadata filter") {
    import graft.filter.FilterAst
    val none = ChunkBasedRetriever.fullQuery(g, queryEmb,
      metadataFilter = Some(FilterAst.Pred("source", FilterAst.Eq, "zzz")))
    assert(none.isEmpty)
  }

  test("entitiesForKeywords: exact match, class filter, prefix fallback") {
    val out = graft.retrieve.EntityProvider
      .entitiesForKeywords(g, Seq("spark", "spark|Token", "spar", "spark|Nope"))
      .select("keyword", "matched").as[(String, String)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct.toSeq).toMap
    assert(out("spark") == Seq("exact"))
    assert(out("spark|Token") == Seq("exact"))
    assert(out("spar") == Seq("prefix")) // no exact hit -> STARTS WITH
    assert(!out.contains("spark|Nope")) // wrong class: nothing
  }

  test("multipart query mode shards keywords with shrunken budgets") {
    val llm = new graft.llm.StubLLM
    var calls = Seq.empty[(String, Int)]
    def fn(q: String, max: Int) = {
      calls = calls :+ ((q, max))
      Seq((q, max)).toDF("q", "max")
    }
    // simple question: single retriever, full budget
    val simple = graft.retrieve.QueryModeRetriever
      .retrieve(llm, "who founded acme", fn, maxResults = 10)
    assert(simple.count() == 1 && calls == Seq(("who founded acme", 10)))
    // conjunction: one shard per keyword, budget max/shards + 1
    calls = Seq.empty
    val multi = graft.retrieve.QueryModeRetriever
      .retrieve(llm, "who founded acme and where is berlin", fn,
        maxResults = 10, maxKeywords = 2)
    assert(calls.size == 2 && calls.forall(_._2 == 6)) // 10/2 + 1
    assert(multi.count() == 2)
    // disabled: always single
    calls = Seq.empty
    graft.retrieve.QueryModeRetriever.retrieve(llm,
      "a and b", fn, maxResults = 10, enableMultipartQueries = false).count()
    assert(calls.map(_._1) == Seq("a and b"))
  }

  test("keyword providers: simple, passthru, and vss modes") {
    import graft.retrieve.KeywordProviders
    val llm = new graft.llm.StubLLM
    val simple = KeywordProviders.simple(llm, "spark joins tables fast", 3)
    assert(simple.nonEmpty && simple.size <= 3)
    assert(KeywordProviders.passthru("the query") == Seq("the query"))
    val vss = KeywordProviders.vss(g, llm, "spark joins tables", queryEmb,
      maxKeywords = 4)
    assert(vss.nonEmpty && vss.size <= 4)
    // vss keywords derive from question+context: the stub echoes frequent
    // tokens, so the corpus vocabulary shows up
    assert(vss.exists(k => k.nonEmpty))
  }

  test("composite retrieval decomposes subqueries at full budget") {
    val llm = new graft.llm.StubLLM
    var calls = Seq.empty[(String, Int)]
    def fn(q: String, max: Int) = {
      calls = calls :+ ((q, max)); Seq((q, max)).toDF("q", "max")
    }
    graft.retrieve.QueryModeRetriever.retrieveComposite(llm,
      "who founded acme and where is berlin", fn, maxResults = 7).count()
    assert(calls == Seq(("who founded acme", 7), ("where is berlin", 7)))
    calls = Seq.empty
    graft.retrieve.QueryModeRetriever.retrieveComposite(llm,
      "a and b", fn, maxResults = 7, deriveSubqueries = false).count()
    assert(calls == Seq(("a and b", 7)))
  }

  test("topic-based search materializes statements for seed topics") {
    val seed = g.topics.limit(1).select("topic_id")
    val out = Retrievers.topicBased(g, seed)
    assert(out.count() > 0)
  }

  test("entity-based search includes the var-length 0..1 PREVIOUS hop") {
    val seedEntity = g.facts.limit(1)
      .select(col("subject_entity_id").as("entity_id"))
    val out = Retrievers.entityBased(g, seedEntity)
    assert(out.count() > 0)
  }

  test("entity path facts finds facts on bounded paths") {
    val start = g.entities.orderBy("entity_id").limit(1)
      .select(col("entity_id"))
    val ends = g.entities.select(col("entity_id")) // all ends -> paths exist
    val out = Retrievers.entityPathFacts(g, start, ends)
    assert(out.count() >= 0) // shape check; non-empty depends on fixture graph
  }

  test("composite union applies weights") {
    val a = ChunkBasedRetriever.search(g, queryEmb, 3)
    val out = Retrievers.composite(Seq((a, 2.0), (a, 0.5)))
    assert(out.count() == a.count() * 2)
    val maxA = a.agg(max("score")).as[Double].head()
    val maxOut = out.agg(max("score")).as[Double].head()
    assert(maxOut == maxA * 2.0)
  }

  test("topic beam search expands and scores by depth") {
    val seed = g.topics.orderBy("topic_id").limit(1).select("topic_id")
    val out = TopicBeamSearch.search(g, seed, queryEmb, beamWidth = 10, depth = 2)
    assert(out.filter(col("depth") === 0).count() == 1)
    assert(out.count() >= 1)
    assert(out.columns.toSet == Set("topic_id", "score", "depth"))
  }

  test("BeamScoring modes produce the reference orderings on a fixture") {
    import graft.retrieve.BeamScoring
    // query along +x; parent along +y; candidates: a=+x (query-aligned),
    // b=+y (parent-aligned), c=diagonal
    val q = Seq(1.0, 0.0)
    val pairs = Seq(
      ("a", Array(1.0, 0.0), "p", Array(0.0, 1.0)),
      ("b", Array(0.0, 1.0), "p", Array(0.0, 1.0)),
      ("c", Array(0.7071067811865476, 0.7071067811865476), "p", Array(0.0, 1.0)))
      .toDF("id", "embedding", "parent_id", "parent_embedding")
    def ranks(mode: String): Seq[String] =
      BeamScoring.score(pairs, q, mode)
        .orderBy(desc("score"), col("id")).select("id").as[String].collect().toSeq
    // cosine: pure query similarity
    assert(ranks("cosine") == Seq("a", "c", "b"))
    // path_weighted: c overtakes a — cos(q,c)=.707 * (1+.707)/2 = .604 >
    // a's 1 * (1+0)/2 = .5; b scores 0 * anything = 0
    assert(ranks("path_weighted") == Seq("c", "a", "b"))
    // path_propagated: cos(q,p)=0 -> every score 0; tie-break by id desc
    val pp = BeamScoring.score(pairs, q, "path_propagated")
      .select("score").as[Double].collect()
    assert(pp.forall(math.abs(_) < 1e-12))
    // attention: softmax boosts parent-aligned candidates but the qCos
    // factor keeps b at 0; a (qCos 1) still beats c
    assert(ranks("attention") == Seq("a", "c", "b"))
    // best-over-parents: duplicate candidate keeps its max pair score
    val dup = Seq(
      ("a", Array(1.0, 0.0), "p1", Array(1.0, 0.0)),
      ("a", Array(1.0, 0.0), "p2", Array(0.0, 1.0)))
      .toDF("id", "embedding", "parent_id", "parent_embedding")
    val s = BeamScoring.score(dup, q, "path_weighted")
      .select("score").as[Double].head()
    assert(math.abs(s - 1.0) < 1e-12) // via p1: 1*(1+1)/2 = 1
    intercept[IllegalArgumentException] {
      BeamScoring.score(pairs, q, "nope")
    }
  }

  test("chunk beam search expands via shared entities, width-bounded") {
    import graft.retrieve.ChunkBeamSearch
    val seeds = g.chunks.orderBy(col("chunk_id")).limit(1).select("chunk_id")
    for (mode <- graft.retrieve.BeamScoring.Modes) {
      val out = ChunkBeamSearch.search(g, seeds, queryEmb,
        beamWidth = 5, depth = 2, scoringMode = mode)
      val byDepth = out.groupBy("depth").count()
        .as[(Int, Long)].collect().toMap
      assert(byDepth(0) == 1)
      assert(byDepth.getOrElse(1, 0L) <= 5)
      // no chunk revisited across depths
      val n = out.select("chunk_id").distinct().count()
      assert(n == out.count())
    }
  }

  test("statement beam search expands via shared facts and prev links") {
    import graft.retrieve.StatementBeamSearch
    val seeds = g.statements.orderBy(col("statement_id")).limit(2)
      .select("statement_id")
    val out = StatementBeamSearch.search(g, seeds, queryEmb,
      beamWidth = 5, depth = 2)
    assert(out.filter(col("depth") === 1).count() > 0)
    assert(out.select("statement_id").distinct().count() == out.count())
  }

  test("entity context expansion respects depth and exclusions") {
    val seed = g.entities.orderBy("entity_id").limit(1).select("entity_id")
    val tree = EntityContextProvider.expand(g, seed, maxDepth = 2)
    assert(tree.filter(col("depth") === 0).count() == 1)
    val excluded = EntityContextProvider.expand(g, seed, maxDepth = 2,
      exclude = Some(seed))
    assert(excluded.count() == 0)
    val scores = EntityContextProvider.entityScores(g)
    assert(scores.count() > 0)
  }

  test("chunk cosine search and semantic search produce scored statements") {
    import graft.retrieve.ChunkBasedRetriever
    val cos = ChunkBasedRetriever.chunkCosineSearch(g, queryEmb, prefetch = 3)
    assert(cos.count() > 0 && cos.count() <= 3)
    assert(cos.columns.toSeq == Seq("chunk_id", "score"))
    val sem = ChunkBasedRetriever.semanticSearch(g, queryEmb,
      beamWidth = 5, beamDepth = 1, prefetch = 2)
    assert(sem.count() > 0)
    assert(sem.columns.toSet == Set("source_id", "topic_id", "statement_id",
      "chunk_id", "statement", "score"))
    // fullQuery accepts the optional topic reranker slot
    val out = ChunkBasedRetriever.fullQuery(g, queryEmb,
      topicReranker = Some(df =>
        graft.retrieve.Processors.rerankTopics(df, "spark joins", maxTopics = 5)),
      maxResults = 2)
    assert(out.count() > 0)
  }

  test("entityContextSearch unions per-context sub-retrievals") {
    import graft.retrieve.Retrievers
    val embed: String => Seq[Double] = s => {
      val d = spark.range(1).select(graft.functions.VectorFunctions
        .hashEmbedding(lit(s), LexicalGraphBuilder.EmbeddingDim))
      d.as[Seq[Double]].head()
    }
    val out = Retrievers.entityContextSearch(g,
      Seq("spark joins tables", "cats chase mice", ""), embed)
    assert(out.count() > 0)
    // per-context truncation: <= 2 sources per context branch
    assert(out.select("source_id").distinct().count() <= 4)
    intercept[IllegalArgumentException](
      Retrievers.entityContextSearch(g, Seq(""), embed))
  }

  test("nlp keyword provider tags capitalized spans, dict-dedups") {
    import graft.retrieve.KeywordProviders
    assert(KeywordProviders.nlp(
      "Where did Marie Curie meet Pierre Curie?") ==
      Seq("Marie Curie", "Pierre Curie"))
    // interrogative-only spans dropped; case-insensitive dedup keeps
    // first-occurrence order with last-occurrence casing (dict semantics)
    assert(KeywordProviders.nlp(
      "What is Spark? is SPARK fast, and is Flink like Spark?") ==
      Seq("Spark", "Flink"))
    assert(KeywordProviders.nlp("all lowercase question") == Seq.empty)
  }

  test("vector-seeded entity providers: topic entities and top statement") {
    import graft.retrieve.{EntityProvider, EntityVSSProvider}
    val seeds = g.topics.orderBy("topic_id").limit(1).select("topic_id")
    val forTopics = EntityVSSProvider.entitiesForTopics(g, seeds, limit = 10)
    assert(forTopics.count() > 0 && forTopics.count() <= 10)
    // every returned entity is mentioned by a fact of the seed topic
    val seedEnts = g.statements.join(seeds, Seq("topic_id"))
      .join(g.factSupports, Seq("statement_id"))
      .join(g.facts, Seq("fact_id"))
    val ids = seedEnts.select(col("subject_entity_id").as("e"))
      .union(seedEnts.select(col("object_entity_id")))
      .as[String].collect().toSet
    assert(forTopics.select("entity_id").as[String].collect().forall(ids))
    // scores match the global degree table
    val deg = EntityProvider.scoredEntities(g)
      .select("entity_id", "score").as[(String, Long)].collect().toMap
    forTopics.select("entity_id", "score").as[(String, Long)].collect()
      .foreach { case (e, s) => assert(deg(e) == s) }

    val vss = EntityVSSProvider.fromVss(g, queryEmb, topK = 2, limit = 10)
    assert(vss.count() > 0 && vss.count() <= 10)

    val top = EntityVSSProvider.fromTopStatement(g, queryEmb,
      "spark joins tables", topK = 2, limit = 10)
    // one statement's entities: subject + object of its facts (<= 2 here)
    assert(top.count() >= 1 && top.count() <= 2)
    assert(top.select("entity_id").as[String].collect().forall(ids ++
      g.entities.select("entity_id").as[String].collect().toSet))
  }
}
