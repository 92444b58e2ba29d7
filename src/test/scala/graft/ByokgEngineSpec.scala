package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, Join, LocalRelation}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.byokg.{AgenticRetriever, ByoKGIterativeEngine, ByoKGQueryEngine,
  EntityLinker, GraphQueryRetriever, GraphQuerySafety, KGLinker,
  TokenOverlapReranker, Traversal}
import graft.llm.{LLM, QueryOps, StubLLM}

/** Replays canned responses in order — the deterministic stand-in for the
  * multi-turn KGLinker protocol. */
final class ScriptedLLM(responses: Seq[String]) extends LLM {
  private var i = -1
  override def complete(prompt: String): String = {
    i = math.min(i + 1, responses.length - 1)
    responses(i)
  }
}

class ByokgEngineSpec extends SparkSpec {
  import spark.implicits._

  //  acme -founded_by-> alice ; acme -located_in-> berlin ;
  //  alice -works_at-> acme ; berlin -capital_of-> germany
  private lazy val edges = Seq(
    ("acme", "alice", "founded_by"),
    ("acme", "berlin", "located_in"),
    ("alice", "acme", "works_at"),
    ("berlin", "germany", "capital_of"))
    .toDF("src", "dst", "label")

  test("fuzzyLink ranks closest node names with a length gate") {
    val nodes = Seq("acme", "alice", "berlin", "germany").toDF("name")
    val out = EntityLinker.fuzzyLink(nodes, "name", Seq("acmee", "berlln"), k = 1)
      .select("mention", "node").as[(String, String)].collect().toMap
    assert(out("acmee") == "acme")
    assert(out("berlln") == "berlin")
  }

  test("denseLink returns cosine top-k") {
    val emb = Seq(
      ("a", Array(1.0, 0.0)), ("b", Array(0.0, 1.0)), ("c", Array(0.7, 0.7)))
      .toDF("name", "emb")
    val out = EntityLinker.denseLink(emb, "name", "emb", Seq(1.0, 0.0), k = 2)
      .select("node").as[String].collect()
    assert(out.toSeq == Seq("a", "c"))
  }

  test("agentic retrieval follows question-relevant relations") {
    val out = AgenticRetriever.retrieve(
      edges, Seq("acme").toDF("node"), "who founded acme", new StubLLM,
      iterations = 1)
      .select("src", "dst", "label").as[(String, String, String)]
      .collect().toSet
    // "founded" matches founded_by; located_in does not match the question
    assert(out == Set(("acme", "alice", "founded_by")))
  }

  test("agentic retrieval keeps all relations when none match (fallback)") {
    val out = AgenticRetriever.retrieve(
      edges, Seq("acme").toDF("node"), "zzz qqq", new StubLLM, iterations = 1)
      .count()
    assert(out == 2) // both out-edges of acme survive
  }

  test("ByoKGQueryEngine assembles deduped verbalized context") {
    val engine = new ByoKGQueryEngine(edges, new StubLLM, iterations = 2)
    val ctx = engine.retrieveContext("who founded acme", Seq("acmee"))
    val lines = ctx.orderBy(col("first_seen")).select("text").as[String].collect()
    assert(lines.contains("acme [founded_by] alice"))
    assert(lines.distinct.length == lines.length)
    assert(lines.nonEmpty)
  }

  test("retrieveContext preserves first-seen order: agentic before khop-only") {
    val engine = new ByoKGQueryEngine(edges, new StubLLM, iterations = 1)
    val ctx = engine.retrieveContext("who founded acme", Seq("acmee"))
      .orderBy(col("first_seen")).select("text").as[String].collect().toSeq
    // agentic (priority 0) keeps only founded_by for this question; the
    // khop context (priority 1) adds located_in. first-seen order must put
    // every agentic line before any khop-only line — NOT alphabetical order,
    // which would interleave them.
    val agenticLine = ctx.indexOf("acme [founded_by] alice")
    val khopOnly = ctx.indexOf("acme [located_in] berlin")
    assert(agenticLine >= 0 && khopOnly >= 0 && agenticLine < khopOnly)
  }

  // ----- retrieveContext against a plain distributed composition -----

  /** The KGQA context as a plain distributed composition: linking against
    * the node set, the agentic loop and the k-hop expansion as joins over
    * frames, and first-seen ranking with windows. */
  private def plainContext(e: DataFrame, question: String,
                           mentions: Seq[String],
                           iterations: Int): Seq[(String, Int)] = {
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst"))).distinct()
    val linked = EntityLinker.fuzzyLink(nodes, "node", mentions, k = 1)
      .select(col("node")).distinct()
    def hop(f: DataFrame) = e.join(f.select(col("node").as("src")), Seq("src"))
    val qTokens = QueryOps.keywords(new StubLLM, question, maxKeywords = 8).toSet
    var agentic = e.limit(0)
    var frontier = linked
    for (_ <- 1 to iterations) {
      val h = hop(frontier)
      val labels = h.select("label").distinct().as[String].collect().toSeq
      val matched = labels.filter(
        _.toLowerCase.split("[^a-z0-9]+").exists(qTokens.contains))
      val kept = h.filter(
        col("label").isin((if (matched.isEmpty) labels else matched): _*))
      agentic = agentic.union(kept)
      frontier = kept.groupBy("dst").agg(count(lit(1)).as("deg"))
        .orderBy(desc("deg"), col("dst")).limit(8).select(col("dst").as("node"))
    }
    var khop = e.limit(0)
    frontier = linked
    for (_ <- 1 to iterations) {
      val h = hop(frontier)
      khop = khop.union(h)
      frontier = h.select(col("dst").as("node")).distinct()
    }
    def ordered(df: DataFrame, priority: Long) =
      Traversal.verbalizeTriplets(df.distinct()).withColumn("ord",
        lit(priority * 1000000L) + row_number().over(Window.orderBy("text")))
    ordered(agentic, 0).union(ordered(khop, 1))
      .groupBy("text").agg(min("ord").as("min_ord"))
      .withColumn("first_seen", row_number().over(Window.orderBy("min_ord")))
      .select("text", "first_seen").as[(String, Int)].collect()
      .sortBy(_._2).toSeq
  }

  private def context(engine: ByoKGQueryEngine, question: String,
                      mentions: Seq[String]): Seq[(String, Int)] =
    engine.retrieveContext(question, mentions)
      .select("text", "first_seen").as[(String, Int)].collect()
      .sortBy(_._2).toSeq

  test("retrieveContext matches the plain composition: no mentions, two " +
    "mentions of one node, and a frontier that drains after hop 1") {
    val engine = new ByoKGQueryEngine(edges, new StubLLM, iterations = 2)
    assert(context(engine, "who founded acme", Nil).isEmpty)
    assert(plainContext(edges, "who founded acme", Nil, 2).isEmpty)
    // "acmee" and "acme" both link acme
    val twice = context(engine, "who founded acme", Seq("acmee", "acme"))
    assert(twice == plainContext(edges, "who founded acme",
      Seq("acmee", "acme"), 2))
    assert(twice == context(engine, "who founded acme", Seq("acmee")))
    // x -> y, and y has no out-edge: hop 2 finds nothing
    val chain = Seq(("x", "y", "r"), ("p", "q", "r")).toDF("src", "dst", "label")
    val drained = context(new ByoKGQueryEngine(chain, new StubLLM, 3),
      "zzz", Seq("x"))
    assert(drained == Seq(("x [r] y", 1)))
    assert(drained == plainContext(chain, "zzz", Seq("x"), 3))
  }

  test("retrieveContext counts duplicate edges toward the agentic degree") {
    // hub -> n0..n8 once each, hub -> n8 twice: the top-8 frontier by
    // degree is n8 and n0..n6, so n7's out-edge is k-hop-only and ranks
    // after the agentic n8 line
    val out = (0 to 8).map(i => ("hub", s"n$i", "rel")) ++
      Seq(("hub", "n8", "rel")) ++ (0 to 8).map(i => (s"n$i", s"leaf$i", "rel"))
    val e = out.toDF("src", "dst", "label")
    val engine = new ByoKGQueryEngine(e, new StubLLM, 2)
    val got = context(engine, "zzz", Seq("hub"))
    assert(got == plainContext(e, "zzz", Seq("hub"), 2))
    // the join path past the probe's row cap counts them too
    assert(got == engine.retrieveContext("zzz", Seq("hub"), rowCap = 1)
      .select("text", "first_seen").as[(String, Int)].collect()
      .sortBy(_._2).toSeq)
    val texts = got.map(_._1)
    assert(texts.indexOf("n8 [rel] leaf8") < texts.indexOf("n7 [rel] leaf7"))
    assert(texts.indexOf("n6 [rel] leaf6") < texts.indexOf("n7 [rel] leaf7"))
    assert(texts.distinct == texts)
  }

  private def rows(df: DataFrame): Set[(String, String, String)] =
    df.select("src", "dst", "label").as[(String, String, String)].collect().toSet

  /** Joins in `df`'s plan whose frontier side is hinted to broadcast. */
  private def joins(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect {
      case j: Join if j.hint.rightHint.exists(_.strategy.contains(BROADCAST)) => j
    }.size

  /** Whether `df` is a driver-local frame, as the probe paths return. */
  private def local(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]

  test("kHopTriplets past the probe's row cap reruns as joins from the " +
    "seeds, with the probe path's rows") {
    val acme = Seq("acme").toDF("node")
    val probed = Traversal.kHopTriplets(edges, acme, 2)
    assert(joins(probed) == 0)
    val want = Set(("acme", "alice", "founded_by"),
      ("acme", "berlin", "located_in"), ("alice", "acme", "works_at"),
      ("berlin", "germany", "capital_of"))
    assert(rows(probed) == want)
    // two seeds over a cap of 1
    val seeds2 = Seq("acme", "alice").toDF("node")
    val joined = Traversal.kHopTriplets(edges, seeds2, 2, undirected = false,
      rowCap = 1)
    assert(joins(joined) > 0)
    assert(rows(joined) == rows(Traversal.kHopTriplets(edges, seeds2, 2)))
    // hop 1 holds 2 rows, hop 2 would hold 4 over a cap of 3
    assert(joins(Traversal.kHopTriplets(edges, acme, 1, undirected = false,
      rowCap = 3)) == 0)
    val late = Traversal.kHopTriplets(edges, acme, 2, undirected = false,
      rowCap = 3)
    assert(joins(late) > 0)
    assert(rows(late) == want)
  }

  test("the agentic retriever and retrieveContext past the probe's row " +
    "cap match the probe path") {
    val llm = new StubLLM
    val acme = Seq("acme").toDF("node")
    for (q <- Seq("who founded acme", "zzz")) {
      val joined = AgenticRetriever.retrieve(edges, acme, q, llm, 2, 8, rowCap = 1)
      val probed = AgenticRetriever.retrieve(edges, acme, q, llm)
      assert(!local(joined) && local(probed))
      assert(rows(joined) == rows(probed))
    }
    val engine = new ByoKGQueryEngine(edges, llm, iterations = 2)
    for ((q, m) <- Seq(("who founded acme", Seq("acmee")),
        ("zzz", Seq("alice", "germany")))) {
      val frame = engine.retrieveContext(q, m, rowCap = 1)
      assert(!local(frame) && local(engine.retrieveContext(q, m)))
      val joined = frame.select("text", "first_seen").as[(String, Int)]
        .collect().sortBy(_._2).toSeq
      assert(joined.nonEmpty)
      assert(joined == context(engine, q, m))
      assert(joined == plainContext(edges, q, m, 2))
    }
  }

  test("two threads on one engine get the sequential rows; the vocabulary " +
    "is built once") {
    val questions = Seq(("who founded acme", Seq("acmee")),
      ("where is berlin", Seq("berln")), ("zzz", Seq("alice", "germany")),
      ("capital of germany", Seq("germny")))
    val sequential = {
      val engine = new ByoKGQueryEngine(edges, new StubLLM, iterations = 2)
      questions.map { case (q, m) => context(engine, q, m) }
    }
    val engine = new ByoKGQueryEngine(edges.select("src", "label", "dst"),
      new StubLLM, iterations = 2)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val futures = (0 until 2).map { t =>
        pool.submit(new java.util.concurrent.Callable[Seq[Seq[(String, Int)]]] {
          def call() = {
            val order = if (t == 0) questions else questions.reverse
            val got = order.map { case (q, m) => (q, context(engine, q, m)) }.toMap
            questions.map { case (q, _) => got(q) }
          }
        })
      }
      futures.foreach(f => assert(f.get() == sequential))
    } finally pool.shutdown()
    val cached = engine.vocabulary.queryExecution.withCachedData.collectFirst {
      case r: InMemoryRelation => r }.get
    // every cached partition was computed once: the rows the cache built
    // are the distinct nodes, not a multiple of them
    val distinctNodes = edges.select(col("src")).union(edges.select(col("dst")))
      .distinct().count()
    assert(cached.cacheBuilder.rowCountStats.value == distinctNodes)
  }

  test("engine construction runs no Spark job; a warm retrieveContext " +
    "runs at most 6") {
    val sc = spark.sparkContext
    // Spark jobs started by `body`, counted once the listener bus drained
    // (the way PlanCensus counts)
    def jobsOf(body: => Unit): Int = {
      org.apache.spark.GraftSparkBridge.drainListenerBus(sc)
      val jobs = new java.util.concurrent.atomic.AtomicInteger
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      }
      sc.addSparkListener(listener)
      try {
        body
        org.apache.spark.GraftSparkBridge.drainListenerBus(sc)
      } finally sc.removeSparkListener(listener)
      jobs.get()
    }
    // a frame no earlier test cached, so the vocabulary is a new cache
    val e = edges.union(Seq(("germany", "europe", "part_of"))
      .toDF("src", "dst", "label"))
    var engine: ByoKGQueryEngine = null
    assert(jobsOf { engine = new ByoKGQueryEngine(e, new StubLLM, 2) } == 0)
    context(engine, "who founded acme", Seq("acmee"))
    val warm = jobsOf(context(engine, "where is berlin", Seq("berln", "acme")))
    assert(warm <= 6, s"$warm jobs")
  }

  // ----- KGLinker artifact protocol (kg_linker.py:15-140) -----

  test("KGLinker parses per-task artifacts and task completion") {
    val resp =
      """<entities>
        |acme corp
        |alice
        |</entities>
        |<paths>
        |acme -> founded_by
        |</paths>
        |<opencypher>SELECT 1</opencypher>
        |<answers>alice</answers>
        |<task-completion>FINISH</task-completion>""".stripMargin
    val a = KGLinker.parseResponse(resp)
    assert(a("entity-extraction") == Seq("acme corp", "alice"))
    assert(a("path-extraction") == Seq("acme -> founded_by"))
    assert(a("opencypher") == Seq("SELECT 1"))
    assert(a("draft-answer-generation") == Seq("alice"))
    assert(KGLinker.taskCompletion(resp) == Seq("FINISH"))
    assert(KGLinker.parseTag("no tags here", "entities").isEmpty)
  }

  test("KGLinker prompt embeds question, schema, context and task tags") {
    val p = KGLinker.buildPrompt("who?", "Relations: a, b", "ctx line",
      iterative = true)
    assert(p.contains("who?") && p.contains("Relations: a, b") &&
      p.contains("ctx line") && p.contains("<entities>") &&
      p.contains("iterative"))
    val p0 = KGLinker.buildPrompt("q", "s", "")
    assert(p0.contains("No graph context provided"))
  }

  // ----- read-only query gate (graph_retrievers.py:376-414) -----

  test("isQuerySafe blocks modification keywords through evasion tricks") {
    assert(GraphQuerySafety.isQuerySafe("MATCH (n) RETURN n"))
    assert(GraphQuerySafety.isQuerySafe("SELECT src, dst FROM edges"))
    assert(!GraphQuerySafety.isQuerySafe("CREATE (n:Node)"))
    assert(!GraphQuerySafety.isQuerySafe("match (n) delete n"))
    // keyword hidden behind a block comment
    assert(!GraphQuerySafety.isQuerySafe("/* x */ DROP TABLE edges"))
    // keyword only inside a comment is fine
    assert(GraphQuerySafety.isQuerySafe("SELECT 1 // DELETE nothing"))
    assert(GraphQuerySafety.isQuerySafe("SELECT 1 -- DROP nothing"))
    // fullwidth lookalikes collapse under NFKC
    assert(!GraphQuerySafety.isQuerySafe("ＤＥＬＥＴＥ x"))
    // substring inside a word is not a keyword
    assert(GraphQuerySafety.isQuerySafe("SELECT created_at FROM edges"))
    assert(GraphQuerySafety.isQuerySafe("DROP ANYTHING", blockModification = false))
  }

  test("GraphQueryRetriever executes safe SQL and verbalizes rows") {
    edges.createOrReplaceTempView("kg_edges")
    val r = new GraphQueryRetriever(spark)
    val ok = r.retrieve(
      "SELECT src, label FROM kg_edges WHERE dst = 'alice' ORDER BY src")
    assert(ok == Seq("src: acme, label: founded_by"))
    val blocked = r.retrieve("DELETE FROM kg_edges")
    assert(blocked.head.startsWith("Error executing query"))
    val bad = r.retrieve("SELECT nope FROM kg_edges")
    assert(bad.head.startsWith("Error executing query"))
  }

  // ----- reranker seam (graph_reranker.py:32-133) -----

  test("TokenOverlapReranker keeps top-k by query overlap, stable on ties") {
    val in = Seq((0L, "acme founded by alice"), (1L, "berlin capital"),
      (2L, "alice founded acme today")).toDF("ord", "text")
    val out = new TokenOverlapReranker()
      .rerankTopK("who founded acme", in, "text", 2, "ord")
      .select("ord").as[Long].collect()
    assert(out.toSeq == Seq(0L, 2L)) // both mention founded+acme; 0 is shorter
  }

  // ----- path verbalizer parity (graph_verbalizer.py:108-254) -----

  test("verbalizeTripletsMerged groups tails per (head, relation)") {
    val t = Seq(("a", "x", "r"), ("a", "y", "r"), ("b", "z", "s"))
      .toDF("src", "dst", "label")
    val out = Traversal.verbalizeTripletsMerged(t)
      .select("text").as[String].collect().sorted
    assert(out.toSeq == Seq("a -> r -> x | y", "b -> s -> z"))
  }

  test("metapathPaths keeps full paths; verbalizePaths merges ends") {
    val paths = Traversal.metapathPaths(edges, Seq("acme").toDF("node"),
      Seq("located_in", "capital_of"))
    assert(paths.count() == 1)
    val lines = Traversal.verbalizePaths(paths).select("text").as[String].collect()
    assert(lines.toSeq ==
      Seq("acme -> located_in > berlin > capital_of -> germany"))
    val single = Traversal.verbalizePaths(
      Traversal.metapathPaths(edges, Seq("acme").toDF("node"), Seq("founded_by")))
      .select("text").as[String].collect()
    assert(single.toSeq == Seq("acme -> founded_by -> alice"))
  }

  // ----- full iterate loop (byokg_query_engine.py:151-188) -----

  test("ByoKGIterativeEngine runs the artifact-driven loop and stops on FINISH") {
    edges.createOrReplaceTempView("kg_edges")
    val turn1 =
      """<entities>
        |acmee
        |</entities>
        |<paths>
        |located_in -> capital_of
        |</paths>
        |<opencypher>SELECT 'extra: line' AS note</opencypher>""".stripMargin
    val turn2 = "<entities>\nFINISH\n</entities>" +
      "<task-completion>FINISH</task-completion>"
    val engine = new ByoKGIterativeEngine(edges,
      new ScriptedLLM(Seq(turn1, turn2)),
      queryRetriever = Some(new GraphQueryRetriever(spark)))
    val ctx = engine.query("who founded acme", iterations = 3)
    // triplet context from the linked entity, path context from the metapath,
    // query context from the safe SQL — in arrival order, deduped
    assert(ctx.exists(_.contains("founded_by")))
    assert(ctx.contains("acme -> located_in > berlin > capital_of -> germany"))
    assert(ctx.exists(_.startsWith("note:")))
    assert(ctx.distinct.length == ctx.length)
    // second turn FINISHed: the scripted LLM would replay turn2 forever, so
    // reaching here without a 3rd-iteration context change proves the break
    val engine2 = new ByoKGIterativeEngine(edges,
      new ScriptedLLM(Seq(turn1, turn2)),
      queryRetriever = Some(new GraphQueryRetriever(spark)))
    assert(engine2.query("who founded acme", iterations = 10) == ctx)
  }

  test("ByoKGIterativeEngine applies the reranker to triplet context") {
    val turn =
      """<entities>
        |acmee
        |</entities><task-completion>FINISH</task-completion>""".stripMargin
    val engine = new ByoKGIterativeEngine(edges, new ScriptedLLM(Seq(turn)),
      reranker = Some(new TokenOverlapReranker))
    val ctx = engine.query("who founded acme", iterations = 1)
    assert(ctx.nonEmpty)
  }

  test("GraphScoringRetriever composes k-hop, relation pruning, and rerank") {
    import graft.byokg.GraphScoringRetriever
    val out = GraphScoringRetriever.retrieve(edges,
      Seq("acme").toDF("node"), "who founded acme",
      new TokenOverlapReranker, hops = 2, topk = 3, maxRelations = 2)
    val lines = out.select("text").as[String].collect()
    assert(lines.nonEmpty && lines.length <= 3)
    // merged verbalization shape, query-relevant relation survives pruning
    assert(lines.exists(_.contains("-> founded_by ->")))
    assert(lines.forall(_.contains(" -> ")))
    // maxRelations=2 prunes the vocabulary: at most 2 distinct relations
    val relCount = lines.map(_.split(" -> ")(1)).distinct.length
    assert(relCount <= 2)
  }

  test("ByoKGIterativeEngine executes property-returning cypher from the " +
    "LLM through the CypherGraphRetriever (the reference's node_result " +
    "projection shape); an invented property becomes retry feedback") {
    import graft.byokg.CypherGraphRetriever
    val nodeProps = Seq(
      ("acme", "Acme Corp", "company"), ("alice", "Alice Liddell", "person"),
      ("berlin", "Berlin", "city"), ("germany", "Germany", "country"))
      .toDF("id", "value", "class")
    // turn 1: ordinary LLM-authored cypher projecting node properties
    val turn1 =
      """<entities>
        |acmee
        |</entities>
        |<opencypher>MATCH (a)-[:founded_by]->(f) WHERE a.class = 'company' RETURN a.value AS org, f.value AS founder</opencypher>"""
        .stripMargin
    val turn2 = "<entities>\nFINISH\n</entities>" +
      "<task-completion>FINISH</task-completion>"
    val engine = new ByoKGIterativeEngine(edges,
      new ScriptedLLM(Seq(turn1, turn2)),
      cypherRetriever = Some(new CypherGraphRetriever(edges,
        nodeProps = Some(nodeProps))))
    val ctx = engine.query("who founded acme", iterations = 3)
    assert(ctx.contains("org: Acme Corp, founder: Alice Liddell"), ctx)
    // an invented property surfaces the schema in the retry-feedback line
    val badTurn = turn1.replace("a.class", "a.chunkId")
    val engine2 = new ByoKGIterativeEngine(edges,
      new ScriptedLLM(Seq(badTurn, turn2)),
      cypherRetriever = Some(new CypherGraphRetriever(edges,
        nodeProps = Some(nodeProps))))
    val ctx2 = engine2.query("who founded acme", iterations = 3)
    val err = ctx2.find(_.startsWith("Error executing query:"))
    assert(err.nonEmpty && err.get.contains("chunkId") &&
      err.get.contains("class"), ctx2)
  }

  test("ByoKGIterativeEngine executes expression cypher from the LLM " +
    "(coalesce / toLower / property arithmetic — the reference's own " +
    "retrieval-cypher shapes); an unknown function becomes retry feedback") {
    import graft.byokg.CypherGraphRetriever
    val nodeProps = Seq(
      ("acme", "Acme Corp", "company", 50.0),
      ("alice", "Alice Liddell", "person", 150.0),
      ("berlin", "Berlin", "city", 10.0),
      ("germany", "Germany", "country", 20.0))
      .toDF("id", "value", "class", "score")
    val turn1 =
      """<entities>
        |acmee
        |</entities>
        |<opencypher>MATCH (a)-[:founded_by]->(f) WHERE f.score > a.score * 2.0 RETURN toLower(a.value) AS org, coalesce(f.value, 'unknown') AS founder</opencypher>"""
        .stripMargin
    val turn2 = "<entities>\nFINISH\n</entities>" +
      "<task-completion>FINISH</task-completion>"
    val engine = new ByoKGIterativeEngine(edges,
      new ScriptedLLM(Seq(turn1, turn2)),
      cypherRetriever = Some(new CypherGraphRetriever(edges,
        nodeProps = Some(nodeProps))))
    val ctx = engine.query("who founded acme", iterations = 3)
    assert(ctx.contains("org: acme corp, founder: Alice Liddell"), ctx)
    // an unknown function surfaces BY NAME in the retry-feedback line,
    // with the supported list — the LLM's budget goes to semantics
    val badTurn = turn1.replace("toLower(a.value)", "initCap(a.value)")
    val engine2 = new ByoKGIterativeEngine(edges,
      new ScriptedLLM(Seq(badTurn, turn2)),
      cypherRetriever = Some(new CypherGraphRetriever(edges,
        nodeProps = Some(nodeProps))))
    val ctx2 = engine2.query("who founded acme", iterations = 3)
    val err = ctx2.find(_.startsWith("Error executing query:"))
    assert(err.nonEmpty && err.get.contains("initCap") &&
      err.get.contains("coalesce"), ctx2)
  }

  test("engine schema lists sorted relation labels") {
    val engine = new ByoKGIterativeEngine(edges, new StubLLM)
    assert(engine.schema() ==
      "Relations: capital_of, founded_by, located_in, works_at")
  }

  test("edgesFromCsv loads triplets, skips short rows, ignores extras") {
    val dir = java.nio.file.Files.createTempDirectory("kgcsv").toFile
    val f = new java.io.File(dir, "kg.csv")
    val w = new java.io.PrintWriter(f)
    w.println("source,relation,target,weight")
    w.println("a,knows,b,3")
    w.println("b,likes,c,1")
    w.println("broken,row")
    w.close()
    val e = graft.byokg.Traversal.edgesFromCsv(spark, f.getAbsolutePath)
    assert(e.columns.toSeq == Seq("src", "dst", "label"))
    assert(e.as[(String, String, String)].collect().toSet ==
      Set(("a", "b", "knows"), ("b", "c", "likes")))
    // loaded edges drive the traversals directly
    val hop = graft.byokg.Traversal.oneHop(e, Seq("a").toDF("node"))
    assert(hop.select("dst").as[String].collect().toSeq == Seq("b"))
  }

  test("EmbeddingInteractionReranker ranks by embedding geometry through " +
    "the stored-embedding column") {
    import graft.byokg.EmbeddingInteractionReranker
    // dim=4; the scorer's effective query vector is w_j = q_j + 0.5·q_{j+1}
    // (cyclic). Candidates with embeddings aligned to w must outrank
    // orthogonal and anti-aligned ones REGARDLESS of their text — the
    // ranking the token-overlap stand-in cannot produce.
    val q = new graft.llm.HashEmbedder(4).embed("the query")
    val w = Array.tabulate(4)(j => q(j) + 0.5 * q((j + 1) % 4))
    val orth = Array(-w(1), w(0), -w(3), w(2)) // ⟂ w by construction
    val rows = Seq(
      ("aligned", w.map(_ * 2.0).toSeq),   // cos = 1 (scale-invariant)
      ("anti", w.map(-_).toSeq),           // cos = -1
      ("ortho", orth.toSeq))               // cos = 0
      .toDF("statement_id", "emb").withColumn("statement", lit("same text"))
    val rr = new EmbeddingInteractionReranker(dim = 4, embCol = Some("emb"))
    val out = rr.rerankTopK("the query", rows, "statement",
        topk = 3, orderCol = "statement_id")
      .select("statement_id").as[String].collect().toSeq
    assert(out == Seq("aligned", "ortho", "anti"))
    // top-k truncation keeps the highest scores
    val top1 = rr.rerankTopK("the query", rows, "statement", 1, "statement_id")
    assert(top1.select("statement_id").as[String].collect().toSeq ==
      Seq("aligned"))
    // identical texts tie exactly on the text-derived path; order falls
    // back to orderCol (the stable-argsort contract)
    val tie = new EmbeddingInteractionReranker(dim = 4)
      .rerankTopK("the query", rows, "statement", 3, "statement_id")
      .select("statement_id").as[String].collect().toSeq
    assert(tie == Seq("aligned", "anti", "ortho"))
  }
}
