package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.byokg.Traversal

/**
 * Graph traversal inventory (SURVEY.md §2.4 var-length joins, §2.13 byokg
 * operators) over the derived customer→order→part→supplier property graph
 * (see [[Tables.edges]]). Oracles are plain join chains / recursive CTEs.
 */
object GraphQueries {
  import Tables.{t, edges, edgesSql}

  private def seeds(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer").filter(col("c_nationkey") === 0)
      .select(concat(lit("c:"), col("c_custkey")).as("node"))

  /** The reference's flagship statements_cypher text (store naming
    * adapted; traversal_based_base_retriever.py:153-190), run by the
    * q_cypher_statements gate. */
  val statementsCypherText: String =
    """// get statements grouped by topic and source
          |MATCH (t)<-[:belongs_to]-(l:L)
          |      -[:mentioned_in]->(c)
          |      -[:extracted_from]->(s)
          |WHERE l.id in $statementIds
          |WITH {
          |        sourceId: s.id,
          |        metadata: properties(s),
          |        versioning: {
          |            valid_from: coalesce(s.valid_from, -1),
          |            valid_to: coalesce(s.valid_to, 10000000000000),
          |            extract_timestamp: coalesce(s.extract_timestamp, -1),
          |            build_timestamp: coalesce(s.build_timestamp, -1),
          |            id_fields: split(coalesce(s.id_fields, ""), ";")
          |        }
          |    } AS source,
          |    t, l, c,
          |    { chunkId: c.id, value: NULL, metadata: properties(c) } AS cc,
          |    { statementId: l.id, statement: l.value, facts: [], details: l.details, chunkId: c.id, score: 0 } as ll
          |WITH source,
          |    t,
          |    collect(distinct cc) as chunks,
          |    collect(ll) as statements
          |WITH source,
          |    {
          |        topic: t.value,
          |        topicId: t.id,
          |        chunks: chunks,
          |        statements: statements
          |    } as topic
          |WITH sum(size(topic.statements)/size(topic.chunks)) AS score, source, collect(topic) AS topics
          |RETURN {
          |    score: score,
          |    source: source,
          |    topics: topics
          |} as result ORDER BY result.score DESC LIMIT $limit""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // §2.13 byokg k-hop triplet expansion (k=2, directed).
    "q_khop_triplets" -> ((s, dir) => {
      Traversal.kHopTriplets(edges(s, dir), seeds(s, dir), 2)
        .orderBy(col("src"), col("dst"), col("label"))
    }),

    // §2.13 metapath following: placed / contains / supplied_by.
    "q_metapath" -> ((s, dir) => {
      Traversal.followMetapath(edges(s, dir), seeds(s, dir),
        Seq("placed", "contains", "supplied_by"))
        .orderBy(col("node"))
    }),

    // §2.13 BFS shortest distances (undirected, bounded depth). Probes the
    // memoized both-direction edge frame (undirected=false: already swapped).
    "q_shortest_path" -> ((s, dir) => {
      val seed = s.createDataFrame(Seq(Tuple1("c:0"))).toDF("node")
      // fixed shallow depth → the lazy unrolled BFS: one Catalyst plan, one
      // job, no per-hop driver round trips (the eager loop with early exit
      // stays the scale path for deep/unknown frontiers)
      Traversal.shortestDistances(Tables.undirectedEdges(s, dir), seed, 3,
          eager = false)
        .orderBy(col("node"))
    }),

    // ext. landmark harmonic closeness — 7 landmark BFS runs (custkeys
    // 1..7: `c_custkey < 8` and TPC-H custkey starts at 1) batched as
    // ONE (seed, node) frontier (Traversal.multiSourceDistances: one edge
    // join per hop for any landmark count), integer micro-unit harmonic
    // terms. The oracle replays all 7 BFS runs in one recursive CTE.
    "q_closeness" -> ((s, dir) => {
      val seeds = t(s, dir, "customer").filter(col("c_custkey") < 8)
        .select(concat(lit("c:"), col("c_custkey")).as("node"))
      Traversal.harmonicCloseness(Tables.undirectedEdges(s, dir), seeds, 3)
        .orderBy(col("node"))
    }),

    // ext. sampled k-truncated betweenness (Brandes 2001 / Brandes-Pich
    // 2007): 5 seed BFS runs batched through one (seed, node) frontier,
    // sigma-counting forward, ascending-successor dependency folds
    // backward, ascending-seed total — every double fold has ONE order,
    // so the unrolled DuckDB replay is bit-exact.
    "q_betweenness" -> ((s, dir) => {
      val seeds = t(s, dir, "customer").filter(col("c_custkey") < 6)
        .select(concat(lit("c:"), col("c_custkey")).as("seed"))
        .withColumn("node", col("seed"))
      Traversal.brandesBetweenness(Tables.undirectedEdges(s, dir), seeds, 3)
        .select(col("node"), round(col("betweenness"), 6).as("betweenness"))
        .orderBy(col("node"))
    }),

    // ext. log2-binned degree distribution — the power-law sanity check
    // run on every derived graph; exact bins via binary-string length
    // (identical in both engines, no floating log2 near powers of two).
    "q_degree_hist" -> ((s, dir) => {
      val e = edges(s, dir)
      val deg = e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("degree"))
      deg.groupBy(length(conv(col("degree"), 10, 2)).as("bin"))
        .agg(count(lit(1)).as("n_nodes"), min(col("degree")).as("min_degree"),
          max(col("degree")).as("max_degree"))
        .orderBy(col("bin"))
    }),

    // §2.5 entity relation-count scoring (degree over both directions).
    "q_entity_degree" -> ((s, dir) => {
      val e = edges(s, dir)
      e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("degree"))
        .orderBy(col("node"))
    }),

    // §2.13 agentic retrieval loop (relation selection via stub LLM). The
    // per-iteration relation-selection turn is a driver round-trip, but with
    // the deterministic stub every turn is replayable: the oracle bakes the
    // stub's keyword set (computed through the same QueryOps.keywords path
    // at oracle-build time) and unrolls both iterations — hop, label-match
    // with keep-all fallback, top-8-by-degree frontier — in SQL.
    "q_agentic" -> ((s, dir) => {
      graft.byokg.AgenticRetriever.retrieve(
        edges(s, dir), seeds(s, dir), "parts placed in orders",
        new graft.llm.StubLLM, iterations = 2)
        .orderBy(col("src"), col("dst"), col("label"))
    }),

    // §2.13 triplet verbalization of a bounded expansion.
    "q_verbalize" -> ((s, dir) => {
      val hop = Traversal.kHopTriplets(edges(s, dir), seeds(s, dir), 1)
      Traversal.verbalizeTriplets(hop).orderBy(col("text"))
    }),

    // §2.13 merged triplet verbalization: tails grouped per (head, relation)
    // and |-joined (reference graph_verbalizer.py verbalize_merge_triplets).
    "q_verbalize_merged" -> ((s, dir) => {
      val hop = Traversal.kHopTriplets(edges(s, dir), seeds(s, dir), 1)
      Traversal.verbalizeTripletsMerged(hop).orderBy(col("text"))
    }),

    // §2.13 full-path retrieval + PathVerbalizer: 2-hop placed/contains
    // metapath from one customer, paths kept whole and verbalized as
    // "start -> rel > node > rel -> end1 | end2" (graph_verbalizer.py:144-254).
    "q_metapath_paths" -> ((s, dir) => {
      val seed = s.createDataFrame(Seq(Tuple1("c:0"))).toDF("node")
      val paths = Traversal.metapathPaths(edges(s, dir), seed,
        Seq("placed", "contains"))
      Traversal.verbalizePaths(paths).orderBy(col("text"))
    }),

    // §2.13 openCypher artifact execution: the MATCH-subset compiler
    // (byokg.CypherLite) translating the KGLinker's opencypher artifacts
    // into the same per-hop equi-join plans as followMetapath — here a
    // 2-hop anchored pattern over the derived graph.
    "q_cypher_match" -> ((s, dir) => {
      val q = "MATCH (c:c)-[:placed]->(o:o)-[:contains]->(p:p) " +
        "WHERE c.id = 'c:0' RETURN c.id, o.id, p.id"
      graft.byokg.CypherLite.run(edges(s, dir), q)
        .fold(err => sys.error(err), identity)
        .orderBy(col("c"), col("o"), col("p"))
    }),

    // §2.13 var-length openCypher: `*1..2` unrolls into the union of the
    // fixed-length chains — the reference's `[:PREVIOUS*0..1]` pattern
    // family through the same compiler.
    "q_cypher_varlength" -> ((s, dir) => {
      val q = "MATCH (c:c)-[:placed]->(o:o)-[*1..2]->(x) " +
        "WHERE c.id = 'c:0' RETURN c.id, o.id, x.id"
      graft.byokg.CypherLite.run(edges(s, dir), q)
        .fold(err => sys.error(err), identity)
        .orderBy(col("c"), col("o"), col("x"))
    }),

    // §2.13 conjunctive openCypher: comma-separated patterns joined on
    // their shared variables + RETURN DISTINCT + ORDER BY — the standard
    // multi-pattern form LLM-authored KGQA queries emit (each pattern
    // compiles to its own binding frame; shared vars become equi-joins).
    "q_cypher_multipart" -> ((s, dir) => {
      val q = "MATCH (c:c)-[:placed]->(o:o), (o)-[:contains]->(p:p), " +
        "(p)-[:supplied_by]->(sup:s) WHERE c.id = 'c:0' " +
        "RETURN DISTINCT c.id, p.id, sup.id ORDER BY c.id, p.id, sup.id"
      graft.byokg.CypherLite.run(edges(s, dir), q)
        .fold(err => sys.error(err), identity)
    }),

    // §2.13 OPTIONAL MATCH: left-outer attach on the mandatory anchor —
    // the customer keeps its placed orders, the part and the supplier
    // survive with null (they have no outgoing placed edge). Also
    // exercises WHERE id IN [...] and DISTINCT through the compiler.
    "q_cypher_optional" -> ((s, dir) => {
      val q = "MATCH (n) OPTIONAL MATCH (n)-[:placed]->(o:o) " +
        "WHERE n.id IN ['c:0', 'p:1', 's:1'] " +
        "RETURN DISTINCT n.id, o.id ORDER BY n.id, o.id"
      graft.byokg.CypherLite.run(edges(s, dir), q)
        .fold(err => sys.error(err), identity)
    }),

    // §2.13 property-map anchors: `(c:c {id: 'c:0'})` — the anchored form
    // the reference's retrieval cypher uses (chunk_based_search.py:88-102
    // anchors `(c{chunkId:$id})`) and the default shape an LLM emits in
    // the KGLinker loop. The mandatory anchor compiles to the same pushed
    // equality as WHERE; the OPTIONAL pattern's anchor applies INSIDE the
    // part frame before the left join (where a global WHERE could not go
    // without null-killing the outer join).
    "q_cypher_propmap" -> ((s, dir) => {
      val q = "MATCH (c:c {id: 'c:0'})-[:placed]->(o:o) " +
        "OPTIONAL MATCH (o)-[:contains]->(p {id: 'p:1'}) " +
        "RETURN DISTINCT c.id, o.id, p.id ORDER BY c.id, o.id, p.id"
      graft.byokg.CypherLite.run(edges(s, dir), q)
        .fold(err => sys.error(err), identity)
    }),

    // §2.13 STARTS WITH: the reference entity provider's prefix fallback
    // (entity_provider.py:30-110) through the compiler — a sargable
    // prefix predicate on the binding frame.
    "q_cypher_startswith" -> ((s, dir) => {
      val q = "MATCH (n)-[:supplied_by]->(sup:s) " +
        "WHERE n.id STARTS WITH 'p:1' " +
        "RETURN DISTINCT n.id, sup.id ORDER BY n.id, sup.id"
      graft.byokg.CypherLite.run(edges(s, dir), q)
        .fold(err => sys.error(err), identity)
    }),

    // ext. openCypher OR: DNF WHERE (AND binds tighter) — the disjunctive
    // filter shape LLM rewrites produce when two anchors could answer a
    // question. Compiles to ONE residual filter over the typed scan, not
    // a union of per-branch queries.
    "q_cypher_or" -> ((s, dir) => {
      val q = "MATCH (n:p)-[:supplied_by]->(sup:s) " +
        "WHERE n.id STARTS WITH 'p:1' OR sup.id = 's:3' " +
        "RETURN DISTINCT n.id, sup.id ORDER BY n.id, sup.id"
      graft.byokg.CypherLite.run(edges(s, dir), q)
        .fold(err => sys.error(err), identity)
    }),

    // ext. openCypher relationship alternation `[:a|b]` + AS aliases:
    // the alternation is one `label IN (...)` filter on a single edge
    // scan (not a union), and the aliases name the output columns —
    // both forms standard Cypher that LLMs emit constantly.
    "q_cypher_alttype" -> ((s, dir) => {
      val q = "MATCH (a)-[:placed|supplied_by]->(b) " +
        "WHERE a.id IN ['c:0', 'c:1', 'p:1', 'p:10'] " +
        "RETURN DISTINCT a.id AS left_id, b.id AS right_id " +
        "ORDER BY left_id, right_id"
      graft.byokg.CypherLite.run(edges(s, dir), q)
        .fold(err => sys.error(err), identity)
    }),

    // ext. openCypher IS NULL anti-join: anchors with NO match — the
    // "customers who never placed an order" shape, expressed the way
    // Cypher (and every LLM) writes it: OPTIONAL MATCH + WHERE o IS NULL.
    "q_cypher_isnull" -> ((s, dir) => {
      val q = "MATCH (n) OPTIONAL MATCH (n)-[]->(m) " +
        "WHERE m IS NULL RETURN DISTINCT n.id AS sink ORDER BY sink"
      graft.byokg.CypherLite.run(edges(s, dir), q)
        .fold(err => sys.error(err), identity)
    }),

    // ext. openCypher relationship variables: `-[r]->` binds the edge
    // type, `type(r)` reads it — the "what is the relationship between X
    // and Y" KGQA shape (an untyped scan whose output NAMES each edge).
    "q_cypher_reltype" -> ((s, dir) => {
      val q = "MATCH (n)-[r]->(m) WHERE n.id IN ['c:0', 'p:1'] " +
        "RETURN DISTINCT n.id AS src_id, type(r) AS rel, m.id AS dst_id " +
        "ORDER BY src_id, rel, dst_id"
      graft.byokg.CypherLite.run(edges(s, dir), q)
        .fold(err => sys.error(err), identity)
    }),

    // ext. openCypher count(v): NON-NULL binding count over an OPTIONAL
    // MATCH — zero-order anchors stay in the output with cnt = 0, where
    // count(*) would report 1. The "how many X does each Y have,
    // including none" shape.
    "q_cypher_countvar" -> ((s, dir) => {
      val q = "MATCH (n) OPTIONAL MATCH (n)-[:placed]->(o:o) " +
        "WHERE n.id IN ['c:0', 'c:1', 'c:2', 'p:1', 's:1'] " +
        "RETURN n.id AS anchor, count(o) AS cnt ORDER BY anchor"
      graft.byokg.CypherLite.run(edges(s, dir), q)
        .fold(err => sys.error(err), identity)
    }),

    // ext. openCypher top-k by cardinality: ORDER BY count(*) DESC
    // LIMIT k over a grouped count — the superlative-question shape
    // ("which customer placed the most orders"); compiles to
    // agg + TakeOrdered, never a global sort.
    "q_cypher_topcount" -> ((s, dir) => {
      val q = "MATCH (c:c)-[:placed]->(o:o) " +
        "RETURN c.id AS cust, count(*) AS n_orders " +
        "ORDER BY count(*) DESC, cust LIMIT 10"
      graft.byokg.CypherLite.run(edges(s, dir), q)
        .fold(err => sys.error(err), identity)
    }),

    // ext. openCypher node-property access: `v.<prop>` in WHERE / RETURN
    // / ORDER BY resolves through the graph's node-property table — the
    // reference's retrieval cypher projects properties everywhere
    // (node_result, graph_utils.py:121-157; `l.value` in
    // traversal_based_base_retriever.py:143-217), so LLM-authored
    // `RETURN p.value` must compile. Each property-reading variable costs
    // ONE left equi-join against the props frame, pruned to the
    // referenced columns.
    "q_cypher_props" -> ((s, dir) => {
      val q = "MATCH (p:p)-[:supplied_by]->(sup:s) " +
        "WHERE p.value CONTAINS 'red' AND sup.class = 'supplier' " +
        "RETURN DISTINCT p.id AS part_id, p.value AS part_name, " +
        "sup.value AS supplier_name " +
        "ORDER BY part_name, part_id, supplier_name"
      graft.byokg.CypherLite.run(edges(s, dir),
          Some(Tables.nodeProps(s, dir)), q)
        .fold(err => sys.error(err), identity)
    }),

    // ext. openCypher numeric comparisons: `WHERE o.price > 450000` — the
    // threshold shape KGQA LLMs emit for "more than / at least" questions;
    // the property side casts to double so a non-numeric property drops
    // the row instead of comparing lexicographically.
    "q_cypher_numeric" -> ((s, dir) => {
      val q = "MATCH (c:c)-[:placed]->(o:o) " +
        "WHERE o.price > 450000 AND c.class = 'customer' " +
        "RETURN DISTINCT c.id AS cust, o.id AS ord, o.price AS total " +
        "ORDER BY total DESC, cust, ord LIMIT 25"
      graft.byokg.CypherLite.run(edges(s, dir),
          Some(Tables.nodeProps(s, dir)), q)
        .fold(err => sys.error(err), identity)
    }),

    // ext. openCypher expression layer: scalar functions (coalesce /
    // toLower / size(split)) and property arithmetic in WHERE + RETURN —
    // the reference's own retrieval cypher wraps properties in exactly
    // these (coalesce(s.valid_from, $LOWER), split(coalesce(...), ';'),
    // size(a)/size(b): traversal_based_base_retriever.py:160-190), and a
    // KGLinker-loop LLM emits property arithmetic on its first session.
    // Every function maps onto a codegen'd built-in; the arithmetic
    // comparison folds double try_casts.
    "q_cypher_expr" -> ((s, dir) => {
      val q = "MATCH (c:c)-[:placed]->(o:o) " +
        "WHERE o.price > c.price * 60.0 AND c.class = 'customer' " +
        "RETURN c.id AS cust, o.id AS ord, toLower(c.value) AS lname, " +
        "size(split(o.value, '-')) AS nsegs, " +
        "coalesce(c.value, 'unknown') AS who " +
        "ORDER BY cust, ord LIMIT 200"
      graft.byokg.CypherLite.run(edges(s, dir),
          Some(Tables.nodeProps(s, dir)), q)
        .fold(err => sys.error(err), identity)
    }),

    // ext. openCypher relationship properties: `r.qty` / `r.priority`
    // read the edge frame's extra columns — the reference stores edge
    // properties (`__RELATION__{value}`, entity_relation_graph_builder
    // .py:75-129) and its cypher reads `r.value`
    // (local_entity_rewrites_graph_builder.py:42-44). Each bound edge
    // variable projects ONLY its referenced properties from the scan —
    // no extra join, column pruning intact.
    "q_cypher_relprops" -> ((s, dir) => {
      val q = "MATCH (c:c)-[r1:placed]->(o:o)-[r2:contains]->(p:p) " +
        "WHERE r2.qty >= 45 " +
        "RETURN c.id AS cust, o.id AS ord, r1.priority AS prio, " +
        "p.id AS part, r2.qty AS qty " +
        "ORDER BY cust, ord, part"
      graft.byokg.CypherLite.run(Tables.edgesWithProps(s, dir), q)
        .fold(err => sys.error(err), identity)
    }),

    // ext. the reference's FLAGSHIP materialization cypher run VERBATIM
    // (modulo store naming: backtick labels → prefix labels, node_id(...)
    // → .id, store property names) through the staged compiler
    // (traversal_based_base_retriever.py:153-190): four chained WITH
    // stages, nested map projections, properties(v), collect(distinct),
    // integer-division scoring, ORDER BY on the returned map's field,
    // $statementIds/$limit parameter binding. Compiles to 3 equi-join
    // hops + two grouped aggregations + in-row named_structs — the same
    // plan a hand-written q_central_materialization-style pipeline
    // produces. The wrapper flattens the nested result (explode topics →
    // explode statements) so the DuckDB replay is flat SQL; LIMIT is a
    // bound-only no-op here (scores tie heavily; the reference's own
    // ORDER BY has no tiebreak, so a cutting LIMIT would be
    // nondeterministic — grammar still compiles and executes it).
    "q_cypher_statements" -> ((s, dir) => {
      val (ef, np) = Tables.stmtGraph(s, dir)
      val text = statementsCypherText
      val res = graft.byokg.CypherLite.run(ef, Some(np), text,
          Map("statementIds" -> Tables.stmtStatementIds(s, dir),
            "limit" -> 1000000))
        .fold(err => sys.error(err), identity)
      val r = col("result")
      res.select(
          r.getField("source").getField("sourceId").as("source_id"),
          r.getField("score").as("score"),
          r.getField("source").getField("metadata").getField("value")
            .as("src_name"),
          r.getField("source").getField("versioning").getField("valid_from")
            .as("valid_from"),
          r.getField("source").getField("versioning").getField("valid_to")
            .as("valid_to"),
          r.getField("source").getField("versioning")
            .getField("extract_timestamp").as("extract_ts"),
          r.getField("source").getField("versioning")
            .getField("build_timestamp").as("build_ts"),
          concat_ws(";", r.getField("source").getField("versioning")
            .getField("id_fields")).as("id_fields"),
          size(r.getField("topics")).as("n_topics"),
          explode(r.getField("topics")).as("topic"))
        .select(col("source_id"), col("score"), col("src_name"),
          col("valid_from"), col("valid_to"), col("extract_ts"),
          col("build_ts"), col("id_fields"), col("n_topics"),
          col("topic").getField("topicId").as("topic_id"),
          col("topic").getField("topic").as("topic_value"),
          size(col("topic").getField("chunks")).as("n_chunks"),
          concat_ws(",", transform(col("topic").getField("chunks"),
            x => x.getField("chunkId"))).as("chunk_ids"),
          explode(col("topic").getField("statements")).as("stmt"))
        .select(col("source_id"), col("score"), col("src_name"),
          col("valid_from"), col("valid_to"), col("extract_ts"),
          col("build_ts"), col("id_fields"), col("n_topics"),
          col("topic_id"), col("topic_value"), col("n_chunks"),
          col("chunk_ids"),
          col("stmt").getField("statementId").as("statement_id"),
          col("stmt").getField("statement").as("statement"),
          col("stmt").getField("details").as("details"),
          col("stmt").getField("chunkId").as("chunk_id"),
          size(col("stmt").getField("facts")).as("n_facts"),
          col("stmt").getField("score").as("stmt_score"))
        .orderBy(col("source_id"), col("topic_id"), col("statement_id"))
    }),

    // ext. the reference's statement-facts cypher (the second half of
    // get_statements_by_topic_and_source,
    // traversal_based_base_retriever.py:193-196): collect(distinct
    // f.value) per statement — single-stage collect(DISTINCT ...) routes
    // to the staged compiler too.
    "q_cypher_factslist" -> ((s, dir) => {
      val (ef, np) = Tables.stmtGraph(s, dir)
      val text =
        """// get facts for statements
          |MATCH (f)-[:supports]->(l:L)
          |WHERE l.id in $statementIds
          |RETURN l.id AS statementId, collect(distinct f.value) AS facts""".stripMargin
      graft.byokg.CypherLite.run(ef, Some(np), text,
          Map("statementIds" -> Tables.stmtStatementIds(s, dir)))
        .fold(err => sys.error(err), identity)
        .select(col("statementId"),
          concat_ws(",", col("facts")).as("facts"))
        .orderBy(col("statementId"))
    }),

    // ext. the reference's multiple-entity graph search
    // (entity_based_search.py:150-159), adapted only in store naming
    // (node_id(...) -> .id; the `__Entity__` label on e2 drops — both
    // entity classes P/U are endpoints here): `p=` path binding over an
    // undirected var-length hop, UNWIND nodes(p), WITH DISTINCT
    // COLLECT(n), a second MATCH (with an anonymous node and an
    // undirected PREVIOUS*0..1 leg) filtered by collected-list
    // membership. Compiles via CypherPaths: per-length chain variants +
    // one distinct union for the entity set + two broadcast LEFT SEMI
    // membership joins (one shared broadcast). LIMIT is a bound-only
    // no-op (the reference's own RETURN has no ORDER BY, so a cutting
    // LIMIT would be nondeterministic); the wrapper orders for replay.
    "q_cypher_pathsearch" -> ((s, dir) => {
      val ef = Tables.entGraph(s, dir)
      val text =
        """// multiple entity-based graph search
          |MATCH p=(e1:P {id: $startId})-[:RELATION*1..2]-(e2)
          |WHERE e2.id in $endIds
          |UNWIND nodes(p) AS n
          |WITH DISTINCT COLLECT(n) AS entities
          |MATCH (s)-[:SUBJECT]->(f)<-[:OBJECT]-(o),
          |      (f)-[:SUPPORTS]->()-[:PREVIOUS*0..1]-(l)
          |WHERE s in entities and o in entities
          |RETURN DISTINCT l.id AS l LIMIT $statementLimit""".stripMargin
      graft.byokg.CypherLite.run(ef, None, text,
          Map("startId" -> "P:1",
            "endIds" -> Seq("U:1", "U:3", "U:5", "P:7", "P:11"),
            "statementLimit" -> 10000000))
        .fold(err => sys.error(err), identity)
        .orderBy(col("l"))
    }),

    // ext. openCypher grouped aggregate: `RETURN c.id, sum(o.price)` —
    // the aggregative KGQA shape ("total spend of each customer"); the
    // sum folds the property's double cast, grouped by the other RETURN
    // items, ordered by the aggregate.
    "q_cypher_agg" -> ((s, dir) => {
      val q = "MATCH (c:c)-[:placed]->(o:o) " +
        "RETURN c.id AS cust, sum(o.price) AS total_spend " +
        "ORDER BY total_spend DESC, cust LIMIT 15"
      graft.byokg.CypherLite.run(edges(s, dir),
          Some(Tables.nodeProps(s, dir)), q)
        .fold(err => sys.error(err), identity)
        .withColumn("total_spend", round(col("total_spend"), 4))
    }),

    // ext. openCypher MULTI-aggregate RETURN: `RETURN c.id, count(*),
    // sum(o.price), max(o.price)` — the "how many and how much" KGQA
    // projection. All trailing aggregates compile into ONE grouped
    // aggregation keyed by the plain prefix (a single shuffle), never a
    // pass per aggregate.
    "q_cypher_multiagg" -> ((s, dir) => {
      val q = "MATCH (c:c)-[:placed]->(o:o) " +
        "WHERE c.id STARTS WITH 'c:1' " +
        "RETURN c.id AS cust, count(*) AS n_orders, " +
        "sum(o.price) AS total, max(o.price) AS top " +
        "ORDER BY n_orders DESC, cust LIMIT 40"
      graft.byokg.CypherLite.run(edges(s, dir),
          Some(Tables.nodeProps(s, dir)), q)
        .fold(err => sys.error(err), identity)
        .withColumn("total", round(col("total"), 4))
    }),

    // ext. openCypher collect(): `RETURN c.id, collect(o.id)` — the
    // entity-with-its-list shape KGQA LLMs emit for "list the orders of
    // each customer" questions. collect() returns the SORTED list (Neo4j
    // leaves order unspecified; sorting is deterministic + replayable);
    // stringified here like q_nested_collect so the oracle compare is
    // format-independent.
    "q_cypher_collect" -> ((s, dir) => {
      val q = "MATCH (c:c)-[:placed]->(o:o) " +
        "WHERE c.id STARTS WITH 'c:11' " +
        "RETURN c.id AS cust, collect(o.id) AS orders ORDER BY cust"
      graft.byokg.CypherLite.run(edges(s, dir), q)
        .fold(err => sys.error(err), identity)
        .withColumn("orders", concat_ws(",", col("orders")))
    }),

    // ext. openCypher WITH pipeline: aggregate → filter on the aggregate
    // (Cypher's HAVING) → project — the "customers with more than N
    // orders" shape. Compiles to stage-1's grouped plan + one residual
    // filter + a projection, no extra shuffle.
    "q_cypher_with" -> ((s, dir) => {
      val q = "MATCH (c:c)-[:placed]->(o:o) " +
        "WITH c.id AS cust, count(*) AS n_orders " +
        "WHERE n_orders > 15 " +
        "RETURN cust, n_orders ORDER BY n_orders DESC, cust LIMIT 20"
      graft.byokg.CypherLite.run(edges(s, dir), q)
        .fold(err => sys.error(err), identity)
    }),

    // ext. openCypher UNWIND seed-list lookup: the post-entity-linking
    // batch expansion a KG linker emits ("given these resolved ids, what
    // did they order") — the literal list pipes into MATCH as a joined
    // one-column frame; ids with no edges drop (MATCH semantics).
    "q_cypher_unwind" -> ((s, dir) => {
      val q = "UNWIND ['c:110', 'c:111', 'c:112', 'c:999999'] AS c " +
        "MATCH (c)-[:placed]->(o:o) " +
        "RETURN c.id AS cust, o.id AS ord ORDER BY cust, ord"
      graft.byokg.CypherLite.run(edges(s, dir), q)
        .fold(err => sys.error(err), identity)
    }),

    // ext. openCypher grouped count(DISTINCT ...): how many DIFFERENT
    // parts did each of the first customers order — distinct-cardinality
    // per entity, where count(*) would count binding rows.
    "q_cypher_groupdistinct" -> ((s, dir) => {
      val q = "MATCH (c:c)-[:placed]->(o:o)-[:contains]->(p:p) " +
        "WHERE c.id STARTS WITH 'c:11' " +
        "RETURN c.id AS cust, count(DISTINCT p) AS n_parts ORDER BY cust"
      graft.byokg.CypherLite.run(edges(s, dir), q)
        .fold(err => sys.error(err), identity)
    }),

    // ext. openCypher WITH ... MATCH (aggregate-then-expand): find the
    // customers with more than 15 orders, then expand BACK into the graph
    // for those customers' orders — the two-phase KGQA shape ("who ordered
    // most, and what did they order"). The piped c is the tail pattern's
    // join key; n_orders rides along into RETURN.
    "q_cypher_with_match" -> ((s, dir) => {
      val q = "MATCH (c:c)-[:placed]->(o:o) " +
        "WITH c, count(*) AS n_orders WHERE n_orders > 15 " +
        "MATCH (c)-[:placed]->(o2:o) " +
        "RETURN c.id AS cust, n_orders, o2.id AS ord ORDER BY cust, ord"
      graft.byokg.CypherLite.run(edges(s, dir), q)
        .fold(err => sys.error(err), identity)
    }),

    // extended: deterministic hash-seeded random walks (the DeepWalk/
    // node2vec training-corpus generator) over the rank-indexed walk
    // layout — every step a pure function of (seed, start, walk, step),
    // so the 3-step walk unrolls into an exact SQL replay.
    "q_random_walks" -> ((s, dir) => {
      val ranked = Tables.walkLayout(s, dir)
      val (nodes, _) = Tables.pageRankAdjacency(s, dir)
      val seeds = nodes.orderBy(col("node")).limit(20)
      Traversal.randomWalks(ranked, seeds, steps = 3, walksPerNode = 4,
          seed = "walk1")
        .orderBy(col("start"), col("wid"), col("step"))
    }),

    // ext. skip-gram pair generation over the same walk corpus — the
    // word2vec/DeepWalk co-occurrence table; the self-join keys on the
    // walk id so fan-out stays walk-scale (GraphFeatures.skipGramPairs).
    "q_skipgram" -> ((s, dir) => {
      val walks = Traversal.randomWalks(Tables.walkLayout(s, dir),
        Tables.pageRankAdjacency(s, dir)._1.orderBy(col("node")).limit(20),
        steps = 3, walksPerNode = 4, seed = "walk1")
      graft.ops.GraphFeatures.skipGramPairs(walks, window = 2)
        .orderBy(col("center"), col("context"))
    }),

    // ext. negative-sampling weights over the walk corpus — unigram^0.75
    // via sqrt(n·sqrt(n)) (correctly rounded IEEE, replays bit-exactly),
    // shares normalized by the exact integer micro-weight total.
    "q_negative_weights" -> ((s, dir) => {
      val walks = Traversal.randomWalks(Tables.walkLayout(s, dir),
        Tables.pageRankAdjacency(s, dir)._1.orderBy(col("node")).limit(20),
        steps = 3, walksPerNode = 4, seed = "walk1")
      graft.ops.GraphFeatures.negativeSamplingWeights(walks)
        .orderBy(col("node"))
    }),

    // extended: graph centrality (fixed-iteration PageRank) — the global
    // generalization of q_entity_degree's local scores. Deterministic mode
    // (ordered in-neighbor folds) so the unrolled DuckDB replay is bit-exact;
    // a spec pins it to the plain-sum scale path within 1e-9.
    "q_pagerank" -> ((s, dir) => {
      val (nodes, eDeg) = Tables.pageRankAdjacency(s, dir)
      Traversal.pageRankIterate(nodes, eDeg, iters = 3, deterministic = true,
          eByDst = Some(Tables.pageRankAdjacencyByDst(s, dir)))
        .select(col("node"), round(col("rank"), 6).as("pr"))
        .orderBy(desc("pr"), col("node"))
        .limit(100)
    }),

    // ext. label-propagation community detection: 3 synchronous rounds over
    // the undirected edge view, most-frequent-neighbor-label votes with ties
    // to the smallest label — integer counts and string min/maxes only, so
    // the unrolled oracle is exact (no float folds to align).
    "q_label_prop" -> ((s, dir) => {
      val (und, nodes) = Tables.lpaLayout(s, dir)
      // aggregate communities in id space (longs only), decode just the
      // surviving rows — min node_id ≡ min node string (order-preserving
      // ids), so the decode is two broadcast lookups of a tiny frame
      val comm = Traversal.labelPropagationIterate(und, nodes, iters = 3)
        .groupBy(col("label_id"))
        .agg(count(lit(1)).as("size"), min(col("node_id")).as("min_id"))
      val named = nodes
        .join(broadcast(comm), nodes("node_id") === comm("label_id"))
        .select(col("node").as("community"), col("size"), col("min_id"))
      nodes.join(broadcast(named), nodes("node_id") === named("min_id"))
        .select(col("community"), col("size"), col("node").as("min_node"))
        .orderBy(desc("size"), col("community"))
        .limit(100)
    }),

    // ext. triangle counting with degree-ordered orientation. The base
    // c→o→p→s graph is layered (triangle-free), so the layout is the
    // co-purchase graph — parts sharing an order — which is exactly the
    // projection a real pipeline stores before clustering-coefficient
    // work (warmed: projection+orientation are ingest-time material).
    // Exact integer counts; the oracle replays orientation + wedges.
    "q_triangle_counts" -> ((s, dir) => {
      Tables.coPurchaseTriangleCounts(s, dir)
        .select(concat(lit("p:"), col("node")).as("node"), col("triangles"))
        .orderBy(desc("triangles"), col("node")).limit(100)
    }),

    // ext. global clustering coefficient (3·triangles / wedges) over the
    // SAME memoized per-node triangle counts as q_triangle_counts — the
    // one-row graph-quality summary. The triangle pass runs once in
    // Tables.coPurchaseTriangleCounts (shared, cached); this query is one
    // ACTION composing three one-row aggregates (triangle total, degree
    // wedge count, edge count) via single-row cross joins — no serialized
    // driver .head() round-trips between them. Integer triangle/wedge
    // totals, one exact double division; a wedge-free graph (disjoint
    // edges / empty) is DEFINED as coefficient 0, not the NaN a raw 0/0
    // division would emit on both engines.
    "q_clustering_coeff" -> ((s, dir) => {
      val layout = Tables.coPurchaseTriangleLayout(s, dir)
      val t3 = Tables.coPurchaseTriangleCounts(s, dir)
        .agg(coalesce(sum(col("triangles")), lit(0L)).as("t3"))
      val deg = layout.select(col("lo").as("node"))
        .union(layout.select(col("hi")))
        .groupBy(col("node")).agg(count(lit(1)).as("d"))
        .agg(count(lit(1)).as("n_nodes"),
          coalesce(sum(expr("d * (d - 1) DIV 2")), lit(0L)).as("n_wedges"))
      val edges = layout.agg(count(lit(1)).as("n_edges"))
      deg.crossJoin(t3).crossJoin(edges)
        .select(col("n_nodes"), col("n_edges"),
          expr("t3 div 3").as("n_triangles"), col("n_wedges"),
          when(col("n_wedges") === 0L, lit(0.0))
            .otherwise(round(col("t3").cast("double")
              / col("n_wedges").cast("double"), 6)).as("global_cc"))
    }),

    // ext. personalized PageRank (3 iterations, teleport to the nation-0
    // customer seed set) over the SAME warmed adjacency layout as
    // q_pagerank — the query-seeded variant a retriever uses to rank the
    // graph around linked entities. Deterministic ordered-fold mode for
    // the bit-exact replay.
    "q_ppr" -> ((s, dir) => {
      val (nodes, eDeg) = Tables.pageRankAdjacency(s, dir)
      Traversal.personalizedPageRankIterate(nodes, eDeg, seeds(s, dir),
        iters = 3, deterministic = true,
        eByDst = Some(Tables.pageRankAdjacencyByDst(s, dir)))
        .select(col("node"), round(col("rank"), 6).as("pr"))
        .orderBy(desc("pr"), col("node"))
        .limit(100)
    }),

    // ext. HITS hubs & authorities (3 rounds, max-normalized) over the
    // SAME warmed adjacency layout as q_pagerank — the link-analysis
    // complement (authorities = parts many customers reach, hubs = nodes
    // pointing at them). Deterministic value-ordered folds for the
    // bit-exact replay; max normalization is order-free by construction.
    "q_hits" -> ((s, dir) => {
      val (nodes, _) = Tables.pageRankAdjacency(s, dir)
      val (eBySrc, eByDst) = Tables.hitsLayout(s, dir)
      Traversal.hitsIterateFrom(nodes, eBySrc, eByDst, iters = 3,
          deterministic = true)
        .select(col("node"), round(col("auth"), 6).as("auth"),
          round(col("hub"), 6).as("hub"))
        .orderBy(desc("auth"), col("node"))
        .limit(100)
    }),

    // ext. k-core peeling (3 fixed rounds, k=2) over the derived graph —
    // degeneracy pruning before the heavier graph passes. Shares the LPA
    // layout's int-encoded undirected edges; survivors decode to strings
    // via one broadcast dictionary lookup at the end.
    "q_kcore" -> ((s, dir) => {
      val (und, nodes) = Tables.lpaLayout(s, dir)
      val peeled = Traversal.kCorePeelFrom(
        und.toDF("src", "dst"), k = 2, rounds = 3)
        .withColumnRenamed("node", "nid")
      nodes.join(broadcast(peeled), nodes("node_id") === peeled("nid"))
        .select(col("node"), col("deg"))
        .orderBy(col("node"))
    }),

    // ext. hub-capped bipartite projection: the order–part incidence
    // projected onto weighted part–part co-occurrence edges, orders with
    // > 5 items dropped (the hub cap — the scale lever that bounds the
    // per-right pair fan-out at cap²). This is the projection step the
    // triangle/community layouts consume, surfaced as a first-class op.
    "q_copurchase_project" -> ((s, dir) => {
      Tables.coPurchaseProjection(s, dir)
        .orderBy(desc("weight"), col("a"), col("b")).limit(100)
    }),

    // ext. Adamic–Adar link prediction over the hub-capped co-purchase
    // projection: non-adjacent part pairs scored by Σ 1/ln(deg) over
    // common neighbors, accumulated in BIGINT micro-units (order-free
    // sums, exact replay). Center-degree cap bounds the wedge fan-out.
    "q_adamic_adar" -> ((s, dir) => {
      val proj = Tables.coPurchaseProjection(s, dir)
        .select(col("a").as("src"), col("b").as("dst"))
      graft.ops.LinkPrediction.adamicAdar(proj, maxCenterDegree = 20,
          orientedInput = true)
        .orderBy(desc("aa_micro"), col("a"), col("b")).limit(100)
    }),

    // ext. Jaccard neighborhood-overlap link prediction over the same
    // projection — exact integer (common, union) pairs, one double
    // division per row; capped centers like Adamic-Adar, exact uncapped
    // degrees for the union.
    "q_jaccard_link" -> ((s, dir) => {
      val proj = Tables.coPurchaseProjection(s, dir)
        .select(col("a").as("src"), col("b").as("dst"))
      graft.ops.LinkPrediction.jaccardLinks(proj, maxCenterDegree = 20,
          orientedInput = true)
        .select(col("a"), col("b"), col("common_neighbors"),
          col("union_size"), col("jac_micro"))
        .orderBy(desc("jac_micro"), col("a"), col("b")).limit(100)
    }),

    // ext. exact modularity of the brand partition over the co-purchase
    // projection — "are same-brand parts co-purchased more than chance?"
    // Integer numerators (q_num is exact int64); the single double
    // division is bit-identical in any IEEE engine.
    "q_modularity" -> ((s, dir) => {
      val proj = Tables.coPurchaseProjection(s, dir)
        .select(col("a").as("src"), col("b").as("dst"))
      val assign = t(s, dir, "part")
        .select(col("p_partkey").as("node"), col("p_brand").as("community"))
      graft.ops.LinkPrediction.modularityTerms(proj, assign)
        .orderBy(col("community"))
    }),

    // ext. weighted PageRank over the co-purchase projection — the
    // co-occurrence counts ARE the edge strengths (rank·w/sw per
    // neighbor); deterministic ascending-contrib folds for the bit-exact
    // replay; warmed weighted adjacency layout.
    "q_weighted_pagerank" -> ((s, dir) => {
      val (eW, nodes) = Tables.weightedAdjacency(s, dir)
      Traversal.weightedPageRankIterate(nodes, eW, iters = 3,
          deterministic = true,
          eByDst = Some(Tables.weightedAdjacencyByDst(s, dir)))
        .select(col("node"), round(col("rank"), 6).as("pr"))
        .orderBy(desc("pr"), col("node"))
        .limit(100)
    }),

    // ext. openCypher grouped count: RETURN c.id, count(*) — per-entity
    // binding cardinality (orders per customer), the aggregation shape
    // KGQA LLMs emit for "how many" questions.
    "q_cypher_groupcount" -> ((s, dir) => {
      graft.byokg.CypherLite.run(Tables.edges(s, dir),
        "MATCH (c:c)-[:placed]->(o:o) RETURN c.id, count(*) " +
          "ORDER BY c.id LIMIT 50")
        .fold(err => throw new IllegalStateException(err), identity)
    }))

  /** The random-walk replay CTE prefix (edges → per-src neighbor ranks →
    * seeds → 3 h60-indexed steps w1..w3) shared by q_random_walks,
    * q_skipgram, and q_negative_weights. */
  private def walkCtes: String = {
    def stepCte(prev: String, name: String, step: Int): String = {
      val h = TextQueries.h60Sql(
        s"'walk1'||'#'||w.start||'#'||w.wid||'#'||'$step'")
      s"""$name AS (
         |  SELECT w.start, w.wid, r.dst AS cur
         |  FROM $prev w JOIN rk r ON r.src = w.cur
         |   AND r.rk = ($h % r.deg) + 1)""".stripMargin
    }
    s"""edges0 AS ($edgesSql),
       |e AS (SELECT DISTINCT src, dst FROM edges0),
       |rk AS (
       |  SELECT src, dst,
       |    row_number() OVER (PARTITION BY src ORDER BY dst) AS rk,
       |    count(*) OVER (PARTITION BY src) AS deg
       |  FROM e),
       |n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
       |seeds AS (SELECT node FROM n ORDER BY node LIMIT 20),
       |w0 AS (
       |  SELECT node AS start, unnest(range(0, 4)) AS wid, node AS cur
       |  FROM seeds),
       |${stepCte("w0", "w1", 1)},
       |${stepCte("w1", "w2", 2)},
       |${stepCte("w2", "w3", 3)}""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    // Cypher-compile replay: the MATCH pattern IS two typed equi-joins.
    "q_cypher_match" ->
      s"""WITH edges0 AS ($edgesSql)
         |SELECT e1.src AS c, e1.dst AS o, e2.dst AS p
         |FROM (SELECT DISTINCT src, dst FROM edges0 WHERE label = 'placed') e1
         |JOIN (SELECT DISTINCT src, dst FROM edges0 WHERE label = 'contains') e2
         |  ON e1.dst = e2.src
         |WHERE e1.src = 'c:0'
         |ORDER BY c, o, p""".stripMargin,

    // Var-length replay: anchored 1-hop UNION ALL 2-hop chains, per-path
    // rows (no distinct — Cypher binding semantics).
    "q_cypher_varlength" ->
      s"""WITH edges0 AS ($edgesSql),
         |e AS (SELECT src, dst FROM edges0),
         |anch AS (
         |  SELECT e1.src AS c, e1.dst AS o
         |  FROM (SELECT src, dst FROM edges0 WHERE label = 'placed') e1
         |  WHERE e1.src = 'c:0')
         |SELECT c, o, x FROM (
         |  SELECT a.c, a.o, h1.dst AS x
         |  FROM anch a JOIN e h1 ON h1.src = a.o
         |  UNION ALL
         |  SELECT a.c, a.o, h2.dst
         |  FROM anch a JOIN e h1 ON h1.src = a.o
         |              JOIN e h2 ON h2.src = h1.dst)
         |ORDER BY c, o, x""".stripMargin,

    // Multi-part replay: three typed equi-joins on the shared variables,
    // DISTINCT + ORDER BY mirroring the compiled projection.
    "q_cypher_multipart" ->
      s"""WITH edges0 AS ($edgesSql)
         |SELECT DISTINCT e1.src AS c, e2.dst AS p, e3.dst AS sup
         |FROM (SELECT src, dst FROM edges0 WHERE label = 'placed') e1
         |JOIN (SELECT src, dst FROM edges0 WHERE label = 'contains') e2
         |  ON e1.dst = e2.src
         |JOIN (SELECT src, dst FROM edges0 WHERE label = 'supplied_by') e3
         |  ON e2.dst = e3.src
         |WHERE e1.src = 'c:0'
         |ORDER BY c, p, sup""".stripMargin,

    // Optional-match replay: anchored node scan LEFT JOIN the typed edge
    // set, the optional side's label filter INSIDE the join's right side
    // (pre-join — Cypher pattern semantics). NULLS FIRST mirrors Spark's
    // asc null ordering.
    "q_cypher_optional" ->
      s"""WITH edges0 AS ($edgesSql),
         |nodes AS (
         |  SELECT DISTINCT node FROM (
         |    SELECT src AS node FROM edges0
         |    UNION ALL SELECT dst FROM edges0)),
         |anch AS (SELECT node FROM nodes
         |         WHERE node IN ('c:0', 'p:1', 's:1'))
         |SELECT DISTINCT a.node AS n, e.dst AS o
         |FROM anch a LEFT JOIN (
         |  SELECT src, dst FROM edges0
         |  WHERE label = 'placed' AND dst LIKE 'o:%') e
         |  ON e.src = a.node
         |ORDER BY n, o NULLS FIRST""".stripMargin,

    // Property-map replay: the mandatory {id} anchor is a pushed src
    // equality; the OPTIONAL pattern's {id} anchor sits INSIDE the left
    // join's right side (pre-join, like its label filter).
    "q_cypher_propmap" ->
      s"""WITH edges0 AS ($edgesSql),
         |anch AS (
         |  SELECT src, dst FROM edges0
         |  WHERE label = 'placed' AND src = 'c:0' AND dst LIKE 'o:%')
         |SELECT DISTINCT a.src AS c, a.dst AS o, e.dst AS p
         |FROM anch a LEFT JOIN (
         |  SELECT src, dst FROM edges0
         |  WHERE label = 'contains' AND dst = 'p:1') e
         |  ON e.src = a.dst
         |ORDER BY c, o, p NULLS FIRST""".stripMargin,

    // STARTS WITH replay: a sargable LIKE 'p:1%' prefix predicate over
    // the typed equi-join's binding frame.
    "q_cypher_startswith" ->
      s"""WITH edges0 AS ($edgesSql)
         |SELECT DISTINCT e1.src AS n, e1.dst AS sup
         |FROM (SELECT src, dst FROM edges0 WHERE label = 'supplied_by') e1
         |WHERE e1.src LIKE 'p:1%' AND e1.dst LIKE 's:%'
         |ORDER BY n, sup""".stripMargin,

    // Walk replay: same rank-ordered neighbor lists, same 60-bit md5 step
    // hash, same modulo pick — three unrolled step CTEs.
    "q_random_walks" ->
      s"""WITH $walkCtes
         |SELECT start, CAST(wid AS INT) AS wid, step, node FROM (
         |  SELECT start, wid, 1 AS step, cur AS node FROM w1
         |  UNION ALL SELECT start, wid, 2, cur FROM w2
         |  UNION ALL SELECT start, wid, 3, cur FROM w3) s
         |ORDER BY start, wid, step""".stripMargin,

    // skip-gram replay: the same walk CTEs assembled into sentences
    // (pos 0 = the start token of every walk that materialized a step),
    // then the within-window position self-join and the pair counts.
    "q_skipgram" ->
      s"""WITH $walkCtes,
         |walks AS (
         |  SELECT start, wid, 0 AS pos, start AS node
         |  FROM (SELECT DISTINCT start, wid FROM w1)
         |  UNION ALL SELECT start, wid, 1, cur FROM w1
         |  UNION ALL SELECT start, wid, 2, cur FROM w2
         |  UNION ALL SELECT start, wid, 3, cur FROM w3)
         |SELECT a.node AS center, b.node AS context, count(*) AS n
         |FROM walks a JOIN walks b
         |  ON a.start = b.start AND a.wid = b.wid
         |  AND a.pos <> b.pos AND abs(a.pos - b.pos) <= 2
         |GROUP BY a.node, b.node
         |ORDER BY center, context""".stripMargin,

    // negative-sampling replay: sentence token counts, n^0.75 as
    // sqrt(n·sqrt(n)) (correctly rounded IEEE ops, unlike libm pow),
    // shares against the EXACT integer total of the micro weights.
    "q_negative_weights" ->
      s"""WITH $walkCtes,
         |walks AS (
         |  SELECT start, wid, 0 AS pos, start AS node
         |  FROM (SELECT DISTINCT start, wid FROM w1)
         |  UNION ALL SELECT start, wid, 1, cur FROM w1
         |  UNION ALL SELECT start, wid, 2, cur FROM w2
         |  UNION ALL SELECT start, wid, 3, cur FROM w3),
         |c AS (SELECT node, count(*) AS n FROM walks GROUP BY node),
         |cw AS (SELECT node, n,
         |  CAST(round(1000000.0 * sqrt(CAST(n AS DOUBLE)
         |    * sqrt(CAST(n AS DOUBLE))), 0) AS BIGINT) AS w_micro FROM c),
         |tot AS (SELECT CAST(sum(w_micro) AS BIGINT) AS tw FROM cw)
         |SELECT node, n, w_micro,
         |  CAST(round(CAST(1e9 AS DOUBLE) * CAST(w_micro AS DOUBLE)
         |    / CAST(tw AS DOUBLE), 0) AS BIGINT) AS share_e9
         |FROM cw, tot ORDER BY node""".stripMargin,
    // Agentic loop replay. The keyword set comes from the very code path the
    // engine runs (StubLLM summary -> keywords), evaluated here at
    // oracle-build time; the SQL then unrolls the two iterations. Edge
    // multiplicity matters (the frontier ranks dst by count(*)), so the hop
    // CTEs deliberately do NOT dedup — Tables.edges and edgesSql agree on
    // multiplicity (placed raw, contains/supplied_by distinct).
    "q_agentic" -> {
      val qTokens = graft.llm.QueryOps.keywords(new graft.llm.StubLLM,
        "parts placed in orders", maxKeywords = 8).map(_.toLowerCase)
      val toks = qTokens.distinct.sorted.map(t => s"'$t'")
        .mkString("[", ", ", "]")
      def m(c: String) =
        s"list_has_any(string_split_regex(lower($c), '[^a-z0-9]+'), $toks)"
      s"""WITH edges AS ($edgesSql),
         |seeds AS (SELECT 'c:'||c_custkey AS node FROM customer WHERE c_nationkey = 0),
         |hop1 AS (SELECT e.src, e.dst, e.label FROM edges e JOIN seeds s ON e.src = s.node),
         |kept1 AS (SELECT * FROM hop1 WHERE CASE
         |  WHEN EXISTS (SELECT 1 FROM hop1 h WHERE ${m("h.label")})
         |  THEN ${m("label")} ELSE TRUE END),
         |f2 AS (SELECT dst AS node FROM (
         |  SELECT dst, count(*) AS deg FROM kept1 GROUP BY dst
         |  ORDER BY deg DESC, dst LIMIT 8)),
         |hop2 AS (SELECT e.src, e.dst, e.label FROM edges e JOIN f2 f ON e.src = f.node),
         |kept2 AS (SELECT * FROM hop2 WHERE CASE
         |  WHEN EXISTS (SELECT 1 FROM hop2 h WHERE ${m("h.label")})
         |  THEN ${m("label")} ELSE TRUE END)
         |SELECT DISTINCT src, dst, label
         |FROM (SELECT * FROM kept1 UNION ALL SELECT * FROM kept2)
         |ORDER BY src, dst, label""".stripMargin
    },

    "q_khop_triplets" ->
      s"""WITH edges AS ($edgesSql),
         |seeds AS (SELECT 'c:'||c_custkey AS node FROM customer WHERE c_nationkey = 0),
         |h1 AS (SELECT e.* FROM edges e JOIN seeds s ON e.src = s.node),
         |f1 AS (SELECT DISTINCT dst AS node FROM h1),
         |h2 AS (SELECT e.* FROM edges e JOIN f1 ON e.src = f1.node)
         |SELECT DISTINCT src, dst, label
         |FROM (SELECT * FROM h1 UNION ALL SELECT * FROM h2)
         |ORDER BY src, dst, label""".stripMargin,

    "q_metapath" ->
      s"""WITH edges AS ($edgesSql),
         |seeds AS (SELECT 'c:'||c_custkey AS node FROM customer WHERE c_nationkey = 0),
         |s1 AS (SELECT DISTINCT e.dst AS node FROM edges e JOIN seeds s ON e.src = s.node WHERE e.label = 'placed'),
         |s2 AS (SELECT DISTINCT e.dst AS node FROM edges e JOIN s1 ON e.src = s1.node WHERE e.label = 'contains'),
         |s3 AS (SELECT DISTINCT e.dst AS node FROM edges e JOIN s2 ON e.src = s2.node WHERE e.label = 'supplied_by')
         |SELECT node FROM s3 ORDER BY node""".stripMargin,

    "q_shortest_path" ->
      s"""WITH RECURSIVE edges AS ($edgesSql),
         |und AS (SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges),
         |bfs AS (
         |  SELECT 'c:0' AS node, 0 AS dist
         |  UNION ALL
         |  SELECT u.dst, b.dist + 1 FROM bfs b JOIN und u ON u.src = b.node
         |  WHERE b.dist < 3)
         |SELECT node, CAST(min(dist) AS INT) AS dist FROM bfs
         |GROUP BY node ORDER BY node""".stripMargin,

    // closeness replay: the 8 BFS runs as one seed-carrying recursive CTE
    // (depth-bounded UNION ALL walk enumeration, min-dist per (seed, node)
    // — the q_shortest_path shape with a seed column), then the harmonic
    // fold. 1e6 CAST to DOUBLE: a bare literal is DECIMAL in DuckDB.
    "q_closeness" ->
      s"""WITH RECURSIVE edges AS ($edgesSql),
         |und AS (SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges),
         |seeds AS (SELECT 'c:'||c_custkey AS seed FROM customer WHERE c_custkey < 8),
         |bfs AS (
         |  SELECT seed, seed AS node, 0 AS dist FROM seeds
         |  UNION ALL
         |  SELECT b.seed, u.dst, b.dist + 1 FROM bfs b JOIN und u ON u.src = b.node
         |  WHERE b.dist < 3),
         |d AS (SELECT seed, node, min(dist) AS dist FROM bfs
         |      GROUP BY seed, node)
         |SELECT node, count(*) AS n_reached,
         |  CAST(sum(CAST(round(CAST(1000000.0 AS DOUBLE) / dist, 0)
         |    AS BIGINT)) AS BIGINT) AS harmonic_micro
         |FROM d WHERE dist > 0 GROUP BY node ORDER BY node""".stripMargin,

    // betweenness replay: walk-enumeration sigma (walks at min dist ARE
    // the shortest paths), two unrolled backward layers with the same
    // ascending-successor folds, ascending-seed total.
    "q_betweenness" ->
      s"""WITH RECURSIVE edges0 AS ($edgesSql),
         |und AS (SELECT DISTINCT src, dst FROM (
         |  SELECT src, dst FROM edges0
         |  UNION ALL SELECT dst, src FROM edges0) WHERE src <> dst),
         |seeds AS (SELECT 'c:'||c_custkey AS seed FROM customer
         |          WHERE c_custkey < 6),
         |bfs AS (
         |  SELECT seed, seed AS node, 0 AS dist FROM seeds
         |  UNION ALL
         |  SELECT b.seed, u.dst, b.dist + 1 FROM bfs b
         |  JOIN und u ON u.src = b.node WHERE b.dist < 3),
         |d AS (SELECT seed, node, min(dist) AS dist FROM bfs GROUP BY 1, 2),
         |walks AS (SELECT seed, node, dist, count(*) AS w
         |          FROM bfs GROUP BY 1, 2, 3),
         |sig AS (SELECT d.seed, d.node, d.dist, w.w AS sigma
         |        FROM d JOIN walks w ON w.seed = d.seed
         |          AND w.node = d.node AND w.dist = d.dist),
         |l1 AS (SELECT * FROM sig WHERE dist = 1),
         |l2 AS (SELECT * FROM sig WHERE dist = 2),
         |l3 AS (SELECT * FROM sig WHERE dist = 3),
         |t2 AS (
         |  SELECT v.seed, v.node,
         |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list((CAST(v.sigma AS DOUBLE) / s.sigma) * (1.0 + 0.0)
         |        ORDER BY s.node)), (x, y) -> x + y) AS delta
         |  FROM l2 v JOIN und u ON u.src = v.node
         |  JOIN l3 s ON s.seed = v.seed AND s.node = u.dst
         |  GROUP BY v.seed, v.node),
         |d2 AS (SELECT v.seed, v.node, COALESCE(t.delta, 0.0) AS delta
         |       FROM l2 v LEFT JOIN t2 t
         |         ON t.seed = v.seed AND t.node = v.node),
         |t1 AS (
         |  SELECT v.seed, v.node,
         |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list((CAST(v.sigma AS DOUBLE) / s.sigma) * (1.0 + dd.delta)
         |        ORDER BY s.node)), (x, y) -> x + y) AS delta
         |  FROM l1 v JOIN und u ON u.src = v.node
         |  JOIN l2 s ON s.seed = v.seed AND s.node = u.dst
         |  JOIN d2 dd ON dd.seed = s.seed AND dd.node = s.node
         |  GROUP BY v.seed, v.node),
         |d1 AS (SELECT v.seed, v.node, COALESCE(t.delta, 0.0) AS delta
         |       FROM l1 v LEFT JOIN t1 t
         |         ON t.seed = v.seed AND t.node = v.node),
         |d3 AS (SELECT seed, node, 0.0 AS delta FROM l3),
         |alld AS (SELECT * FROM d1 UNION ALL SELECT * FROM d2
         |         UNION ALL SELECT * FROM d3)
         |SELECT node, round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |  list(delta ORDER BY seed)), (x, y) -> x + y), 6) AS betweenness
         |FROM alld GROUP BY node ORDER BY node""".stripMargin,

    // degree-histogram replay: the q_entity_degree degrees binned by
    // binary-representation length (DuckDB bin() == Spark conv(,10,2)).
    "q_degree_hist" ->
      s"""WITH edges AS ($edgesSql),
         |deg AS (
         |  SELECT node, count(*) AS degree FROM (
         |    SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)
         |  GROUP BY node)
         |SELECT CAST(length(bin(degree)) AS INT) AS bin,
         |  count(*) AS n_nodes, min(degree) AS min_degree,
         |  max(degree) AS max_degree
         |FROM deg GROUP BY 1 ORDER BY bin""".stripMargin,

    "q_entity_degree" ->
      s"""WITH edges AS ($edgesSql)
         |SELECT node, count(*) AS degree FROM (
         |  SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)
         |GROUP BY node ORDER BY node""".stripMargin,

    "q_verbalize" ->
      s"""WITH edges AS ($edgesSql),
         |seeds AS (SELECT 'c:'||c_custkey AS node FROM customer WHERE c_nationkey = 0),
         |h1 AS (SELECT DISTINCT e.* FROM edges e JOIN seeds s ON e.src = s.node)
         |SELECT src||' ['||label||'] '||dst AS text FROM h1 ORDER BY text""".stripMargin,

    "q_verbalize_merged" ->
      s"""WITH edges AS ($edgesSql),
         |seeds AS (SELECT 'c:'||c_custkey AS node FROM customer WHERE c_nationkey = 0),
         |h1 AS (SELECT DISTINCT e.* FROM edges e JOIN seeds s ON e.src = s.node)
         |SELECT src||' -> '||label||' -> '||
         |  array_to_string(list_sort(list(DISTINCT dst)), ' | ') AS text
         |FROM h1 GROUP BY src, label ORDER BY text""".stripMargin,

    "q_metapath_paths" ->
      s"""WITH edges AS ($edgesSql),
         |p1 AS (SELECT e.src, e.dst FROM edges e WHERE e.label = 'placed' AND e.src = 'c:0'),
         |p2 AS (SELECT p1.src AS start, p1.dst AS mid_node, e.dst AS "end"
         |       FROM p1 JOIN edges e ON e.src = p1.dst AND e.label = 'contains')
         |SELECT start||' -> placed > '||mid_node||' > contains -> '||
         |  array_to_string(list_sort(list(DISTINCT "end")), ' | ') AS text
         |FROM p2 GROUP BY start, mid_node ORDER BY text""".stripMargin,

    // PageRank replay: the same 3 unrolled iterations with the SAME
    // floating-point fold order the deterministic Spark path uses — per-dst
    // contributions summed in ascending-src order via an ordered list_reduce
    // (a plain SUM would be partition-order-dependent in both engines).
    // All literals CAST to DOUBLE: bare 1.0/0.15 are DECIMAL in DuckDB and
    // would silently change every intermediate type.
    "q_pagerank" -> {
      def iter(prev: String, sName: String, rName: String): String =
        s"""$sName AS (
           |  SELECT e.dst AS node,
           |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           |        list(p.r / d.d ORDER BY p.r / d.d)), (x, y) -> x + y) AS s
           |  FROM e JOIN $prev p ON e.src = p.node JOIN deg d ON d.src = e.src
           |  GROUP BY e.dst),
           |$rName AS (
           |  SELECT n.node,
           |    CAST(0.15 AS DOUBLE) + CAST(0.85 AS DOUBLE) *
           |      COALESCE(s.s, CAST(0.0 AS DOUBLE)) AS r
           |  FROM n LEFT JOIN $sName s USING (node))""".stripMargin
      s"""WITH edges0 AS ($edgesSql),
         |e AS (SELECT DISTINCT src, dst FROM edges0),
         |deg AS (SELECT src, count(*) AS d FROM e GROUP BY src),
         |n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         |r0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS r FROM n),
         |${iter("r0", "s1", "r1")},
         |${iter("r1", "s2", "r2")},
         |${iter("r2", "s3", "r3")}
         |SELECT node, round(r, 6) AS pr FROM r3
         |ORDER BY round(r, 6) DESC, node LIMIT 100""".stripMargin
    },

    // Personalized-PageRank replay: the q_pagerank iteration structure
    // with a seed-conditional teleport (r0 = 1 on seeds, reset mass only
    // on seeds); same ordered list_reduce fold, same DOUBLE casts.
    "q_ppr" -> {
      def iter(prev: String, sName: String, rName: String): String =
        s"""$sName AS (
           |  SELECT e.dst AS node,
           |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           |        list(p.r / d.d ORDER BY p.r / d.d)), (x, y) -> x + y) AS s
           |  FROM e JOIN $prev p ON e.src = p.node JOIN deg d ON d.src = e.src
           |  GROUP BY e.dst),
           |$rName AS (
           |  SELECT sd.node,
           |    (CASE WHEN sd.is_seed THEN CAST(0.15 AS DOUBLE)
           |          ELSE CAST(0.0 AS DOUBLE) END)
           |      + CAST(0.85 AS DOUBLE) *
           |        COALESCE(s.s, CAST(0.0 AS DOUBLE)) AS r
           |  FROM sd LEFT JOIN $sName s USING (node))""".stripMargin
      s"""WITH edges0 AS ($edgesSql),
         |e AS (SELECT DISTINCT src, dst FROM edges0),
         |deg AS (SELECT src, count(*) AS d FROM e GROUP BY src),
         |n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         |sd AS (
         |  SELECT node, node IN (
         |    SELECT 'c:'||c_custkey FROM customer WHERE c_nationkey = 0)
         |    AS is_seed
         |  FROM n),
         |r0 AS (
         |  SELECT node, CASE WHEN is_seed THEN CAST(1.0 AS DOUBLE)
         |                    ELSE CAST(0.0 AS DOUBLE) END AS r
         |  FROM sd),
         |${iter("r0", "s1", "r1")},
         |${iter("r1", "s2", "r2")},
         |${iter("r2", "s3", "r3")}
         |SELECT node, round(r, 6) AS pr FROM r3
         |ORDER BY round(r, 6) DESC, node LIMIT 100""".stripMargin
    },

    // Label-propagation replay: 3 unrolled rounds — neighbor-label vote
    // counts, winner = row_number over (cnt DESC, label) = the engine's
    // min_by((−cnt, label)) tie-break. Integer counts + binary string
    // comparisons only, so the replay is exact by construction.
    "q_label_prop" -> {
      def lpaRound(prev: String, vName: String, lName: String): String =
        s"""$vName AS (
           |  SELECT u.src AS node, p.label, count(*) AS cnt
           |  FROM und u JOIN $prev p ON u.dst = p.node
           |  GROUP BY u.src, p.label),
           |$lName AS (
           |  SELECT node, label FROM (
           |    SELECT node, label,
           |      row_number() OVER (PARTITION BY node
           |        ORDER BY cnt DESC, label) AS rn
           |    FROM $vName) WHERE rn = 1)""".stripMargin
      s"""WITH edges0 AS ($edgesSql),
         |e AS (SELECT DISTINCT src, dst FROM edges0 WHERE src <> dst),
         |und AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
         |l0 AS (SELECT DISTINCT src AS node, src AS label FROM und),
         |${lpaRound("l0", "v1", "l1")},
         |${lpaRound("l1", "v2", "l2")},
         |${lpaRound("l2", "v3", "l3")}
         |SELECT label AS community, count(*) AS size, min(node) AS min_node
         |FROM l3 GROUP BY label
         |ORDER BY count(*) DESC, label LIMIT 100""".stripMargin
    },

    // Triangle-count replay: same co-purchase projection, same
    // (degree, node) edge orientation, same single-path-per-triangle
    // wedge+close joins — integer-exact by construction.
    // Clustering-coefficient replay: same oriented-wedge triangle CTEs as
    // q_triangle_counts, plus incidence degrees over the oriented pairs.
    "q_clustering_coeff" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |            FROM lineitem),
        |co AS (
        |  SELECT a.pk AS src, b.pk AS dst
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
        |e AS (SELECT DISTINCT src, dst FROM co WHERE src <> dst),
        |und AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
        |pairs AS (SELECT src, dst FROM und WHERE src < dst),
        |deg AS (SELECT src AS node, count(*) AS deg FROM und GROUP BY src),
        |o AS (
        |  SELECT
        |    CASE WHEN d1.deg < d2.deg OR (d1.deg = d2.deg AND p.src < p.dst)
        |         THEN p.src ELSE p.dst END AS lo,
        |    CASE WHEN d1.deg < d2.deg OR (d1.deg = d2.deg AND p.src < p.dst)
        |         THEN p.dst ELSE p.src END AS hi
        |  FROM pairs p JOIN deg d1 ON p.src = d1.node
        |               JOIN deg d2 ON p.dst = d2.node),
        |tri AS (
        |  SELECT ab.lo AS a, ab.hi AS b, bc.hi AS c
        |  FROM o ab JOIN o bc ON ab.hi = bc.lo
        |            JOIN o ac ON ab.lo = ac.lo AND bc.hi = ac.hi),
        |t AS (SELECT CAST(3 * count(*) AS BIGINT) AS t3 FROM tri),
        |dq AS (
        |  SELECT node, count(*) AS d FROM (
        |    SELECT lo AS node FROM o UNION ALL SELECT hi FROM o)
        |  GROUP BY node),
        |w AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_nodes,
        |    CAST(coalesce(sum(d * (d - 1) // 2), 0) AS BIGINT) AS wedges
        |  FROM dq),
        |ne AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM o)
        |SELECT w.n_nodes, ne.n_edges, t.t3 // 3 AS n_triangles,
        |  w.wedges AS n_wedges,
        |  CASE WHEN w.wedges = 0 THEN 0.0
        |       ELSE round(CAST(t.t3 AS DOUBLE) / CAST(w.wedges AS DOUBLE), 6)
        |  END AS global_cc
        |FROM w, ne, t""".stripMargin,

    "q_triangle_counts" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |            FROM lineitem),
        |co AS (
        |  SELECT a.pk AS src, b.pk AS dst
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
        |e AS (SELECT DISTINCT src, dst FROM co WHERE src <> dst),
        |und AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
        |pairs AS (SELECT src, dst FROM und WHERE src < dst),
        |deg AS (SELECT src AS node, count(*) AS deg FROM und GROUP BY src),
        |o AS (
        |  SELECT
        |    CASE WHEN d1.deg < d2.deg OR (d1.deg = d2.deg AND p.src < p.dst)
        |         THEN p.src ELSE p.dst END AS lo,
        |    CASE WHEN d1.deg < d2.deg OR (d1.deg = d2.deg AND p.src < p.dst)
        |         THEN p.dst ELSE p.src END AS hi
        |  FROM pairs p JOIN deg d1 ON p.src = d1.node
        |               JOIN deg d2 ON p.dst = d2.node),
        |tri AS (
        |  SELECT ab.lo AS a, ab.hi AS b, bc.hi AS c
        |  FROM o ab JOIN o bc ON ab.hi = bc.lo
        |            JOIN o ac ON ab.lo = ac.lo AND bc.hi = ac.hi),
        |roles AS (
        |  SELECT a AS node FROM tri
        |  UNION ALL SELECT b FROM tri
        |  UNION ALL SELECT c FROM tri)
        |SELECT 'p:'||node AS node, count(*) AS triangles FROM roles
        |GROUP BY node
        |ORDER BY triangles DESC, 'p:'||node LIMIT 100""".stripMargin,

    // HITS replay: 3 unrolled rounds — per-node value-ordered fold sums
    // (equal doubles commute, same as the engine's array_sort fold), max
    // normalization (order-free), COALESCE(0) for sink/source nodes.
    // HITS replay: RAW (unnormalized) half-rounds — power iteration is
    // scale-invariant, so like the engine the oracle normalizes ONCE at
    // the end by each final vector's max; per-node sums fold in ascending
    // value order exactly like the engine's deterministic mode.
    "q_hits" -> {
      def half(scores: String, scoreCol: String, joinOn: String,
               groupOn: String, outName: String, outCol: String): String =
        s"""$outName AS (
           |  SELECT e.$groupOn AS node,
           |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           |      list(p.$scoreCol ORDER BY p.$scoreCol)), (x, y) -> x + y)
           |      AS $outCol
           |  FROM e JOIN $scores p ON e.$joinOn = p.node
           |  GROUP BY e.$groupOn)""".stripMargin
      def iter(i: Int): String =
        half(s"h${i - 1}", "h", "src", "dst", s"a$i", "a") + ",\n" +
          half(s"a$i", "a", "dst", "src", s"h$i", "h")
      s"""WITH edges0 AS ($edgesSql),
         |e AS (SELECT DISTINCT src, dst FROM edges0),
         |n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         |h0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS h FROM n),
         |${iter(1)},
         |${iter(2)},
         |${iter(3)},
         |am AS (SELECT max(a) AS m FROM a3),
         |hm AS (SELECT max(h) AS m FROM h3)
         |SELECT node,
         |  round(COALESCE(a3.a, CAST(0.0 AS DOUBLE)) / am.m, 6) AS auth,
         |  round(COALESCE(h3.h, CAST(0.0 AS DOUBLE)) / hm.m, 6) AS hub
         |FROM n LEFT JOIN a3 USING (node) LEFT JOIN h3 USING (node), am, hm
         |ORDER BY round(COALESCE(a3.a, CAST(0.0 AS DOUBLE)) / am.m, 6) DESC,
         |  node LIMIT 100""".stripMargin
    },

    // k-core replay: 3 unrolled peels — degree count, >= k filter, edge
    // semi-filtering on both endpoints.
    "q_kcore" -> {
      def peel(prev: String, kName: String, uName: String): String =
        s"""$kName AS (
           |  SELECT src AS node FROM $prev GROUP BY src
           |  HAVING count(*) >= 2),
           |$uName AS (
           |  SELECT u.src, u.dst FROM $prev u
           |  WHERE u.src IN (SELECT node FROM $kName)
           |    AND u.dst IN (SELECT node FROM $kName))""".stripMargin
      s"""WITH edges0 AS ($edgesSql),
         |e AS (SELECT DISTINCT src, dst FROM edges0 WHERE src <> dst),
         |u0 AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
         |${peel("u0", "k1", "u1")},
         |${peel("u1", "k2", "u2")},
         |${peel("u2", "k3", "u3")}
         |SELECT src AS node, count(*) AS deg FROM u3 GROUP BY src
         |ORDER BY src""".stripMargin
    },

    // hub-capped bipartite projection replay: degree-capped rights, one
    // ordered self-join, exact integer weights.
    "q_copurchase_project" ->
      s"""WITH inc AS (
         |  SELECT DISTINCT l_partkey AS l, l_orderkey AS r FROM lineitem),
         |keep AS (
         |  SELECT r FROM inc GROUP BY r
         |  HAVING count(*) BETWEEN 2 AND 5),
         |bd AS (SELECT l, inc.r FROM inc JOIN keep USING (r))
         |SELECT x.l AS a, y.l AS b, count(*) AS weight
         |FROM bd x JOIN bd y ON x.r = y.r AND x.l < y.l
         |GROUP BY 1, 2
         |ORDER BY weight DESC, a, b LIMIT 100""".stripMargin,

    // Adamic–Adar replay over the same projection: capped centers, wedge
    // self-join, BIGINT micro-unit terms, anti-join against existing edges.
    "q_adamic_adar" ->
      s"""WITH inc AS (
         |  SELECT DISTINCT l_partkey AS l, l_orderkey AS r FROM lineitem),
         |keep AS (
         |  SELECT r FROM inc GROUP BY r
         |  HAVING count(*) BETWEEN 2 AND 5),
         |bd AS (SELECT l, inc.r FROM inc JOIN keep USING (r)),
         |proj AS (
         |  SELECT x.l AS a, y.l AS b
         |  FROM bd x JOIN bd y ON x.r = y.r AND x.l < y.l
         |  GROUP BY 1, 2),
         |und AS (SELECT a AS s, b AS d FROM proj
         |        UNION SELECT b, a FROM proj),
         |deg AS (
         |  SELECT s AS z, count(*) AS dg FROM und GROUP BY s
         |  HAVING count(*) BETWEEN 2 AND 20),
         |star AS (
         |  SELECT z, und.d AS n,
         |    CAST(round(1000000.0 / ln(dg), 0) AS BIGINT) AS term
         |  FROM und JOIN deg ON und.s = deg.z),
         |pairs AS (
         |  SELECT x.n AS a, y.n AS b, count(*) AS common_neighbors,
         |    CAST(sum(x.term) AS BIGINT) AS aa_micro
         |  FROM star x JOIN star y ON x.z = y.z AND x.n < y.n
         |  GROUP BY 1, 2)
         |SELECT p.a, p.b, p.common_neighbors, p.aa_micro
         |FROM pairs p ANTI JOIN und ON p.a = und.s AND p.b = und.d
         |ORDER BY aa_micro DESC, a, b LIMIT 100""".stripMargin,

    // Jaccard replay: capped-center wedges for the intersection, exact
    // uncapped degrees for the union, one rounded double division.
    "q_jaccard_link" ->
      s"""WITH inc AS (
         |  SELECT DISTINCT l_partkey AS l, l_orderkey AS r FROM lineitem),
         |keep AS (
         |  SELECT r FROM inc GROUP BY r
         |  HAVING count(*) BETWEEN 2 AND 5),
         |bd AS (SELECT l, inc.r FROM inc JOIN keep USING (r)),
         |proj AS (
         |  SELECT x.l AS a, y.l AS b
         |  FROM bd x JOIN bd y ON x.r = y.r AND x.l < y.l
         |  GROUP BY 1, 2),
         |und AS (SELECT a AS s, b AS d FROM proj
         |        UNION SELECT b, a FROM proj),
         |deg AS (SELECT s AS z, count(*) AS dg FROM und GROUP BY s),
         |star AS (
         |  SELECT und.s AS z, und.d AS n FROM und
         |  JOIN deg ON und.s = deg.z WHERE dg BETWEEN 2 AND 20),
         |pairs AS (
         |  SELECT x.n AS a, y.n AS b, count(*) AS common_neighbors
         |  FROM star x JOIN star y ON x.z = y.z AND x.n < y.n
         |  GROUP BY 1, 2),
         |j AS (
         |  SELECT p.a, p.b, p.common_neighbors,
         |    da.dg + db.dg - p.common_neighbors AS union_size,
         |    CAST(round(1000000.0 * p.common_neighbors
         |      / (da.dg + db.dg - p.common_neighbors), 0) AS BIGINT)
         |      AS jac_micro
         |  FROM pairs p JOIN deg da ON p.a = da.z JOIN deg db ON p.b = db.z)
         |SELECT a, b, common_neighbors, union_size, jac_micro
         |FROM j ANTI JOIN und ON j.a = und.s AND j.b = und.d
         |ORDER BY jac_micro DESC, a, b LIMIT 100""".stripMargin,

    // modularity replay: labeled directed rows, per-community integer
    // numerators, one double division against the 2m scalar.
    "q_modularity" ->
      s"""WITH inc AS (
         |  SELECT DISTINCT l_partkey AS l, l_orderkey AS r FROM lineitem),
         |keep AS (
         |  SELECT r FROM inc GROUP BY r
         |  HAVING count(*) BETWEEN 2 AND 5),
         |bd AS (SELECT l, inc.r FROM inc JOIN keep USING (r)),
         |proj AS (
         |  SELECT x.l AS a, y.l AS b
         |  FROM bd x JOIN bd y ON x.r = y.r AND x.l < y.l
         |  GROUP BY 1, 2),
         |und AS (SELECT a AS s, b AS d FROM proj
         |        UNION SELECT b, a FROM proj),
         |lab AS (
         |  SELECT und.s, und.d, pa.p_brand AS ca, pb.p_brand AS cb
         |  FROM und JOIN part pa ON und.s = pa.p_partkey
         |           JOIN part pb ON und.d = pb.p_partkey),
         |tot AS (SELECT count(*) AS m2 FROM lab),
         |agg AS (
         |  SELECT ca AS community,
         |    CAST(sum(CASE WHEN ca = cb THEN 1 ELSE 0 END) // 2 AS BIGINT)
         |      AS internal_edges,
         |    count(*) AS degree_sum
         |  FROM lab GROUP BY ca)
         |SELECT community, internal_edges, degree_sum,
         |  CAST(m2 * internal_edges * 2 - degree_sum * degree_sum
         |    AS BIGINT) AS q_num,
         |  CAST(m2 * internal_edges * 2 - degree_sum * degree_sum
         |    AS DOUBLE) / (CAST(m2 AS DOUBLE) * CAST(m2 AS DOUBLE))
         |    AS modularity_term
         |FROM agg, tot ORDER BY community""".stripMargin,

    // weighted-PageRank replay: the q_pagerank iteration structure with
    // rank·w/sw contributions (same multiply-then-divide order as the
    // engine) over the co-purchase projection; ascending-contrib
    // list_reduce folds, same DOUBLE casts.
    "q_weighted_pagerank" -> {
      def iter(prev: String, sName: String, rName: String): String =
        s"""$sName AS (
           |  SELECT e.dst AS node,
           |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           |        list(p.r * e.w / e.sw ORDER BY p.r * e.w / e.sw)),
           |      (x, y) -> x + y) AS s
           |  FROM e JOIN $prev p ON e.src = p.node
           |  GROUP BY e.dst),
           |$rName AS (
           |  SELECT n.node,
           |    CAST(0.15 AS DOUBLE) + CAST(0.85 AS DOUBLE) *
           |      COALESCE(s.s, CAST(0.0 AS DOUBLE)) AS r
           |  FROM n LEFT JOIN $sName s USING (node))""".stripMargin
      s"""WITH inc AS (
         |  SELECT DISTINCT l_partkey AS l, l_orderkey AS r FROM lineitem),
         |keep AS (
         |  SELECT r FROM inc GROUP BY r
         |  HAVING count(*) BETWEEN 2 AND 5),
         |bd AS (SELECT l, inc.r FROM inc JOIN keep USING (r)),
         |proj AS (
         |  SELECT x.l AS a, y.l AS b, count(*) AS w
         |  FROM bd x JOIN bd y ON x.r = y.r AND x.l < y.l
         |  GROUP BY 1, 2),
         |und AS (SELECT a AS src, b AS dst, CAST(w AS BIGINT) AS w FROM proj
         |        UNION ALL SELECT b, a, CAST(w AS BIGINT) FROM proj),
         |sw AS (SELECT src, CAST(sum(w) AS BIGINT) AS sw
         |       FROM und GROUP BY src),
         |e AS (SELECT und.src, und.dst, und.w, sw.sw
         |      FROM und JOIN sw USING (src)),
         |n AS (SELECT DISTINCT src AS node FROM und),
         |r0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS r FROM n),
         |${iter("r0", "s1", "r1")},
         |${iter("r1", "s2", "r2")},
         |${iter("r2", "s3", "r3")}
         |SELECT node, round(r, 6) AS pr FROM r3
         |ORDER BY round(r, 6) DESC, node LIMIT 100""".stripMargin
    },

    // grouped-count Cypher replay: the MATCH is one typed edge scan, the
    // RETURN is a plain GROUP BY over the binding frame.
    "q_cypher_groupcount" ->
      s"""WITH edges0 AS ($edgesSql)
         |SELECT src AS c, count(*) AS "count" FROM edges0
         |WHERE label = 'placed' GROUP BY src
         |ORDER BY c LIMIT 50""".stripMargin,

    // OR replay: the DNF filter as one disjunctive predicate over the
    // typed scan (label prefix filters conjoined, like the compiler's).
    "q_cypher_or" ->
      s"""WITH edges0 AS ($edgesSql)
         |SELECT DISTINCT src AS n, dst AS sup FROM edges0
         |WHERE label = 'supplied_by'
         |  AND src LIKE 'p:%' AND dst LIKE 's:%'
         |  AND (src LIKE 'p:1%' OR dst = 's:3')
         |ORDER BY n, sup""".stripMargin,

    // alternation replay: label IN (...) over ONE scan; AS aliases are
    // plain output names.
    "q_cypher_alttype" ->
      s"""WITH edges0 AS ($edgesSql)
         |SELECT DISTINCT src AS left_id, dst AS right_id FROM edges0
         |WHERE label IN ('placed', 'supplied_by')
         |  AND src IN ('c:0', 'c:1', 'p:1', 'p:10')
         |ORDER BY left_id, right_id""".stripMargin,

    // IS NULL replay: LEFT JOIN ... WHERE right IS NULL, SQL's anti-join
    // (pure sink nodes = the supplier layer of the derived graph).
    "q_cypher_isnull" ->
      s"""WITH edges0 AS ($edgesSql),
         |nodes AS (
         |  SELECT DISTINCT node FROM (
         |    SELECT src AS node FROM edges0
         |    UNION ALL SELECT dst FROM edges0))
         |SELECT DISTINCT n.node AS sink
         |FROM nodes n LEFT JOIN (SELECT DISTINCT src FROM edges0) e
         |  ON e.src = n.node
         |WHERE e.src IS NULL
         |ORDER BY sink""".stripMargin,

    // relationship-variable replay: the bound r IS the label column.
    "q_cypher_reltype" ->
      s"""WITH edges0 AS ($edgesSql)
         |SELECT DISTINCT src AS src_id, label AS rel, dst AS dst_id
         |FROM edges0 WHERE src IN ('c:0', 'p:1')
         |ORDER BY src_id, rel, dst_id""".stripMargin,

    // count(v) replay: LEFT JOIN + count of the nullable bound column —
    // anchors with no match keep a 0 row.
    "q_cypher_countvar" ->
      s"""WITH edges0 AS ($edgesSql),
         |nodes AS (
         |  SELECT DISTINCT node FROM (
         |    SELECT src AS node FROM edges0
         |    UNION ALL SELECT dst FROM edges0)),
         |anch AS (SELECT node FROM nodes
         |         WHERE node IN ('c:0', 'c:1', 'c:2', 'p:1', 's:1'))
         |SELECT a.node AS anchor, count(e.dst) AS cnt
         |FROM anch a LEFT JOIN (
         |  SELECT src, dst FROM edges0
         |  WHERE label = 'placed' AND dst LIKE 'o:%') e
         |  ON e.src = a.node
         |GROUP BY a.node ORDER BY anchor""".stripMargin,

    // top-k-by-cardinality replay: GROUP BY then count-descending LIMIT,
    // customer id as the deterministic tiebreaker.
    "q_cypher_topcount" ->
      s"""WITH edges0 AS ($edgesSql)
         |SELECT src AS cust, count(*) AS n_orders FROM edges0
         |WHERE label = 'placed' GROUP BY src
         |ORDER BY n_orders DESC, cust LIMIT 10""".stripMargin,

    // collect() replay: grouped sorted-list aggregate, stringified the
    // same way the Spark side stringifies its sorted array.
    "q_cypher_collect" ->
      s"""WITH edges0 AS ($edgesSql)
         |SELECT src AS cust,
         |  array_to_string(list_sort(list(dst)), ',') AS orders
         |FROM edges0
         |WHERE label = 'placed' AND src LIKE 'c:%' AND dst LIKE 'o:%'
         |  AND src LIKE 'c:11%'
         |GROUP BY src ORDER BY cust""".stripMargin,

    // WITH-pipeline replay: GROUP BY + HAVING + projection.
    "q_cypher_with" ->
      s"""WITH edges0 AS ($edgesSql)
         |SELECT src AS cust, count(*) AS n_orders FROM edges0
         |WHERE label = 'placed'
         |GROUP BY src HAVING count(*) > 15
         |ORDER BY n_orders DESC, cust LIMIT 20""".stripMargin,

    // UNWIND replay: IN-list filter over the placed edges (absent ids
    // simply match nothing).
    "q_cypher_unwind" ->
      s"""WITH edges0 AS ($edgesSql)
         |SELECT src AS cust, dst AS ord FROM edges0
         |WHERE label = 'placed' AND dst LIKE 'o:%'
         |  AND src IN ('c:110', 'c:111', 'c:112', 'c:999999')
         |ORDER BY cust, ord""".stripMargin,

    // grouped count(DISTINCT) replay: 2-hop join, distinct part count
    // per anchored customer.
    "q_cypher_groupdistinct" ->
      s"""WITH edges0 AS ($edgesSql)
         |SELECT a.src AS cust, count(DISTINCT b.dst) AS n_parts
         |FROM edges0 a JOIN edges0 b ON b.src = a.dst
         |WHERE a.label = 'placed' AND a.src LIKE 'c:%'
         |  AND a.dst LIKE 'o:%' AND b.label = 'contains'
         |  AND b.dst LIKE 'p:%' AND a.src LIKE 'c:11%'
         |GROUP BY a.src ORDER BY cust""".stripMargin,

    // WITH ... MATCH replay: GROUP BY + HAVING, then join back to the
    // edge table for the surviving customers' orders.
    "q_cypher_with_match" ->
      s"""WITH edges0 AS ($edgesSql),
         |g AS (
         |  SELECT src AS c, count(*) AS n_orders FROM edges0
         |  WHERE label = 'placed' AND src LIKE 'c:%' AND dst LIKE 'o:%'
         |  GROUP BY src HAVING count(*) > 15)
         |SELECT g.c AS cust, g.n_orders, e.dst AS ord
         |FROM g JOIN edges0 e ON e.src = g.c
         |WHERE e.label = 'placed' AND e.dst LIKE 'o:%'
         |ORDER BY cust, ord""".stripMargin,

    // grouped-aggregate replay: per-customer sum over the order price
    // property, ordered by the raw sum (rounding only in the projection).
    "q_cypher_agg" ->
      s"""WITH edges0 AS ($edgesSql),
         |props AS (${Tables.nodePropsSql})
         |SELECT e.src AS cust, round(sum(op.price), 4) AS total_spend
         |FROM edges0 e JOIN props op ON op.id = e.dst
         |WHERE e.label = 'placed' AND e.src LIKE 'c:%' AND e.dst LIKE 'o:%'
         |GROUP BY e.src
         |ORDER BY sum(op.price) DESC, cust LIMIT 15""".stripMargin,

    // numeric-comparison replay: threshold filter on the order's price
    // property, customer class filter, top-k by total.
    "q_cypher_numeric" ->
      s"""WITH edges0 AS ($edgesSql),
         |props AS (${Tables.nodePropsSql})
         |SELECT DISTINCT e.src AS cust, e.dst AS ord, op.price AS total
         |FROM edges0 e
         |JOIN props op ON op.id = e.dst
         |JOIN props cp ON cp.id = e.src
         |WHERE e.label = 'placed' AND e.src LIKE 'c:%' AND e.dst LIKE 'o:%'
         |  AND op.price > 450000 AND cp.class = 'customer'
         |ORDER BY total DESC, cust, ord LIMIT 25""".stripMargin,

    // multi-aggregate replay: one GROUP BY computes all three aggregates,
    // the same single-shuffle shape the compiler plans.
    "q_cypher_multiagg" ->
      s"""WITH edges0 AS ($edgesSql),
         |props AS (${Tables.nodePropsSql})
         |SELECT cust, n_orders, round(total, 4) AS total, top FROM (
         |  SELECT e.src AS cust, CAST(count(*) AS BIGINT) AS n_orders,
         |    sum(op.price) AS total, max(op.price) AS top
         |  FROM edges0 e JOIN props op ON op.id = e.dst
         |  WHERE e.label = 'placed' AND e.src LIKE 'c:1%'
         |    AND e.dst LIKE 'o:%'
         |  GROUP BY e.src)
         |ORDER BY n_orders DESC, cust LIMIT 40""".stripMargin,

    // expression-layer replay: the scalar functions map 1:1 onto DuckDB
    // built-ins (toLower→lower, size(split)→len(string_split),
    // coalesce→coalesce); the arithmetic comparison is double on both
    // engines (same parquet doubles, same IEEE multiply).
    "q_cypher_expr" ->
      s"""WITH edges0 AS ($edgesSql),
         |props AS (${Tables.nodePropsSql})
         |SELECT e.src AS cust, e.dst AS ord, lower(cp.value) AS lname,
         |  CAST(len(string_split(op.value, '-')) AS INT) AS nsegs,
         |  coalesce(cp.value, 'unknown') AS who
         |FROM edges0 e
         |JOIN props cp ON cp.id = e.src
         |JOIN props op ON op.id = e.dst
         |WHERE e.label = 'placed' AND e.src LIKE 'c:%' AND e.dst LIKE 'o:%'
         |  AND op.price > cp.price * 60.0 AND cp.class = 'customer'
         |ORDER BY cust, ord LIMIT 200""".stripMargin,

    // relationship-property replay: the property-carrying edge CTE is the
    // store; each bound edge variable is one scan of it.
    "q_cypher_relprops" ->
      s"""WITH ep AS (${Tables.edgesWithPropsSql})
         |SELECT e1.src AS cust, e1.dst AS ord, e1.priority AS prio,
         |  e2.dst AS part, e2.qty AS qty
         |FROM ep e1 JOIN ep e2 ON e2.src = e1.dst
         |WHERE e1.label = 'placed' AND e2.label = 'contains'
         |  AND e1.src LIKE 'c:%' AND e1.dst LIKE 'o:%'
         |  AND e2.dst LIKE 'p:%' AND e2.qty >= 45
         |ORDER BY cust, ord, part""".stripMargin,

    // statements_cypher replay: flat SQL over the SAME base-table
    // derivation the statement graph uses — per-topic n_statements /
    // n_chunks with Cypher INTEGER division, summed per source; the
    // flattened per-statement projection pins every nested field the map
    // pipeline built (source metadata/versioning, topic chunk lists,
    // statement payloads).
    "q_cypher_statements" ->
      """WITH sel AS (
        |  SELECT l_orderkey AS ok, l_linenumber AS ln, l_partkey AS pk,
        |         l_suppkey AS sk,
        |         l_returnflag AS rf, l_linestatus AS ls,
        |         CAST(l_shipdate AS VARCHAR) AS sd
        |  FROM lineitem WHERE l_orderkey % 97 = 0),
        |st AS (
        |  SELECT 'L:'||ok||'-'||ln||'-'||pk||'-'||sk AS statement_id,
        |         'T:'||ok AS topic_id,
        |         'K:'||ok||'-'||pk AS chunk_id,
        |         'stmt '||rf||' '||ls||' '||sd AS statement,
        |         'line-'||ln AS details, ok
        |  FROM sel),
        |tpc AS (
        |  SELECT topic_id, CAST(count(*) AS INT) AS n_chunks,
        |         string_agg(chunk_id, ',' ORDER BY chunk_id) AS chunk_ids
        |  FROM (SELECT DISTINCT topic_id, chunk_id FROM st) GROUP BY 1),
        |tp AS (
        |  SELECT topic_id, any_value(ok) AS ok, count(*) AS n_statements
        |  FROM st GROUP BY 1),
        |soc AS (SELECT o_orderkey AS ok, 'S:'||o_custkey AS source_id
        |        FROM orders),
        |sc AS (
        |  SELECT source_id,
        |         CAST(sum(CAST(floor(n_statements * 1.0 / n_chunks) AS BIGINT)) AS BIGINT) AS score,
        |         CAST(count(*) AS INT) AS n_topics
        |  FROM tp JOIN tpc USING (topic_id) JOIN soc USING (ok) GROUP BY 1),
        |cust AS (
        |  SELECT 'S:'||c_custkey AS source_id, c_name AS src_name,
        |         CAST(CASE WHEN c_custkey % 2 = 0 THEN 1577836800000 ELSE -1 END AS BIGINT) AS valid_from,
        |         CAST(CASE WHEN c_custkey % 5 = 0 THEN 1893456000000 ELSE 10000000000000 END AS BIGINT) AS valid_to,
        |         CAST(CASE WHEN c_custkey % 3 = 0 THEN 1600000000000 ELSE -1 END AS BIGINT) AS extract_ts,
        |         CAST(-1 AS BIGINT) AS build_ts,
        |         CASE WHEN c_custkey % 3 = 0 THEN 'doc_id;source' ELSE '' END AS id_fields
        |  FROM customer)
        |SELECT sc.source_id, sc.score, cust.src_name, cust.valid_from,
        |  cust.valid_to, cust.extract_ts, cust.build_ts, cust.id_fields,
        |  sc.n_topics, st.topic_id, 'topic-'||st.ok AS topic_value,
        |  tpc.n_chunks, tpc.chunk_ids, st.statement_id, st.statement,
        |  st.details, st.chunk_id,
        |  CAST(0 AS INT) AS n_facts, CAST(0 AS BIGINT) AS stmt_score
        |FROM st
        |JOIN soc ON soc.ok = st.ok
        |JOIN tpc ON tpc.topic_id = st.topic_id
        |JOIN sc ON sc.source_id = soc.source_id
        |JOIN cust ON cust.source_id = soc.source_id
        |ORDER BY sc.source_id, st.topic_id, st.statement_id""".stripMargin,

    // statement-facts replay: two facts per statement (part + supplier),
    // distinct values sorted — collect(distinct f.value)'s contract.
    // flat re-derivation of the path search from lineitem: 1-hop and
    // 2-hop undirected RELATION walks from P:1 into the endId set,
    // entity union, then facts with both endpoints inside it and the
    // *0..1 PREVIOUS closure (ln-1 and ln+1 statements of the order)
    "q_cypher_pathsearch" ->
      """WITH rel AS (SELECT DISTINCT 'P:'||l_partkey AS p, 'U:'||l_suppkey AS u FROM lineitem),
        |ends(id) AS (VALUES ('U:1'),('U:3'),('U:5'),('P:7'),('P:11')),
        |hop1 AS (SELECT u FROM rel WHERE p = 'P:1'),
        |e1 AS (SELECT u AS n FROM hop1 WHERE u IN (SELECT id FROM ends)),
        |hop2 AS (SELECT h.u AS mid, r2.p AS z FROM hop1 h
        |         JOIN rel r2 ON r2.u = h.u
        |         WHERE r2.p IN (SELECT id FROM ends)),
        |entities AS (
        |  SELECT 'P:1' AS n WHERE EXISTS (SELECT 1 FROM e1)
        |                       OR EXISTS (SELECT 1 FROM hop2)
        |  UNION SELECT n FROM e1
        |  UNION SELECT mid FROM hop2
        |  UNION SELECT z FROM hop2),
        |facts AS (SELECT 'P:'||l_partkey AS s, 'U:'||l_suppkey AS o,
        |  l_orderkey AS ok, l_linenumber AS ln,
        |  'L:'||l_orderkey||'-'||l_linenumber||'-'||l_partkey||'-'||l_suppkey AS l0
        |  FROM lineitem),
        |valid AS (SELECT * FROM facts
        |  WHERE s IN (SELECT n FROM entities)
        |    AND o IN (SELECT n FROM entities)),
        |lst AS (SELECT l_orderkey AS ok, l_linenumber AS ln,
        |  'L:'||l_orderkey||'-'||l_linenumber||'-'||l_partkey||'-'||l_suppkey AS lid
        |  FROM lineitem),
        |outp AS (
        |  SELECT l0 AS l FROM valid
        |  UNION SELECT s2.lid FROM valid v
        |    JOIN lst s2 ON s2.ok = v.ok AND s2.ln = v.ln - 1
        |  UNION SELECT s2.lid FROM valid v
        |    JOIN lst s2 ON s2.ok = v.ok AND s2.ln = v.ln + 1)
        |SELECT DISTINCT l FROM outp ORDER BY l""".stripMargin,

    "q_cypher_factslist" ->
      """SELECT 'L:'||l_orderkey||'-'||l_linenumber||'-'||l_partkey||'-'||l_suppkey AS statementId,
        |  string_agg(f, ',' ORDER BY f) AS facts
        |FROM (
        |  SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        |    'part:'||l_partkey AS f
        |  FROM lineitem WHERE l_orderkey % 97 = 0
        |  UNION
        |  SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        |    'supp:'||l_suppkey
        |  FROM lineitem WHERE l_orderkey % 97 = 0)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // node-property replay: the props CTE is the node-property table; each
    // property-reading variable is one join against it.
    "q_cypher_props" ->
      s"""WITH edges0 AS ($edgesSql),
         |props AS (${Tables.nodePropsSql})
         |SELECT DISTINCT e.src AS part_id, pp.value AS part_name,
         |  sp.value AS supplier_name
         |FROM edges0 e
         |JOIN props pp ON pp.id = e.src
         |JOIN props sp ON sp.id = e.dst
         |WHERE e.label = 'supplied_by' AND e.src LIKE 'p:%'
         |  AND e.dst LIKE 's:%'
         |  AND pp.value LIKE '%red%' AND sp.class = 'supplier'
         |ORDER BY part_name, part_id, supplier_name""".stripMargin)
}
