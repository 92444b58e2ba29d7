package graft

import graft.byokg.{CypherGraphRetriever, CypherLite}
import org.apache.spark.sql.functions.col

class CypherLiteSpec extends SparkSpec {
  import spark.implicits._

  private lazy val edges = Seq(
    ("c:1", "o:10", "placed"), ("c:1", "o:11", "placed"),
    ("c:2", "o:12", "placed"),
    ("o:10", "p:7", "contains"), ("o:11", "p:7", "contains"),
    ("o:12", "p:8", "contains"),
    ("p:7", "s:3", "supplied_by")).toDF("src", "dst", "label")

  test("directed 2-hop MATCH with anchor and labels") {
    val q = "MATCH (c:c)-[:placed]->(o:o)-[:contains]->(p:p) " +
      "WHERE c.id = 'c:1' RETURN c.id, o.id, p.id"
    val out = CypherLite.run(edges, q).toOption.get
      .as[(String, String, String)].collect().toSet
    assert(out == Set(("c:1", "o:10", "p:7"), ("c:1", "o:11", "p:7")))
  }

  test("reversed edge and inequality condition") {
    val q = "MATCH (p)<-[:contains]-(o) WHERE p.id <> 'p:8' RETURN o.id, p.id"
    val out = CypherLite.run(edges, q).toOption.get
      .as[(String, String)].collect().toSet
    assert(out == Set(("o:10", "p:7"), ("o:11", "p:7")))
  }

  test("bare node scan, untyped edge, and LIMIT") {
    val all = CypherLite.run(edges, "MATCH (n) RETURN n.id").toOption.get
      .as[String].collect().toSet
    assert(all == Set("c:1", "c:2", "o:10", "o:11", "o:12", "p:7", "p:8",
      "s:3"))
    val lim = CypherLite.run(edges,
      "MATCH (a)-[]->(b) RETURN a.id LIMIT 2").toOption.get.count()
    assert(lim == 2L)
  }

  test("var-length *1..2 unions the fixed-length chains, per-path rows") {
    val q = "MATCH (o:o)-[*1..2]->(x) WHERE o.id = 'o:10' RETURN o.id, x.id"
    val out = CypherLite.run(edges, q).toOption.get
      .as[(String, String)].collect().toSeq.sorted
    // 1 hop: o:10->p:7; 2 hops: o:10->p:7->s:3
    assert(out == Seq(("o:10", "p:7"), ("o:10", "s:3")))
  }

  test("var-length *0..1 includes the identity binding (the reference's " +
    "PREVIOUS*0..1 shape)") {
    val q = "MATCH (a)-[:contains*0..1]->(x) WHERE a.id = 'o:10' " +
      "RETURN a.id, x.id"
    val out = CypherLite.run(edges, q).toOption.get
      .as[(String, String)].collect().toSeq.sorted
    assert(out == Seq(("o:10", "o:10"), ("o:10", "p:7")))
  }

  test("undirected edges match both orientations (the reference's " +
    "RELATION traversal, entity_based_search.py:151)") {
    val q = "MATCH (a)-[:contains]-(x) WHERE a.id = 'p:7' RETURN x.id"
    val out = CypherLite.run(edges, q).fold(e => fail(e), identity)
      .as[String].collect().toSet
    assert(out == Set("o:10", "o:11"))
    // undirected var-length: unions both orientations per hop; edge
    // re-traversal is not excluded (matches the directed var-length
    // semantics this dialect already ships)
    val q2 = "MATCH (a)-[*1..2]-(x) WHERE a.id = 's:3' RETURN x.id"
    val out2 = CypherLite.run(edges, q2).fold(e => fail(e), identity)
      .as[String].collect().toSet
    assert(out2 == Set("p:7", "o:10", "o:11", "s:3"))
  }

  test("anonymous nodes () bind fresh hidden variables and never " +
    "surface in the output") {
    val q = "MATCH (c:c)-[:placed]->()-[:contains]->(p) RETURN c.id, p.id"
    val out = CypherLite.run(edges, q).fold(e => fail(e), identity)
    assert(out.columns.toSeq == Seq("c", "p"))
    assert(out.as[(String, String)].collect().toSet ==
      Set(("c:1", "p:7"), ("c:2", "p:8")))
    // labelled anonymous node
    val q2 = "MATCH (o:o)-[:contains]->(:p) RETURN o.id"
    assert(CypherLite.run(edges, q2).fold(e => fail(e), identity)
      .as[String].collect().toSet == Set("o:10", "o:11", "o:12"))
    // reserved namespace is refused
    assert(CypherLite.run(edges, "MATCH (__a1) RETURN __a1.id")
      .swap.exists(_.contains("reserved")))
  }

  test("var-length over MaxVarHops and inverted bounds are loud Lefts") {
    assert(CypherLite.run(edges,
      "MATCH (a)-[*1..9]->(b) RETURN a.id").isLeft)
    assert(CypherLite.run(edges,
      "MATCH (a)-[*2..1]->(b) RETURN a.id").isLeft)
  }

  test("RETURN count(*) aggregates the binding cardinality") {
    val n = CypherLite.run(edges,
      "MATCH (c:c)-[:placed]->(o) RETURN count(*)").toOption.get
      .as[Long].head()
    assert(n == 3L)
    val n2 = CypherLite.run(edges,
      "MATCH (o:o)-[*1..2]->(x) RETURN COUNT( * )").toOption.get
      .as[Long].head()
    // 1-hop: o10->p7, o11->p7, o12->p8; 2-hop: o10->p7->s3, o11->p7->s3
    assert(n2 == 5L)
  }

  test("mutation cannot parse AND is keyword-blocked; junk is a loud Left") {
    assert(CypherLite.run(edges,
      "CREATE (n:Evil) RETURN n.id").swap.toOption.get
      .contains("blocked"))
    assert(CypherLite.run(edges,
      "MATCH (a)-[:placed]->(b) RETURN b.name").isLeft)
    assert(CypherLite.run(edges,
      "MATCH (a)-->(b) RETURN a.id").isLeft) // unsupported arrow form
    assert(CypherLite.run(edges,
      "MATCH (a)-[:x]->(a) RETURN a.id").isLeft) // repeated variable
    assert(CypherLite.run(edges,
      "MATCH (a) WHERE z.id = 'x' RETURN a.id").isLeft)
  }

  test("WHERE v.id IN [...] compiles to an isin filter; Neo4j () list " +
    "form accepted") {
    val q = "MATCH (c:c)-[:placed]->(o:o) WHERE o.id IN ['o:10', 'o:12'] " +
      "RETURN c.id, o.id"
    val out = CypherLite.run(edges, q).toOption.get
      .as[(String, String)].collect().toSet
    assert(out == Set(("c:1", "o:10"), ("c:2", "o:12")))
    val paren = CypherLite.run(edges,
      "MATCH (o) -[:contains]-> (p) WHERE p.id in ('p:8') RETURN o.id")
      .toOption.get.as[String].collect().toSeq
    assert(paren == Seq("o:12"))
    // empty list cannot parse (the regex requires >=1 literal)
    assert(CypherLite.run(edges,
      "MATCH (a)-[]->(b) WHERE a.id IN [] RETURN a.id").isLeft)
  }

  test("comma-separated patterns join on their shared variable") {
    // (c)-[:placed]->(o), (o)-[:contains]->(p): the conjunctive form —
    // same bindings as the single 2-hop chain
    val q = "MATCH (c:c)-[:placed]->(o:o), (o)-[:contains]->(p:p) " +
      "WHERE c.id = 'c:1' RETURN c.id, o.id, p.id"
    val out = CypherLite.run(edges, q).toOption.get
      .as[(String, String, String)].collect().toSet
    assert(out == Set(("c:1", "o:10", "p:7"), ("c:1", "o:11", "p:7")))
    // three parts, transitively connected THROUGH the second
    val q3 = "MATCH (c)-[:placed]->(o), (p)<-[:contains]-(o), " +
      "(p)-[:supplied_by]->(s) RETURN c.id, s.id"
    val out3 = CypherLite.run(edges, q3).toOption.get
      .as[(String, String)].collect().toSet
    assert(out3 == Set(("c:1", "s:3")))
  }

  test("disconnected pattern parts are a loud Left, not a cartesian") {
    val err = CypherLite.run(edges,
      "MATCH (a)-[:placed]->(b), (x)-[:contains]->(y) RETURN a.id, x.id")
      .swap.toOption.get
    assert(err.contains("disconnected"))
  }

  test("RETURN DISTINCT collapses duplicate bindings") {
    // both o:10 and o:11 contain p:7 → two (c:1, p:7) bindings
    val plain = CypherLite.run(edges,
      "MATCH (c:c)-[:placed]->(o)-[:contains]->(p) RETURN c.id, p.id")
      .toOption.get.count()
    val dist = CypherLite.run(edges,
      "MATCH (c:c)-[:placed]->(o)-[:contains]->(p) " +
        "RETURN DISTINCT c.id, p.id").toOption.get
      .as[(String, String)].collect().toSet
    assert(plain == 3L)
    assert(dist == Set(("c:1", "p:7"), ("c:2", "p:8")))
  }

  test("ORDER BY gives a deterministic LIMIT; DESC honored") {
    val top = CypherLite.run(edges,
      "MATCH (c:c)-[:placed]->(o:o) RETURN o.id ORDER BY o.id DESC LIMIT 2")
      .toOption.get.as[String].collect().toSeq
    assert(top == Seq("o:12", "o:11"))
    // ORDER BY on a variable not in RETURN is refused (projection-first)
    assert(CypherLite.run(edges,
      "MATCH (c:c)-[:placed]->(o) RETURN o.id ORDER BY c.id").isLeft)
    // count(*) cannot combine with ORDER BY / DISTINCT
    assert(CypherLite.run(edges,
      "MATCH (a)-[]->(b) RETURN count(*) ORDER BY a.id").isLeft)
  }

  test("OPTIONAL MATCH left-joins on the mandatory anchor; unmatched " +
    "binds null") {
    // p:8 has no supplied_by edge → its row survives with s = null
    val q = "MATCH (o:o)-[:contains]->(p:p) " +
      "OPTIONAL MATCH (p)-[:supplied_by]->(s) RETURN o.id, p.id, s.id"
    val out = CypherLite.run(edges, q).toOption.get.collect()
      .map(r => (r.getString(0), r.getString(1), Option(r.getString(2))))
      .toSet
    assert(out == Set(
      ("o:10", "p:7", Some("s:3")), ("o:11", "p:7", Some("s:3")),
      ("o:12", "p:8", None)))
    // a label inside the OPTIONAL pattern filters the match, not the row:
    // demanding (s:o) can never match, so every p keeps a null s
    val q2 = "MATCH (o:o)-[:contains]->(p:p) " +
      "OPTIONAL MATCH (p)-[:supplied_by]->(s:o) RETURN p.id, s.id"
    val out2 = CypherLite.run(edges, q2).toOption.get.collect()
      .map(r => (r.getString(0), Option(r.getString(1)))).toSet
    assert(out2 == Set(("p:7", None), ("p:8", None)))
  }

  test("OPTIONAL MATCH misuse is loud: no anchor, WHERE on optional var, " +
    "MATCH after OPTIONAL, duplicate optional vars") {
    assert(CypherLite.run(edges,
      "MATCH (a)-[:placed]->(b) OPTIONAL MATCH (x)-[:contains]->(y) " +
        "RETURN a.id").swap.toOption.get.contains("share a variable"))
    assert(CypherLite.run(edges,
      "MATCH (o:o)-[:contains]->(p) OPTIONAL MATCH (p)-[:supplied_by]->(s) " +
        "WHERE s.id = 's:3' RETURN o.id").swap.toOption.get
      .contains("null-kill"))
    assert(CypherLite.run(edges,
      "MATCH (a)-[:placed]->(b) OPTIONAL MATCH (b)-[:contains]->(c) " +
        "MATCH (c)-[:supplied_by]->(d) RETURN a.id").swap.toOption.get
      .contains("MATCH after OPTIONAL"))
    assert(CypherLite.run(edges,
      "MATCH (a)-[:placed]->(b) OPTIONAL MATCH (b)-[:contains]->(x) " +
        "OPTIONAL MATCH (b)-[:supplied_by]->(x) RETURN a.id")
      .swap.toOption.get.contains("two OPTIONAL"))
  }

  test("RETURN count(DISTINCT v.id) deduplicates before counting") {
    val n = CypherLite.run(edges,
      "MATCH (c:c)-[:placed]->(o)-[:contains]->(p) " +
        "RETURN count(DISTINCT p.id)").toOption.get.as[Long].head()
    assert(n == 2L) // p:7 (twice) and p:8
    assert(CypherLite.run(edges,
      "MATCH (a)-[]->(b) RETURN count(DISTINCT b.id) LIMIT 1").isRight)
    assert(CypherLite.run(edges,
      "MATCH (a)-[]->(b) RETURN count(DISTINCT b.id), a.id").isLeft)
  }

  test("RETURN v.id, count(*) groups by the returned variables") {
    val got = CypherLite.run(edges,
      "MATCH (c:c)-[:placed]->(o:o) RETURN c.id, count(*) ORDER BY c.id")
      .toOption.get.as[(String, Long)].collect().toSeq
    assert(got == Seq(("c:1", 2L), ("c:2", 1L)))
    // two group keys
    val two = CypherLite.run(edges,
      "MATCH (c:c)-[:placed]->(o)-[:contains]->(p) " +
        "RETURN c.id, p.id, count(*) ORDER BY c.id, p.id")
      .toOption.get.as[(String, String, Long)].collect().toSeq
    assert(two == Seq(("c:1", "p:7", 2L), ("c:2", "p:8", 1L)))
  }

  test("grouped count misuse is a loud Left") {
    // count(*) not last
    assert(CypherLite.run(edges,
      "MATCH (a)-[]->(b) RETURN count(*), a.id").isLeft)
    // DISTINCT with grouped count
    assert(CypherLite.run(edges,
      "MATCH (a)-[]->(b) RETURN DISTINCT a.id, count(*)").isLeft)
    // two counts
    assert(CypherLite.run(edges,
      "MATCH (a)-[]->(b) RETURN count(*), count(*)").isLeft)
  }

  test("retriever verbalizes bindings deterministically; errors become " +
    "the retry-feedback line") {
    val r = new CypherGraphRetriever(edges)
    val lines = r.retrieve(
      "MATCH (c:c)-[:placed]->(o:o) RETURN c.id, o.id")
    assert(lines == Seq("c: c:1, o: o:10", "c: c:1, o: o:11",
      "c: c:2, o: o:12"))
    assert(r.retrieve("DELETE everything").head
      .startsWith("Error executing query:"))
  }

  test("property-map anchor {id: '...'} compiles like the WHERE equality") {
    val q = "MATCH (c:c {id: 'c:1'})-[:placed]->(o:o) RETURN c.id, o.id"
    val out = CypherLite.run(edges, q).toOption.get
      .as[(String, String)].collect().toSet
    assert(out == Set(("c:1", "o:10"), ("c:1", "o:11")))
    // anchor + WHERE conjoin; label-less anchored node works too
    val both = CypherLite.run(edges,
      "MATCH (c {id: 'c:1'})-[:placed]->(o) WHERE o.id <> 'o:10' " +
        "RETURN c.id, o.id").toOption.get
      .as[(String, String)].collect().toSet
    assert(both == Set(("c:1", "o:11")))
  }

  test("property-map anchor on an OPTIONAL pattern applies pre-join " +
    "(rows survive with null instead of vanishing)") {
    val q = "MATCH (c:c) OPTIONAL MATCH (c)-[:placed]->(o {id: 'o:10'}) " +
      "RETURN DISTINCT c.id, o.id ORDER BY c.id, o.id"
    val out = CypherLite.run(edges, q).toOption.get
      .collect().map(r => (r.getString(0), Option(r.getString(1)))).toSet
    assert(out == Set(("c:1", Some("o:10")), ("c:2", None)))
  }

  test("unsupported property keys are a loud Left NAMING the property") {
    val bad = CypherLite.run(edges,
      "MATCH (c:Chunk {chunkId: 'x'})-[:placed]->(o) RETURN o.id")
    assert(bad.isLeft && bad.swap.toOption.get.contains("chunkId"),
      bad.toString)
    // malformed map content is loud too
    assert(CypherLite.run(edges,
      "MATCH (c {id: unquoted}) RETURN c.id").isLeft)
    // two pairs (even both id) are not the supported single-anchor form
    assert(CypherLite.run(edges,
      "MATCH (c {id: 'a', id: 'b'}) RETURN c.id").isLeft)
  }

  test("WHERE v.id STARTS WITH compiles to a prefix predicate") {
    val q = "MATCH (n)-[:contains]->(p) WHERE n.id STARTS WITH 'o:1' " +
      "RETURN DISTINCT n.id, p.id ORDER BY n.id, p.id"
    val out = CypherLite.run(edges, q).toOption.get
      .as[(String, String)].collect().toSeq
    assert(out == Seq(("o:10", "p:7"), ("o:11", "p:7"), ("o:12", "p:8")))
    // case-insensitive keyword, conjoined with another term
    val mix = CypherLite.run(edges,
      "MATCH (n)-[:contains]->(p) WHERE n.id starts with 'o:1' " +
        "AND p.id = 'p:8' RETURN n.id, p.id").toOption.get
      .as[(String, String)].collect().toSet
    assert(mix == Set(("o:12", "p:8")))
  }

  test("bare-variable RETURN/ORDER BY/count(DISTINCT v) parse like .id " +
    "(the form LLMs emit constantly)") {
    val bare = CypherLite.run(edges,
      "MATCH (c:c)-[:placed]->(o) WHERE c.id = 'c:1' " +
        "RETURN c, o ORDER BY o DESC").toOption.get
      .as[(String, String)].collect().toSeq
    assert(bare == Seq(("c:1", "o:11"), ("c:1", "o:10")))
    val cd = CypherLite.run(edges,
      "MATCH (o)-[:contains]->(p) RETURN count(DISTINCT p)").toOption.get
      .as[Long].head()
    assert(cd == 2L)
    val grouped = CypherLite.run(edges,
      "MATCH (c:c)-[:placed]->(o) RETURN c, count(*) ORDER BY c")
      .toOption.get.as[(String, Long)].collect().toSeq
    assert(grouped == Seq(("c:1", 2L), ("c:2", 1L)))
    // non-.id properties still refuse loudly
    assert(CypherLite.run(edges, "MATCH (c) RETURN c.name").isLeft)
  }

  test("CONTAINS and ENDS WITH compile to substring/suffix predicates") {
    val contains = CypherLite.run(edges,
      "MATCH (n)-[:contains]->(p) WHERE n.id CONTAINS ':1' " +
        "RETURN DISTINCT n.id ORDER BY n.id").toOption.get
      .as[String].collect().toSeq
    assert(contains == Seq("o:10", "o:11", "o:12"))
    val ends = CypherLite.run(edges,
      "MATCH (n)-[:placed]->(o) WHERE o.id ends with '1' " +
        "RETURN n.id, o.id").toOption.get
      .as[(String, String)].collect().toSet
    assert(ends == Set(("c:1", "o:11")))
  }

  test("OR in WHERE: AND binds tighter, quote-aware split, optional-var " +
    "misuse still refused") {
    // (c=c:2) OR (placed AND o ends 0) — standard precedence
    val out = CypherLite.run(edges,
      "MATCH (c:c)-[:placed]->(o:o) WHERE c.id = 'c:2' " +
        "OR c.id = 'c:1' AND o.id ENDS WITH '0' " +
        "RETURN c.id, o.id").toOption.get
      .as[(String, String)].collect().toSet
    assert(out == Set(("c:2", "o:12"), ("c:1", "o:10")))
    // a literal containing ' or ' / ' and ' never splits mid-string
    val lit = CypherLite.run(edges,
      "MATCH (n) WHERE n.id = 'a or b' OR n.id = 'c:1' RETURN n.id")
      .toOption.get.as[String].collect().toSeq
    assert(lit == Seq("c:1"))
    // OR over an optional-only variable is still the null-kill refusal
    assert(CypherLite.run(edges,
      "MATCH (n) OPTIONAL MATCH (n)-[:placed]->(o) " +
        "WHERE n.id = 'c:1' OR o.id = 'o:10' RETURN n, o").isLeft)
  }

  test("relationship alternation [:a|b] is one label-IN scan filter") {
    val out = CypherLite.run(edges,
      "MATCH (a)-[:placed|supplied_by]->(b) RETURN a.id, b.id").toOption.get
    assert(out.as[(String, String)].collect().toSet == Set(
      ("c:1", "o:10"), ("c:1", "o:11"), ("c:2", "o:12"), ("p:7", "s:3")))
    // single filter over one scan, not a union of per-type scans
    val plan = out.queryExecution.optimizedPlan.toString
    assert(!plan.toLowerCase.contains("union"), plan)
    // alternation composes with var-length
    val vl = CypherLite.run(edges,
      "MATCH (c)-[:placed|contains*1..2]->(x) WHERE c.id = 'c:2' " +
        "RETURN DISTINCT x.id ORDER BY x.id").toOption.get
      .as[String].collect().toSeq
    assert(vl == Seq("o:12", "p:8"))
  }

  test("AS aliases rename output columns; duplicates are a loud Left") {
    val df = CypherLite.run(edges,
      "MATCH (c:c)-[:placed]->(o:o) WHERE c.id = 'c:1' " +
        "RETURN c.id AS customer, o.id AS ord ORDER BY ord DESC LIMIT 1")
      .toOption.get
    assert(df.columns.toSeq == Seq("customer", "ord"))
    assert(df.as[(String, String)].collect().toSeq ==
      Seq(("c:1", "o:11")))
    // ORDER BY may name the variable even when it's aliased
    val byVar = CypherLite.run(edges,
      "MATCH (c:c)-[:placed]->(o) RETURN o.id AS ord ORDER BY o").toOption
      .get.as[String].collect().toSeq
    assert(byVar == Seq("o:10", "o:11", "o:12"))
    assert(CypherLite.run(edges,
      "MATCH (a)-[]->(b) RETURN a.id AS x, b.id AS x").isLeft)
    // count aliases: plain, distinct, grouped
    assert(CypherLite.run(edges,
      "MATCH (a)-[:placed]->(b) RETURN count(*) AS n").toOption.get
      .columns.toSeq == Seq("n"))
    assert(CypherLite.run(edges,
      "MATCH (a)-[:placed]->(b) RETURN count(DISTINCT a) AS payers")
      .toOption.get.columns.toSeq == Seq("payers"))
  }

  test("ORDER BY count(*) DESC LIMIT k: the top-k-by-cardinality shape") {
    val top = CypherLite.run(edges,
      "MATCH (c:c)-[:placed]->(o:o) RETURN c.id AS cust, count(*) AS n " +
        "ORDER BY count(*) DESC, cust LIMIT 1").toOption.get
    assert(top.columns.toSeq == Seq("cust", "n"))
    assert(top.as[(String, Long)].collect().toSeq == Seq(("c:1", 2L)))
    // count(*) ordering without a grouped count is a loud Left
    assert(CypherLite.run(edges,
      "MATCH (a)-[]->(b) RETURN a.id ORDER BY count(*)").isLeft)
  }

  test("count(v) counts NON-NULL bindings: scalar and grouped forms, " +
    "OPTIONAL nulls excluded (count(*) would include them)") {
    // scalar: orders bound by c:1 only
    val sc = CypherLite.run(edges,
      "MATCH (n) OPTIONAL MATCH (n)-[:placed]->(o:o) " +
        "WHERE n.id IN ['c:1', 'p:7'] RETURN count(o) AS n_orders")
      .toOption.get
    assert(sc.columns.toSeq == Seq("n_orders"))
    assert(sc.as[Long].head() == 2L) // p:7 binds null, excluded
    // grouped: per-anchor non-null counts, zero for the unmatched anchor
    val g = CypherLite.run(edges,
      "MATCH (n) OPTIONAL MATCH (n)-[:placed]->(o:o) " +
        "WHERE n.id IN ['c:1', 'c:2', 'p:7'] " +
        "RETURN n, count(o) AS cnt ORDER BY n").toOption.get
      .as[(String, Long)].collect().toSeq
    assert(g == Seq(("c:1", 2L), ("c:2", 1L), ("p:7", 0L)))
    // count(v) of an unknown variable is a loud Left
    assert(CypherLite.run(edges, "MATCH (a)-[]->(b) RETURN count(z)").isLeft)
    // count(DISTINCT ...) still wins the parse over count(v)
    assert(CypherLite.run(edges,
      "MATCH (o)-[:contains]->(p) RETURN count(DISTINCT p)").toOption.get
      .as[Long].head() == 2L)
  }

  test("relationship variables: [r] binds the edge type; type(r) and " +
    "bare r read it; WHERE on r filters; misuse is loud") {
    val out = CypherLite.run(edges,
      "MATCH (a {id: 'p:7'})-[r]->(b) RETURN type(r) AS rel, b.id")
      .toOption.get.as[(String, String)].collect().toSet
    assert(out == Set(("supplied_by", "s:3")))
    // bare r returns the same value; default type() column name matches
    val bare = CypherLite.run(edges,
      "MATCH (c:c)-[r]->(o) WHERE c.id = 'c:1' " +
        "RETURN DISTINCT r ORDER BY r").toOption.get
    assert(bare.columns.toSeq == Seq("r"))
    assert(bare.as[String].collect().toSeq == Seq("placed"))
    val named = CypherLite.run(edges,
      "MATCH (a {id: 'o:10'})-[r]->(b) RETURN type(r)").toOption.get
    assert(named.columns.toSeq == Seq("type(r)"))
    // WHERE on the relationship variable
    val w = CypherLite.run(edges,
      "MATCH (a)-[r]->(b) WHERE r.id = 'supplied_by' RETURN a.id, b.id")
      .toOption.get.as[(String, String)].collect().toSet
    assert(w == Set(("p:7", "s:3")))
    // count(DISTINCT r): distinct relationship types
    assert(CypherLite.run(edges,
      "MATCH (a)-[r]->(b) RETURN count(DISTINCT r)").toOption.get
      .as[Long].head() == 3L)
    // grouped: relationships per type
    val g = CypherLite.run(edges,
      "MATCH (a)-[r]->(b) RETURN r, count(*) ORDER BY r").toOption.get
      .as[(String, Long)].collect().toSeq
    assert(g == Seq(("contains", 3L), ("placed", 3L), ("supplied_by", 1L)))
    // var-length + relationship variable is refused
    assert(CypherLite.run(edges,
      "MATCH (a)-[r*1..2]->(b) RETURN a.id").isLeft)
    // type() of a node variable is refused
    assert(CypherLite.run(edges,
      "MATCH (a)-[]->(b) RETURN type(a)").isLeft)
    // duplicate relationship variable across patterns is refused
    assert(CypherLite.run(edges,
      "MATCH (a)-[r]->(b), (b)-[r]->(c) RETURN a.id").isLeft)
    // OPTIONAL-bound r survives as null for unmatched anchors
    val opt = CypherLite.run(edges,
      "MATCH (n) OPTIONAL MATCH (n)-[r:placed]->(o) " +
        "WHERE n.id IN ['c:1', 'p:7'] RETURN DISTINCT n.id, r " +
        "ORDER BY n.id, r").toOption.get.collect()
      .map(x => (x.getString(0), Option(x.getString(1)))).toSet
    assert(opt == Set(("c:1", Some("placed")), ("p:7", None)))
  }

  private lazy val props = Seq(
    ("c:1", "Alice", "customer"), ("c:2", "Bob", "customer"),
    ("o:10", "order-10", "order"), ("o:11", "order-11", "order"),
    ("o:12", "order-12", "order"),
    ("p:7", "red widget", "part"), ("p:8", "blue bolt", "part"),
    ("s:3", "Supplier#3", "supplier")).toDF("id", "value", "class")

  test("node properties: v.prop in WHERE / RETURN / ORDER BY resolves " +
    "through the nodeProps frame; default column name is the literal " +
    "v.prop; AS renames") {
    val q = "MATCH (c:c)-[:placed]->(o:o)-[:contains]->(p:p) " +
      "WHERE p.value CONTAINS 'widget' " +
      "RETURN DISTINCT c.value AS who, p.value ORDER BY who"
    val df = CypherLite.run(edges, Some(props), q).toOption.get
    assert(df.columns.toSeq == Seq("who", "p.value"))
    assert(df.as[(String, String)].collect().toSeq ==
      Seq(("Alice", "red widget")))
    // ORDER BY a property item (matched by var+prop, not alias)
    val byProp = CypherLite.run(edges, Some(props),
      "MATCH (p:p)-[:supplied_by]->(s) RETURN p.value, s.id " +
        "ORDER BY p.value DESC").toOption.get
      .as[(String, String)].collect().toSeq
    assert(byProp == Seq(("red widget", "s:3")))
    // property equality + class filter through WHERE
    val cls = CypherLite.run(edges, Some(props),
      "MATCH (n)-[:contains]->(p) WHERE p.class = 'part' " +
        "AND p.value STARTS WITH 'blue' RETURN n.id, p.value").toOption.get
      .as[(String, String)].collect().toSet
    assert(cls == Set(("o:12", "blue bolt")))
  }

  test("node properties: the lookup compares string-cast ids, so a double " +
    "binding never meets a long id through double coercion, with or " +
    "without the id prune") {
    // 2^53 as a double binding; as doubles, the long ids 2^53 and 2^53 + 1
    // both equal it
    val big = 9007199254740992L
    val dEdges = Seq((big.toDouble, 1.0, "r")).toDF("src", "dst", "label")
    val lProps = Seq((big, "near"), (big + 1, "far"), (1L, "one"))
      .toDF("id", "name")
    def names(q: String) = CypherLite.run(dEdges, Some(lProps), q)
      .fold(e => fail(e), identity).collect()
      .map(r => (Option(r.getString(0)), Option(r.getString(1)))).toSeq
    val plain = names("MATCH (a)-[:r]->(b) RETURN a.name, b.name")
    assert(plain == Seq((None, None)))
    // >= LargeInThreshold ids on a: the prune path over two variables
    val ids = (big.toDouble.toString +: (1 until CypherLite.LargeInThreshold)
      .map(i => s"${i + 2}.0")).map(v => s"'$v'").mkString("[", ", ", "]")
    val pruned = names(s"MATCH (a)-[:r]->(b) WHERE a.id IN $ids " +
      "RETURN a.name, b.name")
    assert(pruned == plain)
  }

  test("node properties: OPTIONAL nulls and dangling ids surface the " +
    "property as null; IS NULL on a property is allowed") {
    // s:3 has no property row in a REDUCED frame → null value survives
    val partial = props.filter(col("id") =!= "s:3")
    val dangling = CypherLite.run(edges, Some(partial),
      "MATCH (p:p)-[:supplied_by]->(s) RETURN p.id, s.value").toOption.get
      .collect().map(r => (r.getString(0), Option(r.getString(1)))).toSet
    assert(dangling == Set(("p:7", None)))
    // OPTIONAL binding null → property null; count(o.value) excludes it
    val cnt = CypherLite.run(edges, Some(props),
      "MATCH (n) OPTIONAL MATCH (n)-[:placed]->(o:o) " +
        "WHERE n.id IN ['c:1', 'p:7'] RETURN count(o.value) AS n_vals")
      .toOption.get.as[Long].head()
    assert(cnt == 2L)
    // property IS NULL composes with the optional anti-join shape
    val anti = CypherLite.run(edges, Some(partial),
      "MATCH (p:p)-[:supplied_by]->(s) WHERE s.value IS NULL " +
        "RETURN p.id").toOption.get.as[String].collect().toSeq
    assert(anti == Seq("p:7"))
  }

  test("node properties: unknown property is a loud Left naming it and " +
    "the available columns; no frame at all says only '.id'") {
    val bad = CypherLite.run(edges, Some(props),
      "MATCH (c:c)-[:placed]->(o) RETURN c.nonexistent")
    assert(bad.isLeft && bad.swap.toOption.get.contains("nonexistent"),
      bad.toString)
    assert(bad.swap.toOption.get.contains("value"), bad.toString)
    val noFrame = CypherLite.run(edges,
      "MATCH (c:c)-[:placed]->(o) WHERE c.value = 'Alice' RETURN o.id")
    assert(noFrame.isLeft &&
      noFrame.swap.toOption.get.contains("only '.id'"), noFrame.toString)
    // property access on a relationship variable is refused with guidance
    val rel = CypherLite.run(edges, Some(props),
      "MATCH (a)-[r]->(b) RETURN r.value")
    assert(rel.isLeft && rel.swap.toOption.get.contains("type(r)"),
      rel.toString)
    // grouped counts and count(DISTINCT v.prop) accept properties
    val g = CypherLite.run(edges, Some(props),
      "MATCH (c:c)-[:placed]->(o) RETURN c.value AS who, count(*) AS n " +
        "ORDER BY n DESC, who LIMIT 1").toOption.get
      .as[(String, Long)].collect().toSeq
    assert(g == Seq(("Alice", 2L)))
    assert(CypherLite.run(edges, Some(props),
      "MATCH (o:o)-[:contains]->(p) RETURN count(DISTINCT p.value)")
      .toOption.get.as[Long].head() == 2L)
  }

  test("properties(v) projects the whole property map as sorted-key JSON; " +
    "null bindings render null; misuse is loud") {
    val q = "MATCH (c:c)-[:placed]->(o:o) WHERE c.id = 'c:1' " +
      "RETURN o.id, properties(c) AS cp ORDER BY o.id LIMIT 1"
    val df = CypherLite.run(edges, Some(props), q).toOption.get
    assert(df.columns.toSeq == Seq("o", "cp"))
    assert(df.as[(String, String)].collect().toSeq ==
      Seq(("o:10", """{"class":"customer","value":"Alice"}""")))
    // default output name is the literal properties(v)
    val named = CypherLite.run(edges, Some(props),
      "MATCH (p:p)-[:supplied_by]->(s) RETURN properties(p)").toOption.get
    assert(named.columns.toSeq == Seq("properties(p)"))
    // OPTIONAL null binding → null map, not an empty object
    val opt = CypherLite.run(edges, Some(props),
      "MATCH (p:p) OPTIONAL MATCH (p)-[:supplied_by]->(s) " +
        "RETURN DISTINCT p.id, properties(s) AS sp ORDER BY p.id")
      .toOption.get.collect()
      .map(r => (r.getString(0), Option(r.getString(1)))).toSet
    assert(opt == Set(
      ("p:7", Some("""{"class":"supplier","value":"Supplier#3"}""")),
      ("p:8", None)))
    // no nodeProps frame → the loud only-'.id' Left
    val bare = CypherLite.run(edges, "MATCH (n) RETURN properties(n)")
    assert(bare.isLeft && bare.swap.toOption.get.contains("only '.id'"),
      bare.toString)
    // a props-less edge frame: relationships carry only their type
    assert(CypherLite.run(edges, Some(props),
      "MATCH (a)-[r]->(b) RETURN properties(r)").swap.toOption.get
      .contains("type(r)"))
    // ...but on a property-carrying edge frame, properties(r) renders
    // the edge's extra columns as sorted-key JSON (nulls omitted)
    val rp = CypherLite.run(edgesP,
      "MATCH (o:o)-[r:contains]->(p:p) WHERE o.id = 'o:10' " +
        "RETURN p.id AS part, properties(r) AS rp").toOption.get
      .as[(String, String)].collect().toSeq
    assert(rp == Seq(("p:7", """{"qty":40}""")), rp.toString)
  }

  test("numeric comparisons cast the property to double: >, >=, <, <=, " +
    "unquoted = / <>; non-numeric properties drop rows instead of " +
    "comparing lexicographically") {
    val nprops = Seq(
      ("c:1", "Alice", 9.5), ("c:2", "Bob", 100.0),
      ("o:10", "order-10", 30.0), ("o:11", "order-11", 250.0),
      ("o:12", "order-12", 99.5))
      .toDF("id", "value", "price")
    val gt = CypherLite.run(edges, Some(nprops),
      "MATCH (c:c)-[:placed]->(o:o) WHERE o.price > 99.5 " +
        "RETURN c.id, o.id ORDER BY o.id").toOption.get
      .as[(String, String)].collect().toSeq
    assert(gt == Seq(("c:1", "o:11")))
    val ge = CypherLite.run(edges, Some(nprops),
      "MATCH (c:c)-[:placed]->(o:o) WHERE o.price >= 99.5 " +
        "RETURN count(*)").toOption.get.as[Long].head()
    assert(ge == 2L)
    // lexicographic would call "30" > "250"; double compare must not
    val lt = CypherLite.run(edges, Some(nprops),
      "MATCH (c)-[:placed]->(o) WHERE o.price < 250 " +
        "RETURN DISTINCT o.id ORDER BY o.id").toOption.get
      .as[String].collect().toSeq
    assert(lt == Seq("o:10", "o:12"))
    // unquoted equality and inequality parse as numeric terms
    assert(CypherLite.run(edges, Some(nprops),
      "MATCH (c)-[:placed]->(o) WHERE o.price = 30 RETURN o.id")
      .toOption.get.as[String].collect().toSeq == Seq("o:10"))
    assert(CypherLite.run(edges, Some(nprops),
      "MATCH (c)-[:placed]->(o) WHERE o.price <> 30 RETURN count(*)")
      .toOption.get.as[Long].head() == 2L)
    // a VALUE (non-numeric) property casts to null -> row drops, loud-ish
    assert(CypherLite.run(edges, Some(nprops),
      "MATCH (c)-[:placed]->(o) WHERE o.value > 5 RETURN o.id")
      .toOption.get.count() == 0L)
    // unknown property still refuses with the schema
    assert(CypherLite.run(edges, Some(nprops),
      "MATCH (c)-[:placed]->(o) WHERE o.cost > 5 RETURN o.id").isLeft)
  }

  test("sum/min/max/avg aggregates: scalar and grouped forms over " +
    "properties; sum/avg demand a numeric property; ORDER BY the " +
    "aggregate or its alias") {
    val nprops = Seq(
      ("c:1", "Alice", 9.5), ("c:2", "Bob", 100.0),
      ("o:10", "order-10", 30.0), ("o:11", "order-11", 250.0),
      ("o:12", "order-12", 99.5))
      .toDF("id", "value", "price")
    // scalar sum over an anchored match
    val s1 = CypherLite.run(edges, Some(nprops),
      "MATCH (c:c)-[:placed]->(o:o) WHERE c.id = 'c:1' " +
        "RETURN sum(o.price) AS spend").toOption.get
    assert(s1.columns.toSeq == Seq("spend"))
    assert(s1.as[Double].head() == 280.0)
    // grouped: total spend per customer, ordered by the aggregate literal
    val g = CypherLite.run(edges, Some(nprops),
      "MATCH (c:c)-[:placed]->(o:o) " +
        "RETURN c.value AS who, sum(o.price) AS spend " +
        "ORDER BY sum(o.price) DESC").toOption.get
      .as[(String, Double)].collect().toSeq
    assert(g == Seq(("Alice", 280.0), ("Bob", 99.5)))
    // ... or by the alias; avg/min/max; default column name
    assert(CypherLite.run(edges, Some(nprops),
      "MATCH (c:c)-[:placed]->(o:o) RETURN c.id, avg(o.price) AS m " +
        "ORDER BY m, c.id").toOption.get
      .as[(String, Double)].collect().toSeq ==
      Seq(("c:2", 99.5), ("c:1", 140.0)))
    val named = CypherLite.run(edges, Some(nprops),
      "MATCH (c:c)-[:placed]->(o) RETURN max(o.price)").toOption.get
    assert(named.columns.toSeq == Seq("max(o.price)"))
    // min/max on the bare binding order strings (no property needed)
    assert(CypherLite.run(edges,
      "MATCH (c:c)-[:placed]->(o) RETURN min(o)").toOption.get
      .as[String].head() == "o:10")
    // sum/avg without a property are a loud Left with guidance
    val bad = CypherLite.run(edges, "MATCH (a)-[]->(b) RETURN sum(b)")
    assert(bad.isLeft && bad.swap.toOption.get.contains("numeric property"),
      bad.toString)
    // ORDER BY a different aggregate than returned is refused
    assert(CypherLite.run(edges, Some(nprops),
      "MATCH (c:c)-[:placed]->(o) RETURN c.id, sum(o.price) " +
        "ORDER BY min(o.price)").isLeft)
    // scalar aggregate cannot combine with ORDER BY
    assert(CypherLite.run(edges, Some(nprops),
      "MATCH (c:c)-[:placed]->(o) RETURN sum(o.price) ORDER BY c.id")
      .isLeft)
    // two trailing aggregates are the MULTI-aggregate form (round 9) —
    // one scalar aggregation row, not a refusal
    assert(CypherLite.run(edges, Some(nprops),
      "MATCH (c:c)-[:placed]->(o) RETURN sum(o.price), count(*)")
      .toOption.get.columns.toSeq == Seq("sum(o.price)", "count"))
    // unknown property inside the aggregate still schema-checks
    assert(CypherLite.run(edges, Some(nprops),
      "MATCH (c:c)-[:placed]->(o) RETURN sum(o.cost)").isLeft)
  }

  test("UNWIND seed list: ids expand against the graph, absent ids drop, " +
    "duplicates bind per occurrence, unanchored UNWIND is loud") {
    val q = "UNWIND ['c:1', 'c:404'] AS c " +
      "MATCH (c)-[:placed]->(o:o) RETURN c.id AS cust, o.id AS ord " +
      "ORDER BY cust, ord"
    assert(CypherLite.run(edges, q).toOption.get
      .as[(String, String)].collect().toSeq ==
      Seq(("c:1", "o:10"), ("c:1", "o:11"))) // c:404 has no edges: drops
    // duplicates in the seed list bind per occurrence (Cypher UNWIND)
    assert(CypherLite.run(edges,
      "UNWIND ['c:2', 'c:2'] AS c MATCH (c)-[:placed]->(o) " +
        "RETURN c.id, o.id").toOption.get.count() == 2L)
    // the seed variable works in WHERE and aggregates like any binding
    assert(CypherLite.run(edges,
      "UNWIND ['c:1', 'c:2'] AS c MATCH (c)-[:placed]->(o:o) " +
        "RETURN c.id AS cust, count(*) AS n ORDER BY cust").toOption.get
      .as[(String, Long)].collect().toSeq ==
      Seq(("c:1", 2L), ("c:2", 1L)))
    // an UNWIND no pattern references is refused (cartesian smell)
    val bad = CypherLite.run(edges,
      "UNWIND ['x'] AS z MATCH (a)-[:placed]->(b) RETURN a.id")
    assert(bad.isLeft && bad.swap.toOption.get.contains("not used"),
      bad.toString)
    // junk UNWIND forms are loud
    assert(CypherLite.run(edges,
      "UNWIND [1, 2] AS n MATCH (n) RETURN n.id").isLeft)
    // empty list = empty result, not an error
    assert(CypherLite.run(edges,
      "UNWIND [] AS c MATCH (c)-[:placed]->(o) RETURN c.id").toOption.get
      .count() == 0L)
  }

  test("grouped count(DISTINCT v): per-entity distinct cardinality; " +
    "ORDER BY count(*) on it is refused") {
    // c:1's two orders both contain p:7 — count(*) would say 2,
    // count(DISTINCT p) must say 1
    val q = "MATCH (c:c)-[:placed]->(o:o)-[:contains]->(p:p) " +
      "RETURN c.id AS cust, count(DISTINCT p) AS n_parts ORDER BY cust"
    val out = CypherLite.run(edges, q).toOption.get
      .as[(String, Long)].collect().toSeq
    assert(out == Seq(("c:1", 1L), ("c:2", 1L)))
    // ...where the plain grouped count sees the binding multiset
    val star = CypherLite.run(edges,
      "MATCH (c:c)-[:placed]->(o:o)-[:contains]->(p:p) " +
        "RETURN c.id AS cust, count(*) AS n ORDER BY cust").toOption.get
      .as[(String, Long)].collect().toSeq
    assert(star == Seq(("c:1", 2L), ("c:2", 1L)))
    // ORDER BY count(*) on the distinct query: loud, names the alias
    val bad = CypherLite.run(edges,
      "MATCH (c:c)-[:placed]->(o:o)-[:contains]->(p:p) " +
        "RETURN c.id, count(DISTINCT p) AS n ORDER BY count(*) DESC")
    assert(bad.isLeft && bad.swap.toOption.get.contains("ambiguous"),
      bad.toString)
    // ordering by the alias works
    assert(CypherLite.run(edges,
      "MATCH (c:c)-[:placed]->(o:o)-[:contains]->(p:p) " +
        "RETURN c.id AS cust, count(DISTINCT p) AS n " +
        "ORDER BY n DESC, cust LIMIT 1").toOption.get.count() == 1L)
  }

  test("collect(): grouped sorted list, scalar form, property collect, " +
    "OPTIONAL nulls skipped, collect(DISTINCT ...) refused") {
    // grouped: each customer's sorted order list
    val g = CypherLite.run(edges,
      "MATCH (c:c)-[:placed]->(o:o) " +
        "RETURN c.id AS cust, collect(o) AS orders ORDER BY cust")
      .toOption.get.as[(String, Seq[String])].collect().toSeq
    assert(g == Seq(("c:1", Seq("o:10", "o:11")), ("c:2", Seq("o:12"))))
    // scalar: one row, the whole sorted binding list
    val s1 = CypherLite.run(edges,
      "MATCH (c:c)-[:placed]->(o:o) RETURN collect(o) AS all_orders")
      .toOption.get.as[Seq[String]].head()
    assert(s1 == Seq("o:10", "o:11", "o:12"))
    // property collect resolves through nodeProps like any v.prop
    val nprops = Seq(
      ("o:10", "order-10"), ("o:11", "order-11"), ("o:12", "order-12"))
      .toDF("id", "value")
    val p = CypherLite.run(edges, Some(nprops),
      "MATCH (c:c)-[:placed]->(o:o) " +
        "RETURN c.id AS cust, collect(o.value) AS names ORDER BY cust")
      .toOption.get.as[(String, Seq[String])].collect().toSeq
    assert(p == Seq(("c:1", Seq("order-10", "order-11")),
      ("c:2", Seq("order-12"))))
    // OPTIONAL rows that bind null do not appear in the list (Cypher:
    // collect skips nulls) — p:8 has no supplier, so its list is EMPTY,
    // not [null]; p:7 keeps one s:3 per binding row (no implicit dedup)
    val o = CypherLite.run(edges,
      "MATCH (o:o)-[:contains]->(p:p) " +
        "OPTIONAL MATCH (p)-[:supplied_by]->(sp:s) " +
        "RETURN p.id AS part, collect(sp) AS sups ORDER BY part")
      .toOption.get.as[(String, Seq[String])].collect().toMap
    assert(o("p:7") == Seq("s:3", "s:3") && o("p:8") == Seq())
    // collect(DISTINCT ...) is outside the grammar — loud Left
    assert(CypherLite.run(edges,
      "MATCH (c:c)-[:placed]->(o) RETURN c.id, collect(DISTINCT o)")
      .isLeft)
    // unknown property inside collect still schema-checks
    assert(CypherLite.run(edges, Some(nprops),
      "MATCH (c:c)-[:placed]->(o) RETURN c.id, collect(o.nope)").isLeft)
  }

  test("WITH pipeline: aggregate, filter on the aggregate (HAVING), " +
    "project — the 'more than N orders' shape") {
    val q = "MATCH (c:c)-[:placed]->(o:o) WITH c.id AS cust, " +
      "count(*) AS n WHERE n > 1 RETURN cust, n ORDER BY cust"
    val out = CypherLite.run(edges, q).toOption.get
    assert(out.columns.toSeq == Seq("cust", "n"))
    assert(out.as[(String, Long)].collect().toSeq == Seq(("c:1", 2L)))
    // having on a sum over properties; RETURN re-aliases; ORDER BY DESC
    val nprops = Seq(("c:1", 9.5), ("c:2", 100.0), ("o:10", 30.0),
      ("o:11", 250.0), ("o:12", 99.5)).toDF("id", "price")
    val spend = CypherLite.run(edges, Some(nprops),
      "MATCH (c:c)-[:placed]->(o:o) WITH c.id AS cust, " +
        "sum(o.price) AS spend WHERE spend >= 99.5 " +
        "RETURN cust AS customer, spend ORDER BY spend DESC LIMIT 5")
      .toOption.get
    assert(spend.columns.toSeq == Seq("customer", "spend"))
    assert(spend.as[(String, Double)].collect().toSeq ==
      Seq(("c:1", 280.0), ("c:2", 99.5)))
    // string having + RETURN a subset of the WITH outputs
    val str = CypherLite.run(edges,
      "MATCH (c:c)-[:placed]->(o:o) WITH c.id AS cust, count(*) AS n " +
        "WHERE cust <> 'c:2' RETURN cust").toOption.get
      .as[String].collect().toSeq
    assert(str == Seq("c:1"))
    // OR across having groups, AND within
    val mix = CypherLite.run(edges,
      "MATCH (c:c)-[:placed]->(o:o) WITH c.id AS cust, count(*) AS n " +
        "WHERE n > 1 OR cust = 'c:2' AND n >= 1 " +
        "RETURN cust ORDER BY cust").toOption.get
      .as[String].collect().toSeq
    assert(mix == Seq("c:1", "c:2"))
  }

  test("WITH ... MATCH: aggregate-then-expand joins the piped frame on " +
    "shared variables; lone-aggregate WITH crosses one row; misuse is " +
    "loud") {
    // customers with >1 order, expanded to their orders' parts — the
    // piped c joins the tail pattern, n rides along into RETURN
    val q = "MATCH (c:c)-[:placed]->(o:o) WITH c, count(*) AS n " +
      "WHERE n > 1 " +
      "MATCH (c)-[:placed]->(o2:o)-[:contains]->(p:p) " +
      "RETURN DISTINCT c.id AS cust, n, p.id AS part ORDER BY cust, part"
    val out = CypherLite.run(edges, q).toOption.get
      .as[(String, Long, String)].collect().toSeq
    assert(out == Seq(("c:1", 2L, "p:7")))
    // stage-2 WHERE may filter on a piped output (numeric try_cast)
    val q2 = "MATCH (c:c)-[:placed]->(o:o) WITH c, count(*) AS n " +
      "MATCH (c)-[:placed]->(o2:o) WHERE n >= 1 " +
      "RETURN c.id AS cust, o2.id AS ord ORDER BY cust, ord"
    val out2 = CypherLite.run(edges, q2).toOption.get
      .as[(String, String)].collect().toSeq
    assert(out2 == Seq(("c:1", "o:10"), ("c:1", "o:11"), ("c:2", "o:12")))
    // a lone-aggregate WITH expands unanchored: bounded 1-row cross
    val q3 = "MATCH (c:c)-[:placed]->(o:o) WITH count(*) AS total " +
      "MATCH (p:p)-[:supplied_by]->(s:s) RETURN p.id AS part, total"
    assert(CypherLite.run(edges, q3).toOption.get
      .as[(String, Long)].collect().toSeq == Seq(("p:7", 3L)))
    // grouped WITH + unanchored tail pattern = cartesian — loud Left
    val bad1 = CypherLite.run(edges,
      "MATCH (c:c)-[:placed]->(o:o) WITH c.id AS cust, count(*) AS n " +
        "MATCH (p:p)-[:supplied_by]->(s:s) RETURN p.id, n")
    assert(bad1.isLeft && bad1.swap.toOption.get.contains("cartesian"),
      bad1.toString)
    // the tail MATCH cannot be OPTIONAL
    val bad2 = CypherLite.run(edges,
      "MATCH (c:c)-[:placed]->(o:o) WITH c, count(*) AS n " +
        "OPTIONAL MATCH (c)-[:placed]->(o2) RETURN c.id")
    assert(bad2.isLeft && bad2.swap.toOption.get.contains("OPTIONAL"),
      bad2.toString)
    // ...but OPTIONAL MATCH after the tail's mandatory MATCH works
    val q4 = "MATCH (c:c)-[:placed]->(o:o) WITH c, count(*) AS n " +
      "MATCH (c)-[:placed]->(o2:o) " +
      "OPTIONAL MATCH (o2)-[:contains]->(p:p) " +
      "WHERE c.id = 'c:1' " +
      "RETURN DISTINCT c.id AS cust, o2.id AS ord, p.id AS part " +
      "ORDER BY ord"
    assert(CypherLite.run(edges, q4).toOption.get
      .as[(String, String, String)].collect().toSeq ==
      Seq(("c:1", "o:10", "p:7"), ("c:1", "o:11", "p:7")))
  }

  test("parts connected only THROUGH the pipe attach via the pipe join; " +
    "a pipe that never reaches part 0 is a loud cartesian Left") {
    // two tail parts sharing NO variable with each other, each anchored
    // on a different piped column — the pipe frame is the connector
    // (previously crashed in compile with frames.remove(-1))
    val q = "MATCH (c:c)-[:placed]->(o:o) WITH c, o " +
      "MATCH (c)-[:placed]->(o2:o), (o)-[:contains]->(p:p) " +
      "WHERE c.id = 'c:2' RETURN c.id AS cust, o2.id AS ord, p.id AS part"
    val out = CypherLite.run(edges, q).toOption.get
      .as[(String, String, String)].collect().toSeq
    assert(out == Seq(("c:2", "o:12", "p:8")))
    // UNWIND anchoring only a SECOND part, disconnected from part 0:
    // a cartesian between (a,b) bindings and the seeded part — loud Left,
    // never an IndexOutOfBoundsException
    val bad = CypherLite.run(edges,
      "UNWIND ['p:7'] AS v MATCH (a)-[:placed]->(b), " +
        "(v)-[:supplied_by]->(s) RETURN a.id, s.id")
    assert(bad.isLeft && bad.swap.toOption.get.contains("disconnected"),
      bad.toString)
    // ...but seeding part 0 plus a part-0-connected second part is fine
    val ok = CypherLite.run(edges,
      "UNWIND ['c:1'] AS v MATCH (v)-[:placed]->(o:o), " +
        "(o)-[:contains]->(p:p) RETURN DISTINCT p.id").toOption.get
      .as[String].collect().toSeq
    assert(ok == Seq("p:7"))
  }

  test("bare-variable numeric WHERE is refused on pattern variables " +
    "(string ids would silently try_cast to null) but kept on piped " +
    "outputs") {
    val bad = CypherLite.run(edges,
      "MATCH (c:c)-[:placed]->(o) WHERE o > 5 RETURN c.id")
    assert(bad.isLeft && bad.swap.toOption.get.contains("bare variable"),
      bad.toString)
    // explicit property form still compiles (try_cast semantics)
    assert(CypherLite.run(edges,
      "MATCH (c:c)-[:placed]->(o) WHERE o.id > 5 RETURN c.id")
      .toOption.get.count() == 0L)
    // piped aggregate keeps the bare form (`WHERE n >= 2` after WITH)
    val piped = CypherLite.run(edges,
      "MATCH (c:c)-[:placed]->(o:o) WITH c, count(*) AS n " +
        "MATCH (c)-[:placed]->(o2:o) WHERE n >= 2 " +
        "RETURN DISTINCT c.id AS cust").toOption.get
      .as[String].collect().toSeq
    assert(piped == Seq("c:1"))
  }

  test("WITH pipeline misuse is a loud Left; STARTS WITH never routes " +
    "to the pipeline parser") {
    // STARTS WITH must stay an operator, not a clause boundary
    val sw = CypherLite.run(edges,
      "MATCH (n)-[:contains]->(p) WHERE n.id STARTS WITH 'o:1' " +
        "RETURN DISTINCT p.id ORDER BY p.id").toOption.get
      .as[String].collect().toSeq
    assert(sw == Seq("p:7", "p:8"))
    // a non-output name in the tail names the available outputs
    val bad = CypherLite.run(edges,
      "MATCH (c:c)-[:placed]->(o) WITH c.id AS cust, count(*) AS n " +
        "RETURN zz")
    assert(bad.isLeft && bad.swap.toOption.get.contains("cust"),
      bad.toString)
    // having on a non-output; WITH without RETURN; two WITH stages
    assert(CypherLite.run(edges,
      "MATCH (c:c)-[:placed]->(o) WITH c.id AS cust, count(*) AS n " +
        "WHERE q > 1 RETURN cust").isLeft)
    assert(CypherLite.run(edges,
      "MATCH (c:c)-[:placed]->(o) WITH c.id AS cust").isLeft)
    // two WITH stages now route to the STAGED compiler (CypherStages):
    // aggregate, project the key, return — one grouped aggregation
    val staged = CypherLite.run(edges,
      "MATCH (c:c)-[:placed]->(o) WITH c.id AS cust, count(*) AS n " +
        "WITH cust RETURN cust ORDER BY cust")
    assert(staged.toOption.get.as[String].collect().toSeq ==
      Seq("c:1", "c:2"))
    // ORDER BY must reference a RETURNED output
    assert(CypherLite.run(edges,
      "MATCH (c:c)-[:placed]->(o) WITH c.id AS cust, count(*) AS n " +
        "RETURN cust ORDER BY n").isLeft)
    // properties inside WITH items still schema-check through the store
    assert(CypherLite.run(edges,
      "MATCH (c:c)-[:placed]->(o) WITH c.value AS v, count(*) AS n " +
        "RETURN v").isLeft)
  }

  test("RETURN n.id AS count is legal when no count item exists " +
    "(the default countAlias only collides with a real count)") {
    val df = CypherLite.run(edges,
      "MATCH (c:c)-[:placed]->(o) RETURN o.id AS count ORDER BY count")
      .toOption.get
    assert(df.columns.toSeq == Seq("count"))
    assert(df.as[String].collect().toSeq == Seq("o:10", "o:11", "o:12"))
    // with a REAL count item the collision is still refused
    assert(CypherLite.run(edges,
      "MATCH (c:c)-[:placed]->(o) RETURN c.id AS count, count(*)").isLeft)
  }

  test("ORDER BY count(*) on a count(v) grouped query is refused (row " +
    "counts differ from binding counts); count(v) and the alias work") {
    val base = "MATCH (n) OPTIONAL MATCH (n)-[:placed]->(o:o) " +
      "WHERE n.id IN ['c:1', 'c:2', 'p:7'] RETURN n, count(o) AS cnt "
    val amb = CypherLite.run(edges, base + "ORDER BY count(*) DESC")
    assert(amb.isLeft && amb.swap.toOption.get.contains("ambiguous"),
      amb.toString)
    val byCountV = CypherLite.run(edges, base + "ORDER BY count(o) DESC, n")
      .toOption.get.as[(String, Long)].collect().toSeq
    assert(byCountV == Seq(("c:1", 2L), ("c:2", 1L), ("p:7", 0L)))
    val byAlias = CypherLite.run(edges, base + "ORDER BY cnt, n")
      .toOption.get.as[(String, Long)].collect().toSeq
    assert(byAlias == Seq(("p:7", 0L), ("c:2", 1L), ("c:1", 2L)))
    // count(x) of something not the grouped count is refused
    assert(CypherLite.run(edges, base + "ORDER BY count(n)").isLeft)
  }

  test("IS NULL / IS NOT NULL: the OPTIONAL anti-join and exists shapes " +
    "are the one null-sensitive WHERE allowed on optional variables") {
    // anti-join: nodes with NO outgoing placed edge
    val none = CypherLite.run(edges,
      "MATCH (n) OPTIONAL MATCH (n)-[:placed]->(o:o) " +
        "WHERE o IS NULL RETURN DISTINCT n.id ORDER BY n.id").toOption.get
      .as[String].collect().toSeq
    assert(none == Seq("o:10", "o:11", "o:12", "p:7", "p:8", "s:3"))
    // exists: the explicit inner-join-back
    val some = CypherLite.run(edges,
      "MATCH (n) OPTIONAL MATCH (n)-[:placed]->(o:o) " +
        "WHERE o.id IS NOT NULL RETURN DISTINCT n.id ORDER BY n.id")
      .toOption.get.as[String].collect().toSeq
    assert(some == Seq("c:1", "c:2"))
    // composes with other terms under OR/AND precedence
    val mix = CypherLite.run(edges,
      "MATCH (n) OPTIONAL MATCH (n)-[:placed]->(o:o) " +
        "WHERE o IS NULL AND n.id STARTS WITH 'p:' " +
        "RETURN DISTINCT n.id ORDER BY n.id").toOption.get
      .as[String].collect().toSeq
    assert(mix == Seq("p:7", "p:8"))
    // value predicates on optional vars are still refused
    assert(CypherLite.run(edges,
      "MATCH (n) OPTIONAL MATCH (n)-[:placed]->(o) " +
        "WHERE o.id = 'o:10' RETURN n.id").isLeft)
  }

  private lazy val propsNum = Seq(
    ("c:1", "Alice", 100.0), ("c:2", "Bob", 40.0),
    ("o:10", "order-10-O", 150.0), ("o:11", "order-11-F", 90.0),
    ("o:12", "order-12-O", 95.0),
    ("p:7", "red widget", 9.5), ("p:8", "blue bolt", 1.25),
    ("s:3", "Supplier#3", 0.0)).toDF("id", "value", "price")

  test("expression layer: coalesce / toLower / size(split) / arithmetic " +
    "in RETURN (AS required) and WHERE; ORDER BY addresses the alias") {
    // the reference's own shapes: coalesce fallback, split+size scoring
    val q = "MATCH (c:c)-[:placed]->(o:o) " +
      "WHERE o.price > c.price * 2.0 " +
      "RETURN c.id AS cust, toLower(c.value) AS lname, " +
      "size(split(o.value, '-')) AS nsegs, " +
      "coalesce(c.value, 'unknown') AS who, " +
      "(o.price + c.price) / 2 AS midprice " +
      "ORDER BY midprice DESC, cust"
    val out = CypherLite.run(edges, Some(propsNum), q).toOption.get
      .as[(String, String, Int, String, Double)].collect().toSeq
    // o:12 (95) > c:2 (40)*2=80 → only c:2/o:12 qualifies
    // (c:1: 150 vs 200, 90 vs 200 — both fail)
    assert(out == Seq(("c:2", "bob", 3, "Bob", 67.5)))
    // string-kinded comparison stays raw (lexicographic), not numeric
    val strCmp = CypherLite.run(edges, Some(propsNum),
      "MATCH (c:c)-[:placed]->(o:o) WHERE toLower(c.value) = 'alice' " +
        "RETURN o.id AS ord ORDER BY ord").toOption.get
      .as[String].collect().toSeq
    assert(strCmp == Seq("o:10", "o:11"))
    // size() on a string = length (Cypher's size covers both)
    val lens = CypherLite.run(edges, Some(propsNum),
      "MATCH (p:p)-[:supplied_by]->(s) WHERE size(p.value) > 8 " +
        "RETURN p.id AS part").toOption.get.as[String].collect().toSeq
    assert(lens == Seq("p:7")) // 'red widget' = 10 chars, 'blue bolt' = 9
    // expression RETURN item without AS is a loud Left
    val noAlias = CypherLite.run(edges, Some(propsNum),
      "MATCH (c:c)-[:placed]->(o) RETURN toLower(c.value)")
    assert(noAlias.isLeft && noAlias.swap.toOption.get.contains("alias"),
      noAlias.toString)
    // unknown function is a loud Left NAMING it and the supported list
    val unkFn = CypherLite.run(edges, Some(propsNum),
      "MATCH (c:c)-[:placed]->(o) WHERE levenshtein(c.value, 'x') > 2 " +
        "RETURN c.id")
    assert(unkFn.isLeft && unkFn.swap.toOption.get.contains("levenshtein")
      && unkFn.swap.toOption.get.contains("coalesce"), unkFn.toString)
    // expression properties still schema-check (unknown prop named)
    val unkProp = CypherLite.run(edges, Some(propsNum),
      "MATCH (c:c)-[:placed]->(o) RETURN coalesce(c.ghost, 'x') AS g")
    assert(unkProp.isLeft && unkProp.swap.toOption.get.contains("ghost"),
      unkProp.toString)
  }

  test("expression WHERE on OPTIONAL variables: refused bare, allowed " +
    "inside a multi-arg coalesce (the reference's null-guard shape)") {
    // guarded: coalesce(o, 'none') = 'none' ≡ the anti-join
    val guarded = CypherLite.run(edges,
      "MATCH (n) OPTIONAL MATCH (n)-[:placed]->(o:o) " +
        "WHERE coalesce(o, 'none') = 'none' AND n.id IN ['c:1', 'p:7'] " +
        "RETURN DISTINCT n.id AS anchor ORDER BY anchor").toOption.get
      .as[String].collect().toSeq
    assert(guarded == Seq("p:7"))
    // unguarded expression ref to the optional var: loud Left
    val bare = CypherLite.run(edges,
      "MATCH (n) OPTIONAL MATCH (n)-[:placed]->(o:o) " +
        "WHERE toLower(o) = 'o:10' RETURN n.id")
    assert(bare.isLeft && bare.swap.toOption.get.contains("null-kill"),
      bare.toString)
  }

  test("NOT negates one WHERE atom (bare or parenthesized); NOT over a " +
    "group is loud; NOT(IS NULL) keeps the optional-variable exemption") {
    // NOT on equality: everything but c:1's orders
    val ne = CypherLite.run(edges,
      "MATCH (c:c)-[:placed]->(o:o) WHERE NOT c.id = 'c:1' " +
        "RETURN o.id AS ord ORDER BY ord").toOption.get
      .as[String].collect().toSeq
    assert(ne == Seq("o:12"))
    // parenthesized atom + IN
    val notIn = CypherLite.run(edges,
      "MATCH (c:c)-[:placed]->(o:o) WHERE NOT (o.id IN ['o:10', 'o:12']) " +
        "RETURN o.id AS ord").toOption.get.as[String].collect().toSeq
    assert(notIn == Seq("o:11"))
    // NOT composes under AND/OR precedence
    val mixed = CypherLite.run(edges,
      "MATCH (c:c)-[:placed]->(o:o) WHERE NOT c.id = 'c:1' OR " +
        "o.id = 'o:10' RETURN o.id AS ord ORDER BY ord").toOption.get
      .as[String].collect().toSeq
    assert(mixed == Seq("o:10", "o:12"))
    // NOT (o IS NULL) == IS NOT NULL: allowed on OPTIONAL variables
    val exists = CypherLite.run(edges,
      "MATCH (n) OPTIONAL MATCH (n)-[:placed]->(o:o) " +
        "WHERE NOT (o IS NULL) RETURN DISTINCT n.id AS who ORDER BY who")
      .toOption.get.as[String].collect().toSeq
    assert(exists == Seq("c:1", "c:2"))
    // NOT on a value predicate still null-kills: refused on optional vars
    assert(CypherLite.run(edges,
      "MATCH (n) OPTIONAL MATCH (n)-[:placed]->(o:o) " +
        "WHERE NOT o.id = 'o:10' RETURN n.id").isLeft)
    // NOT over an AND group: the splitter cuts first, fragments are loud
    assert(CypherLite.run(edges,
      "MATCH (c:c)-[:placed]->(o:o) " +
        "WHERE NOT (c.id = 'c:1' AND o.id = 'o:10') RETURN o.id").isLeft)
    // a variable merely NAMED like the keyword is untouched
    assert(CypherLite.run(edges,
      "MATCH (note)-[:placed]->(o) WHERE note.id = 'c:1' " +
        "RETURN o.id").toOption.get.count() == 2L)
    // NOT on an expression comparison
    val notExpr = CypherLite.run(edges,
      "MATCH (c:c)-[:placed]->(o:o) WHERE NOT toLower(o.id) = 'o:10' " +
        "RETURN o.id AS ord ORDER BY ord").toOption.get
      .as[String].collect().toSeq
    assert(notExpr == Seq("o:11", "o:12"))
  }

  test("multi-aggregate RETURN: one grouped aggregation computes every " +
    "trailing aggregate; scalar form; ORDER BY by alias or unambiguous " +
    "form; misuse is loud") {
    // grouped: per-customer order count + priciest order + order list
    val q = "MATCH (c:c)-[:placed]->(o:o) " +
      "RETURN c.id AS cust, count(*) AS n, max(o.price) AS top, " +
      "collect(o.id) AS orders ORDER BY n DESC, cust"
    val out = CypherLite.run(edges, Some(propsNum), q).toOption.get
    assert(out.columns.toSeq == Seq("cust", "n", "top", "orders"))
    val rows = out.collect().map(r => (r.getString(0), r.getLong(1),
      r.getDouble(2), r.getSeq[String](3).toList)).toSeq
    assert(rows == Seq(("c:1", 2L, 150.0, List("o:10", "o:11")),
      ("c:2", 1L, 95.0, List("o:12"))), rows.toString)
    // scalar multi-aggregate: empty plain prefix, one row
    val sc = CypherLite.run(edges, Some(propsNum),
      "MATCH (c:c)-[:placed]->(o:o) " +
        "RETURN count(*) AS n, sum(o.price) AS total, " +
        "count(DISTINCT c) AS nc").toOption.get
      .as[(Long, Double, Long)].collect().toSeq
    assert(sc == Seq((3L, 335.0, 2L)))
    // count(v) skips OPTIONAL nulls next to count(*) counting rows
    val opt = CypherLite.run(edges,
      "MATCH (n) OPTIONAL MATCH (n)-[:placed]->(o:o) " +
        "WHERE n.id IN ['c:1', 'p:7'] " +
        "RETURN n.id AS anchor, count(*) AS rows_n, count(o) AS with_o " +
        "ORDER BY anchor").toOption.get
      .as[(String, Long, Long)].collect().toSeq
    assert(opt == Seq(("c:1", 2L, 2L), ("p:7", 1L, 0L)))
    // ORDER BY an unambiguous functional form resolves; duplicate
    // default aliases and mid-list aggregates are loud
    val byForm = CypherLite.run(edges, Some(propsNum),
      "MATCH (c:c)-[:placed]->(o:o) RETURN c.id AS cust, " +
        "count(*) AS n, sum(o.price) AS t ORDER BY sum(o.price) DESC")
      .toOption.get.as[(String, Long, Double)].collect().toSeq
    assert(byForm.head._1 == "c:1")
    assert(CypherLite.run(edges,
      "MATCH (c:c)-[:placed]->(o:o) RETURN c.id, count(*), count(o)")
      .swap.toOption.get.contains("duplicate"))
    assert(CypherLite.run(edges,
      "MATCH (c:c)-[:placed]->(o:o) RETURN count(*) AS a, c.id, " +
        "count(o) AS b").isLeft)
    // DISTINCT cannot combine; sum needs a property — still loud
    assert(CypherLite.run(edges,
      "MATCH (c:c)-[:placed]->(o:o) RETURN DISTINCT c.id, " +
        "count(*) AS a, count(o) AS b").isLeft)
    assert(CypherLite.run(edges,
      "MATCH (c:c)-[:placed]->(o) RETURN count(*) AS a, sum(o) AS s")
      .swap.toOption.get.contains("numeric property"))
    // multi-aggregates flow through WITH (HAVING on any aggregate)
    val withQ = CypherLite.run(edges, Some(propsNum),
      "MATCH (c:c)-[:placed]->(o:o) WITH c.id AS cust, " +
        "count(*) AS n, sum(o.price) AS total WHERE n > 1 " +
        "RETURN cust, total").toOption.get
      .as[(String, Double)].collect().toSeq
    assert(withQ == Seq(("c:1", 240.0)))
  }

  private lazy val edgesP = Seq(
    ("c:1", "o:10", "placed", Option.empty[Long], Some("1-URGENT")),
    ("c:1", "o:11", "placed", Option.empty[Long], Some("3-MEDIUM")),
    ("c:2", "o:12", "placed", Option.empty[Long], Some("2-HIGH")),
    ("o:10", "p:7", "contains", Some(40L), None),
    ("o:11", "p:7", "contains", Some(10L), None),
    ("o:12", "p:8", "contains", Some(25L), None),
    ("p:7", "s:3", "supplied_by", Option.empty[Long], None))
    .toDF("src", "dst", "label", "qty", "priority")

  test("relationship properties: r.prop reads the edge frame's extra " +
    "columns (projected from the scan, no join); unknown edge props " +
    "are loud with the available columns") {
    val q = "MATCH (o:o)-[r:contains]->(p:p) WHERE r.qty >= 25 " +
      "RETURN o.id AS ord, p.id AS part, r.qty AS qty, type(r) AS rel " +
      "ORDER BY ord"
    val out = CypherLite.run(edgesP, q).toOption.get
      .as[(String, String, Long, String)].collect().toSeq
    assert(out == Seq(("o:10", "p:7", 40L, "contains"),
      ("o:12", "p:8", 25L, "contains")))
    // edge props work in aggregates too: total qty per part
    val agg = CypherLite.run(edgesP,
      "MATCH (o:o)-[r:contains]->(p:p) " +
        "RETURN p.id AS part, sum(r.qty) AS total ORDER BY part")
      .toOption.get.as[(String, Double)].collect().toSeq
    assert(agg == Seq(("p:7", 50.0), ("p:8", 25.0)))
    // expression over an edge prop
    val expr = CypherLite.run(edgesP,
      "MATCH (c:c)-[r:placed]->(o:o) " +
        "RETURN c.id AS cust, toLower(coalesce(r.priority, 'none')) AS pr " +
        "ORDER BY cust, pr").toOption.get
      .as[(String, String)].collect().toSeq
    assert(expr == Seq(("c:1", "1-urgent"), ("c:1", "3-medium"),
      ("c:2", "2-high")))
    // unknown edge property: loud Left naming the available columns
    val bad = CypherLite.run(edgesP,
      "MATCH (a)-[r]->(b) WHERE r.weight > 2 RETURN a.id")
    assert(bad.isLeft && bad.swap.toOption.get.contains("weight") &&
      bad.swap.toOption.get.contains("qty"), bad.toString)
    // a props-less edge frame keeps the old guidance (only their type)
    val none = CypherLite.run(edges,
      "MATCH (a)-[r]->(b) RETURN r.qty AS q")
    assert(none.isLeft && none.swap.toOption.get.contains("type(r)"),
      none.toString)
  }
}
