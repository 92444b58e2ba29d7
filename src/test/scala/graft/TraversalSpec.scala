package graft

import graft.byokg.Traversal
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions.col

class TraversalSpec extends SparkSpec {
  import spark.implicits._

  //   a -r1-> b -r2-> c -r1-> d ;  a -r2-> e ;  e -r1-> c
  private lazy val edges = Seq(
    ("a", "b", "r1"), ("b", "c", "r2"), ("c", "d", "r1"),
    ("a", "e", "r2"), ("e", "c", "r1"))
    .toDF("src", "dst", "label")

  private def seeds(ns: String*) = ns.toDF("node")

  test("oneHop returns the frontier's out-edges") {
    val out = Traversal.oneHop(edges, seeds("a"))
      .select("dst").as[String].collect().sorted
    assert(out.toSeq == Seq("b", "e"))
  }

  test("kHopTriplets unions hops without duplicates") {
    val out = Traversal.kHopTriplets(edges, seeds("a"), 2)
      .as[(String, String, String)].collect().toSet
    assert(out == Set(("a", "b", "r1"), ("a", "e", "r2"),
      ("b", "c", "r2"), ("e", "c", "r1")))
  }

  test("metapath follows the exact label sequence") {
    val out = Traversal.followMetapath(edges, seeds("a"), Seq("r1", "r2"))
      .as[String].collect()
    assert(out.toSeq == Seq("c")) // a-r1->b-r2->c; a-r2->e doesn't match r1 first
  }

  test("shortestDistances BFS with early exit and bound") {
    val out = Traversal.shortestDistances(edges, seeds("a"), 3)
      .as[(String, Int)].collect().toMap
    assert(out == Map("a" -> 0, "b" -> 1, "e" -> 1, "c" -> 2, "d" -> 3))
    val bounded = Traversal.shortestDistances(edges, seeds("a"), 1)
      .as[(String, Int)].collect().toMap
    assert(bounded == Map("a" -> 0, "b" -> 1, "e" -> 1))
  }

  test("multiSourceDistances equals per-seed BFS; harmonic closeness sums") {
    import org.apache.spark.sql.functions.col
    // path p-q-r-s, undirected; landmarks p and s
    val path = Seq(("p", "q", "x"), ("q", "r", "x"), ("r", "s", "x"))
      .toDF("src", "dst", "label")
    val lm = Seq("p", "s").toDF("node")
    val multi = Traversal.multiSourceDistances(path,
        lm.select(col("node").as("seed"), col("node")), 3, undirected = true)
      .as[(String, String, Int)].collect().toSet
    // each seed's slice must equal the single-seed BFS
    for (s0 <- Seq("p", "s")) {
      val single = Traversal.shortestDistances(path, seeds(s0), 3,
        undirected = true).as[(String, Int)].collect().toSet
      assert(multi.filter(_._1 == s0).map(t => (t._2, t._3)) === single)
    }
    val h = Traversal.harmonicCloseness(path, lm, 3, undirected = true)
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // p: dist 3 from s → 333333; q: 1 from p + 2 from s → 1500000;
    // r symmetric; s: 3 from p
    assert(h === Map(
      "p" -> ((1L, 333333L)), "q" -> ((2L, 1500000L)),
      "r" -> ((2L, 1500000L)), "s" -> ((1L, 333333L))))
  }

  test("brandesBetweenness: hand-computed path-graph dependencies, " +
    "diamond sigma split, parallel-edge dedup, depth guard") {
    import org.apache.spark.sql.functions.col
    // path p-q-r-s undirected, seeds {p, s}, depth 3:
    //   from p: δ(q)=σq/σr·(1+δr)=2 with δ(r)=1; from s symmetric.
    //   totals: q = 2+1 = 3, r = 1+2 = 3, p = s = 0.
    val path = Seq(("p", "q", "x"), ("q", "r", "x"), ("r", "s", "x"))
      .toDF("src", "dst", "label")
    def sf(ns: String*) = ns.toDF("node")
      .select(col("node").as("seed"), col("node"))
    val b = Traversal.brandesBetweenness(path, sf("p", "s"), 3,
        undirected = true)
      .as[(String, Double)].collect().toMap
    assert(b == Map("p" -> 0.0, "q" -> 3.0, "r" -> 3.0, "s" -> 0.0))
    // diamond a->{b,c}->d: two shortest a-d paths, σ(d)=2, each middle
    // carries σ(b)/σ(d)·1 = 0.5
    val diamond = Seq(("a", "b", "x"), ("a", "c", "x"),
      ("b", "d", "x"), ("c", "d", "x")).toDF("src", "dst", "label")
    val bd = Traversal.brandesBetweenness(diamond, sf("a"), 3)
      .as[(String, Double)].collect().toMap
    assert(bd == Map("b" -> 0.5, "c" -> 0.5, "d" -> 0.0))
    // parallel edges must not multiply sigma: duplicating every edge
    // changes nothing
    val bd2 = Traversal.brandesBetweenness(diamond.union(diamond),
        sf("a"), 3).as[(String, Double)].collect().toMap
    assert(bd2 == bd)
    // truncation: depth 1 sees no interior vertices at all
    val b1 = Traversal.brandesBetweenness(path, sf("p"), 1,
        undirected = true).as[(String, Double)].collect().toMap
    assert(b1 == Map("q" -> 0.0))
    intercept[IllegalArgumentException] {
      Traversal.brandesBetweenness(path, sf("p"), 0)
    }
  }

  test("lazy (single-plan) shortestDistances matches the eager loop") {
    for (und <- Seq(false, true); depth <- Seq(1, 2, 3)) {
      val eager = Traversal.shortestDistances(edges, seeds("a"), depth, und)
        .as[(String, Int)].collect().toMap
      val lazee = Traversal.shortestDistances(edges, seeds("a"), depth, und,
        eager = false).as[(String, Int)].collect().toMap
      assert(eager == lazee, s"undirected=$und depth=$depth")
    }
  }

  test("undirected traversal reaches ancestors") {
    val out = Traversal.shortestDistances(edges, seeds("d"), 2, undirected = true)
      .as[(String, Int)].collect().toMap
    assert(out("c") == 1 && out("b") == 2 && out("e") == 2)
  }

  test("verbalizeTriplets formats src [label] dst") {
    val out = Traversal.verbalizeTriplets(Traversal.oneHop(edges, seeds("a")))
      .as[String].collect().sorted
    assert(out.toSeq == Seq("a [r1] b", "a [r2] e"))
  }

  test("pageRank: hand-computed 2-iteration ranks on the fixture graph") {
    // out-degrees: a=2, b=1, c=1, e=1; in-edges: b<-a, e<-a, c<-{b,e}, d<-c
    // r0 = 1 everywhere
    // r1: a=.15, b=.15+.85*(1/2)=.575, e=.575, c=.15+.85*(1+1)=1.85,
    //     d=.15+.85*1=1.0
    // r2: a=.15, b=.15+.85*(.15/2)=.21375, e=.21375,
    //     c=.15+.85*(.575+.575)=1.1275, d=.15+.85*1.85=1.7225
    val r = Traversal.pageRank(edges, iters = 2)
      .as[(String, Double)].collect().toMap
    val expected = Map("a" -> 0.15, "b" -> 0.21375, "e" -> 0.21375,
      "c" -> 1.1275, "d" -> 1.7225)
    expected.foreach { case (n, v) =>
      assert(math.abs(r(n) - v) < 1e-12, s"node $n: ${r(n)} vs $v")
    }
  }

  test("pageRank: deterministic ordered-fold mode matches the plain-sum " +
    "scale path within 1e-9") {
    val plain = Traversal.pageRank(edges, iters = 3)
      .as[(String, Double)].collect().toMap
    val det = Traversal.pageRank(edges, iters = 3, deterministic = true)
      .as[(String, Double)].collect().toMap
    assert(plain.keySet == det.keySet)
    plain.foreach { case (n, v) =>
      assert(math.abs(det(n) - v) < 1e-9, s"node $n: det=${det(n)} plain=$v")
    }
  }

  test("pageRank: deep run crossing the periodic-checkpoint boundary " +
    "matches a naive driver-side recurrence") {
    val es = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("a", "e"), ("e", "c"))
    val ns = es.flatMap(e => Seq(e._1, e._2)).distinct
    val outDeg = es.groupBy(_._1).map { case (s, g) => s -> g.size }
    var r = ns.map(_ -> 1.0).toMap
    for (_ <- 1 to 9)
      r = ns.map(n => n -> (0.15 + 0.85 * es.collect {
        case (s, d) if d == n => r(s) / outDeg(s)
      }.sum)).toMap
    val got = Traversal.pageRank(edges, iters = 9)
      .as[(String, Double)].collect().toMap
    r.foreach { case (n, v) =>
      assert(math.abs(got(n) - v) < 1e-9, s"node $n: ${got(n)} vs $v")
    }
  }

  test("pageRank: parallel edges are deduped, sources with no in-edges " +
    "hold the reset value") {
    val dup = edges.union(Seq(("a", "b", "dup")).toDF("src", "dst", "label"))
    val r = Traversal.pageRank(dup, iters = 1).as[(String, Double)]
      .collect().toMap
    assert(math.abs(r("a") - 0.15) < 1e-12)      // no in-edges
    assert(math.abs(r("b") - 0.575) < 1e-12)     // a->b counted once
  }

  test("weighted PageRank: equal weights reduce to the unweighted ranks; " +
    "unequal weights split contributions by w/sw") {
    import org.apache.spark.sql.functions.{col, lit, sum => fsum}
    def layout(es: Seq[(String, String, Long)]) = {
      val e = es.toDF("src", "dst", "w")
      val sw = e.groupBy(col("src")).agg(fsum(col("w")).as("sw"))
      val eW = e.join(sw, "src")
      val nodes = e.select(col("src").as("node"))
        .union(e.select(col("dst"))).distinct()
      (nodes, eW)
    }
    // equal weights == unweighted pageRank on the same edge set
    val es = Seq(("a", "b", 5L), ("a", "e", 5L), ("b", "c", 5L),
      ("e", "c", 5L), ("c", "d", 5L))
    val (n1, e1) = layout(es)
    val w = Traversal.weightedPageRankIterate(n1, e1, iters = 2)
      .as[(String, Double)].collect().toMap
    val plain = Traversal.pageRank(
      es.map(t => (t._1, t._2)).toDF("src", "dst"), iters = 2)
      .as[(String, Double)].collect().toMap
    plain.foreach { case (n, v) =>
      assert(math.abs(w(n) - v) < 1e-12, s"node $n: ${w(n)} vs $v") }
    // unequal: a sends 3/4 to b, 1/4 to e
    val (n2, e2) = layout(Seq(("a", "b", 3L), ("a", "e", 1L)))
    val w2 = Traversal.weightedPageRankIterate(n2, e2, iters = 1)
      .as[(String, Double)].collect().toMap
    assert(math.abs(w2("b") - (0.15 + 0.85 * 0.75)) < 1e-12)
    assert(math.abs(w2("e") - (0.15 + 0.85 * 0.25)) < 1e-12)
    // deterministic fold mode tracks the plain sum
    val det = Traversal.weightedPageRankIterate(n1, e1, iters = 3,
      deterministic = true).as[(String, Double)].collect().toMap
    val pl = Traversal.weightedPageRankIterate(n1, e1, iters = 3)
      .as[(String, Double)].collect().toMap
    pl.foreach { case (n, v) => assert(math.abs(det(n) - v) < 1e-9) }
  }

  test("personalized PageRank: hand-computed seed-neighborhood ranks") {
    // fixture edges: a->b, b->c, c->d, a->e, e->c; seed {a}
    // r1: a=0.15 (seed reset), b=e=0.85*0.5=0.425, c=d=0
    // r2: a=0.15, b=e=0.85*0.075=0.06375, c=0.85*(0.425+0.425)=0.7225, d=0
    val (nodes, eDeg) = Traversal.pageRankAdjacency(edges)
    val seed = Seq("a").toDF("node")
    val r2 = Traversal.personalizedPageRankIterate(nodes, eDeg, seed,
      iters = 2).as[(String, Double)].collect().toMap
    assert(math.abs(r2("a") - 0.15) < 1e-12)
    assert(math.abs(r2("b") - 0.06375) < 1e-12)
    assert(math.abs(r2("e") - 0.06375) < 1e-12)
    assert(math.abs(r2("c") - 0.7225) < 1e-12)
    assert(math.abs(r2("d") - 0.0) < 1e-12)
    // deterministic fold mode agrees with the plain-sum scale path
    val det = Traversal.personalizedPageRankIterate(nodes, eDeg, seed,
      iters = 2, deterministic = true).as[(String, Double)].collect().toMap
    r2.foreach { case (n, v) => assert(math.abs(det(n) - v) < 1e-9) }
  }

  test("hitsIterate: hand-computed hubs/authorities, max-normalized; " +
    "deterministic mode matches the plain-sum path") {
    // a→b, a→c, d→c. Round 1: auth_raw b=1, c=2 → a(b)=.5, a(c)=1;
    // hub_raw a=1.5, d=1 → h(a)=1, h(d)=2/3. Round 2: auth_raw b=1,
    // c=1+2/3 → a(b)=0.6, a(c)=1; hub_raw a=1.6, d=1 → h(a)=1, h(d)=0.625.
    val g = Seq(("a", "b", "e"), ("a", "c", "e"), ("d", "c", "e"))
      .toDF("src", "dst", "label")
    val (nodes, eDeg) = Traversal.pageRankAdjacency(g)
    val out = Traversal.hitsIterate(nodes, eDeg, iters = 2)
      .as[(String, Double, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(math.abs(out("b")._1 - 0.6) < 1e-12)
    assert(math.abs(out("c")._1 - 1.0) < 1e-12)
    assert(math.abs(out("a")._1 - 0.0) < 1e-12)
    assert(math.abs(out("a")._2 - 1.0) < 1e-12)
    assert(math.abs(out("d")._2 - 0.625) < 1e-12)
    assert(math.abs(out("c")._2 - 0.0) < 1e-12)
    val det = Traversal.hitsIterate(nodes, eDeg, iters = 2,
      deterministic = true)
      .as[(String, Double, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    out.foreach { case (n, (a, h)) =>
      assert(math.abs(det(n)._1 - a) < 1e-9 && math.abs(det(n)._2 - h) < 1e-9)
    }
    intercept[IllegalArgumentException] {
      Traversal.hitsIterate(nodes, eDeg, iters = 0)
    }
  }

  test("labelPropagation: two triangles converge to their min-id labels") {
    val tri = Seq(
      ("a", "b", "e"), ("b", "c", "e"), ("c", "a", "e"),
      ("x", "y", "e"), ("y", "z", "e"), ("z", "x", "e"))
      .toDF("src", "dst", "label")
    val out = Traversal.labelPropagation(tri, iters = 3)
      .as[(String, String)].collect().toMap
    // round 1: each node ties between its two neighbors → min neighbor;
    // round 2 onward both triangles settle on one label each
    assert(out("a") == "a" && out("b") == "a" && out("c") == "a")
    assert(out("x") == "x" && out("y") == "x" && out("z") == "x")
  }

  test("labelPropagation: deterministic on the oscillating pair graph") {
    // a-b with no other neighbors oscillates under synchronous updates;
    // the fixed iteration count makes the result well-defined: odd rounds
    // swap, even rounds restore
    val pair = Seq(("a", "b", "e")).toDF("src", "dst", "label")
    val odd = Traversal.labelPropagation(pair, iters = 3)
      .as[(String, String)].collect().toMap
    assert(odd == Map("a" -> "b", "b" -> "a"))
    val even = Traversal.labelPropagation(pair, iters = 2)
      .as[(String, String)].collect().toMap
    assert(even == Map("a" -> "a", "b" -> "b"))
  }

  test("labelPropagation: most-frequent neighbor label beats min on counts") {
    // x-{s,t,h}, h-a. Round 1: s,t→x; a→h; x→min(h,s,t)=h; h→min(a,x)=a.
    // Round 2: x's votes are {s:x, t:x, h:a} → 'x' wins 2-1 over the min
    // 'a' — frequency decides, the min only breaks ties.
    val g = Seq(("x", "s", "e"), ("x", "t", "e"), ("h", "x", "e"),
      ("h", "a", "e")).toDF("src", "dst", "label")
    val out = Traversal.labelPropagation(g, iters = 2)
      .as[(String, String)].collect().toMap
    assert(out("x") == "x")
    assert(out("h") == "h" && out("s") == "h" && out("t") == "h" &&
      out("a") == "a")
  }

  test("triangleCounts: K4 plus a pendant, hand-computed per-node counts") {
    // K4 on {a,b,c,d} has 4 triangles, each node in exactly 3; pendant edge
    // d-e adds none. Edge direction and duplicates must not matter.
    val k4 = for {
      Seq(u, v) <- Seq("a", "b", "c", "d").combinations(2).toSeq
    } yield (u, v, "e")
    val g = (k4 ++ Seq(("e", "d", "e"), ("a", "b", "dup")))
      .toDF("src", "dst", "label")
    val out = Traversal.triangleCounts(g).as[(String, Long)].collect().toMap
    assert(out == Map("a" -> 3L, "b" -> 3L, "c" -> 3L, "d" -> 3L))
    // triangle-free layered graph → empty result (zero-count nodes are
    // absent, not zero rows)
    assert(Traversal.triangleCounts(edges).count() == 0)
  }

  test("kCorePeel: path peels away round by round, triangle survives") {
    val g = Seq(("a", "b", "e"), ("b", "c", "e"), ("c", "d", "e"),
      ("x", "y", "e"), ("y", "z", "e"), ("z", "x", "e"))
      .toDF("src", "dst", "label")
    // 3 rounds reach the fixpoint: the path is gone, the triangle is the
    // 2-core with degree 2 everywhere
    val done = Traversal.kCorePeel(g, k = 2, rounds = 3)
      .as[(String, Long)].collect().toMap
    assert(done == Map("x" -> 2L, "y" -> 2L, "z" -> 2L))
    // 1 round only strips the endpoints: b-c survive this peel with the
    // degree they have AFTER it (the approximation-from-above contract)
    val one = Traversal.kCorePeel(g, k = 2, rounds = 1)
      .as[(String, Long)].collect().toMap
    assert(one == Map("b" -> 1L, "c" -> 1L,
      "x" -> 2L, "y" -> 2L, "z" -> 2L))
    intercept[IllegalArgumentException] {
      Traversal.kCorePeel(g, k = 0, rounds = 1)
    }
  }

  test("lpaLayout drops self-loops: LPA and k-core see the loop-free graph") {
    // a self-loop would let a node vote for its own label and inflate its
    // own degree; the layout filters it so LPA/k-core match the oracles'
    // `WHERE src <> dst` edge CTEs on ANY input, not just loop-free graphs
    val clean = Seq(("a", "b", "e"), ("b", "c", "e"), ("c", "a", "e"))
    val loopy = (clean ++ Seq(("b", "b", "e"), ("c", "c", "e")))
      .toDF("src", "dst", "label")
    val expect = Traversal.labelPropagation(clean.toDF("src", "dst", "label"),
      iters = 2).as[(String, String)].collect().toMap
    val got = Traversal.labelPropagation(loopy, iters = 2)
      .as[(String, String)].collect().toMap
    assert(got == expect)
    val (und, nodes) = Traversal.lpaLayout(loopy)
    assert(und.filter(col("src_id") === col("dst_id")).count() == 0)
    // the shared-layout contract kCorePeelFrom documents: degree counts on
    // the loop-free frame — each triangle node has degree 2, not 3/4
    val deg = Traversal.kCorePeelFrom(und.toDF("src", "dst"),
      k = 2, rounds = 1)
    assert(deg.as[(Long, Long)].collect().toMap.values.toSet == Set(2L))
  }

  test("triangleCountsFrom: past the broadcast cap the plan drops the " +
    "adjacency broadcast hints but counts are unchanged") {
    val k4 = for {
      Seq(u, v) <- Seq("a", "b", "c", "d").combinations(2).toSeq
    } yield (u, v, "e")
    val layout = Traversal.triangleLayout(k4.toDF("src", "dst", "label"))
    val hinted = Traversal.triangleCountsFrom(layout)
    val capped = Traversal.triangleCountsFrom(layout, broadcastEdgeCap = 0)
    def hintCount(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.analyzed.collect {
        case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
      }.size
    // the 3-way role union replicates the hinted join subtree per leg, so
    // count presence, not an exact number
    assert(hintCount(hinted) > 0, "small layout keeps the broadcast hints")
    assert(hintCount(capped) == 0, "capped layout must not hint a broadcast")
    assert(capped.as[(String, Long)].collect().toMap ==
      Map("a" -> 3L, "b" -> 3L, "c" -> 3L, "d" -> 3L))
  }

  test("kCorePeelFrom: past the broadcast cap the survivor semi-joins " +
    "drop their hints but the peel result is unchanged") {
    // same guard contract as triangleCountsFrom: the survivor set is
    // node-scale in round 1, so its broadcast must be gated, not assumed
    val g = Seq(("a", "b", "e"), ("b", "c", "e"), ("c", "d", "e"),
      ("x", "y", "e"), ("y", "z", "e"), ("z", "x", "e"))
      .toDF("src", "dst", "label")
    val e = g.select(col("src"), col("dst")).distinct()
      .filter(col("src") =!= col("dst"))
    val und = e.union(e.select(col("dst"), col("src")).toDF("src", "dst"))
      .distinct().localCheckpoint(false)
    def hintCount(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.analyzed.collect {
        case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
      }.size
    val hinted = Traversal.kCorePeelFrom(und, k = 2, rounds = 3)
    val capped = Traversal.kCorePeelFrom(und, k = 2, rounds = 3,
      broadcastNodeCap = 0)
    assert(hintCount(hinted) > 0, "small frame keeps the broadcast hints")
    assert(hintCount(capped) == 0, "capped peel must not hint a broadcast")
    assert(capped.as[(String, Long)].collect().toMap ==
      Map("x" -> 2L, "y" -> 2L, "z" -> 2L))
  }

  test("store layouts are sized off measured data, not a join's product " +
    "bound, also under a cache that is not materialized yet") {
    // two 4000-row ranges: without CBO the join estimates the PRODUCT of
    // their sizes (~1 GB), which the 128 MB size term would turn into 9
    // partitions of a layout that holds under 100 KB
    val floor = math.max(4, spark.sparkContext.defaultParallelism / 4)
    val joined = spark.range(4000).toDF("src")
      .join(spark.range(4000).select(col("id").as("src"),
        (col("id") % 7).as("dst")), "src")
    assert(joined.queryExecution.optimizedPlan.stats.sizeInBytes >
      BigInt(floor.toLong * (128L << 20)), "precondition: product bound")
    def layoutParts(eDeg: org.apache.spark.sql.DataFrame): Int = {
      val layout = Traversal.pageRankAdjacencyByDst(eDeg)
      try layout.rdd.getNumPartitions finally layout.unpersist(false)
    }
    assert(layoutParts(joined) == floor, "plain join")
    // a plan built after cache() reads an InMemoryRelation in place of the
    // join, and its stats stay the join's until the cache is materialized
    joined.cache()
    try {
      val overCache = joined.select("src", "dst")
      val plan = overCache.queryExecution.optimizedPlan
      assert(!plan.exists(_.isInstanceOf[Join]) &&
        plan.exists(_.isInstanceOf[InMemoryRelation]) &&
        plan.stats.sizeInBytes > BigInt(floor.toLong * (128L << 20)),
        "precondition: an unmaterialized cache hides the join")
      assert(layoutParts(overCache) == floor, "unmaterialized cache")
    } finally joined.unpersist(false)
  }
}
