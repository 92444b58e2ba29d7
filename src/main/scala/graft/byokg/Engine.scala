package graft.byokg

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Literal, Lower}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.CosineSimilarity
import graft.llm.{LLM, QueryOps}
import graft.ops.Joins
import graft.ops.Joins.gatedBroadcast

/**
 * Entity linking into a user-supplied KG (SURVEY.md §2.13; reference:
 * byokg-rag/src/graphrag_toolkit/byokg_rag/indexing/fuzzy_string.py:10-97 and
 * dense_index.py). Both linkers return (mention, node, score, rk) top-k rows.
 */
object EntityLinker {

  /** Fuzzy linking: normalized-levenshtein ratio with the reference's
    * length-difference gate, top-k per mention as a k-bounded heap aggregate
    * (TopKAgg) — the node side is the whole entity vocabulary, so the
    * (mention, node) score set heaps down to k rows per mention in
    * O(n log k) without the two full sorts of the window-rank plan. The
    * scale path: the KGQA engines link through a driver-side
    * [[FuzzyIndex]] while the node set fits in [[FuzzyIndex.NodeCap]]. */
  def fuzzyLink(nodes: DataFrame, nodeCol: String, mentions: Seq[String],
                k: Int = 3, maxLenDiff: Int = 10): DataFrame = {
    val s = nodes.sparkSession
    val ms = s.createDataFrame(mentions.map(Tuple1(_))).toDF("mention")
    val scored = broadcast(ms).crossJoin(nodes.select(col(nodeCol).as("node")))
      .filter(abs(length(col("mention")) - length(col("node"))) <= maxLenDiff)
      .withColumn("score",
        lit(1.0) - levenshtein(lower(col("mention")), lower(col("node")))
          .cast("double") /
          greatest(length(col("mention")), length(col("node"))).cast("double"))
    graft.functions.TopKAgg.topKPerKeyRanked(scored, Seq("mention"),
      Seq(negate(col("score")), col("node")), k, "rk")
  }

  /**
   * [[fuzzyLink]] over a string node set held on the driver, the
   * reference's in-memory FuzzyStringIndex: `link(mentions, k, maxLenDiff)`
   * returns exactly the rows of `fuzzyLink(nodes, nodeCol, mentions, k,
   * maxLenDiff)` (mention, node, score, rk) without a Spark job.
   *
   * A mention first looks up its lowercase form among the nodes':
   * equal lowercase forms score 1.0, the maximum, so a k = 1 lookup that
   * hits ends there. Otherwise the nodes are scanned in buckets of equal
   * (length, lowercase length), best bound first. The edit distance is at
   * least the difference of the lowercase lengths, so a bucket scores at
   * most 1 - |Δ lowercase length| / max(length), and the scan stops at the
   * first bucket whose bound is below the k-th best score found; within a
   * bucket, each distance is computed only up to the largest one that can
   * still enter the top k (Spark's banded `levenshteinDistance`). Lengths
   * are Spark's `length` (code points) of the original strings, distances
   * are over Spark's `lower`, and the score is the same double expression,
   * so scores are bit-identical to the Spark link's; ties break on the node
   * in Spark's binary string order. An empty mention against an empty node
   * divides 0 by 0, as the Spark link does: with ANSI mode on that throws,
   * without it the score is null and ranks first. The index is immutable,
   * so concurrent lookups are safe.
   */
  final class FuzzyIndex private (session: SparkSession, nodes: Array[String],
                                  lowered: Array[UTF8String],
                                  lengths: Array[Int], copies: Array[Int]) {
    // node indices follow Spark's string order, so an index compare is a
    // node compare
    private val exact: Map[UTF8String, Int] =
      lowered.indices.reverse.map(i => lowered(i) -> i).toMap
    private val buckets: Array[Array[Int]] = lowered.indices.toArray
      .groupBy(i => (lengths(i), lowered(i).numChars())).values.toArray
    private val empty: Option[Int] = Option(nodes.indexOf("")).filter(_ >= 0)

    def size: Int = nodes.length

    def link(mentions: Seq[String], k: Int = 3,
             maxLenDiff: Int = 10): Seq[Row] = {
      require(k > 0, s"k must be positive, got $k")
      // the mentions as Spark stores them: a lone surrogate becomes '?'
      val given = mentions.filter(_ != null).map(UTF8String.fromString(_).toString)
      val times = given.groupMapReduce(identity)(_ => 1)(_ + _)
      // a mention given d times meets each node d times per copy of it
      given.distinct.flatMap { m =>
        top(m, k, maxLenDiff)
          .flatMap { case (i, score) =>
            Iterator.fill(times(m) * copies(i))((i, score)) }
          .take(k).zipWithIndex
          .map { case ((i, score), r) => Row(m, nodes(i), score, r + 1) }
      }
    }

    /** The best k distinct nodes for `m`, best first, with their scores. */
    private def top(m: String, k: Int, maxLenDiff: Int): Seq[(Int, Any)] = {
      val mention = UTF8String.fromString(m)
      val len = mention.numChars()
      val low = Lower(Literal(mention)).eval().asInstanceOf[UTF8String]
      val lowLen = low.numChars()
      def gated(i: Int) = math.abs(len - lengths(i)) <= maxLenDiff
      def longer(i: Int) = math.max(len, lengths(i))
      exact.get(low) match {
        case Some(i) if k == 1 && gated(i) && longer(i) > 0 => return Seq((i, 1.0))
        case _ =>
      }
      val first = empty.filter(i => len == 0 && gated(i)).toSeq.map { i =>
        if (session.conf.get("spark.sql.ansi.enabled").toBoolean)
          throw new ArithmeticException("[DIVIDE_BY_ZERO] Division by zero: " +
            "the empty mention against the empty node")
        (i, null)
      }
      val best = new Best(k - first.size)
      val bounded = buckets.filter(b => gated(b(0)) && longer(b(0)) > 0)
        .map(b => (b, score(math.abs(lowLen - lowered(b(0)).numChars()), longer(b(0)))))
        .sortBy(-_._2)
      // takeWhile tests a bucket's bound after the buckets before it were
      // scanned
      for ((b, _) <- bounded.iterator.takeWhile { case (_, bound) => best.admits(bound) })
        b.foreach { i =>
          val limit = best.maxDistance(longer(i), math.max(lowLen, lowered(i).numChars()))
          if (limit >= 0) {
            val d = low.levenshteinDistance(lowered(i), limit)
            if (d >= 0) best.offer(score(d, longer(i)), i)
          }
        }
      first ++ best.ranked
    }
  }

  /** The Spark link's score: 1 - distance / the longer length. */
  private def score(distance: Int, longer: Int): Double =
    1.0 - distance.toDouble / longer.toDouble

  /** The k best (score, node index) pairs offered: higher score first,
    * then lower index. */
  private final class Best(k: Int) {
    private val kept = scala.collection.mutable.ArrayBuffer.empty[(Double, Int)]

    private def before(a: (Double, Int), b: (Double, Int)): Boolean =
      a._1 > b._1 || a._1 == b._1 && a._2 < b._2

    /** Whether a node scoring at most `bound` can still enter. */
    def admits(bound: Double): Boolean =
      k > 0 && (kept.size < k || bound >= kept.last._1)

    /** The largest distance up to `cap` whose score over `longer` can still
      * enter; -1 when none can. */
    def maxDistance(longer: Int, cap: Int): Int =
      if (kept.size < k) cap
      else {
        val worst = kept.last._1
        var d = math.min(cap, ((1.0 - worst) * longer).toInt + 1)
        while (d >= 0 && score(d, longer) < worst) d -= 1
        d
      }

    def offer(s: Double, i: Int): Unit = {
      val at = kept.indexWhere(before((s, i), _))
      if (at >= 0) kept.insert(at, (s, i)) else kept += ((s, i))
      if (kept.size > k) kept.remove(k)
    }

    def ranked: Seq[(Int, Any)] = kept.toSeq.map { case (s, i) => (i, s) }
  }

  object FuzzyIndex {

    /** Distinct nodes a KGQA engine's [[FuzzyIndex]] holds; past it the
      * engines keep the Spark link. Measured on 4 local cores over
      * TPC-H-style names (`c:123`), index against Spark link, k = 1: a
      * mention that matches no node (every gated bucket is scanned in
      * full, the index's worst case) took 58 ms against 519 ms at 85 k
      * nodes, 216 ms against 496 ms at 400 k and 1.0 s against 1.27 s at
      * 1.5 M, while an exact hit took 0.01-0.08 ms; the index held 22, 77
      * and 295 MB of driver heap and took 3.3, 2.7 and 7.2 s to build. The
      * cap keeps the worst case under the Spark link and the heap near
      * 200 MB. */
    val NodeCap: Int = 1000000

    /** The index of the non-null values of the string column `nodeCol`,
      * collected in one Spark job, or None when there are more than
      * [[NodeCap]] distinct ones. A value's duplicates count, as in
      * [[fuzzyLink]]. */
    def build(nodes: DataFrame, nodeCol: String): Option[FuzzyIndex] = {
      require(nodes.schema(nodeCol).dataType == StringType,
        s"FuzzyIndex needs a string column, $nodeCol is ${nodes.schema(nodeCol).dataType}")
      val distinct = nodes.filter(col(nodeCol).isNotNull)
        .groupBy(col(nodeCol).as("node")).agg(count(lit(1)).as("copies"))
      Traversal.collectAtMost(distinct.select(col("node"), lower(col("node")),
          length(col("node")), col("copies")), NodeCap)
        .map { rows =>
          val sorted = rows.toArray.map(r => (UTF8String.fromString(r.getString(0)), r))
            .sortBy(_._1).map(_._2)
          new FuzzyIndex(nodes.sparkSession, sorted.map(_.getString(0)),
            sorted.map(r => UTF8String.fromString(r.getString(1))),
            sorted.map(_.getInt(2)), sorted.map(r => math.toIntExact(r.getLong(3))))
        }
    }
  }

  /** Dense linking: cosine top-k of the query embedding against node
    * embeddings (the LocalFaissDenseIndex analogue — brute force here, the
    * IVF/LSH paths in graft.ops.Similarity are the scale variants). */
  def denseLink(nodeEmb: DataFrame, nodeCol: String, embCol: String,
                queryEmb: Seq[Double], k: Int = 3): DataFrame = {
    CosineSimilarity.register(nodeEmb.sparkSession)
    nodeEmb.select(col(nodeCol).as("node"),
      CosineSimilarity.cosine(col(embCol), typedLit(queryEmb)).as("score"))
      .orderBy(desc("score"), col("node"))
      .limit(k)
  }
}

/**
 * Agentic triplet retrieval: iterate (select relations relevant to the
 * question → expand frontier along them → keep the strongest next entities)
 * — the reference's AgenticRetriever loop
 * (byokg-rag/.../graph_retrievers/graph_retrievers.py:23-182), with the LLM
 * relation-selection turn behind the [[LLM]] trait (StubLLM keeps it
 * deterministic: relations are chosen by token overlap with the question).
 *
 * The frontier lives on the driver, as the reference's does: each hop is a
 * [[Traversal.HopProbe]] lookup, one Spark job for the frontier nodes the
 * probe has not fetched yet, and the relation choice and the top-degree
 * frontier run on the collected rows. The relation labels of a hop are
 * exactly the data the reference puts in its selection prompt. When the
 * seeds or the fetched rows pass [[Traversal.ProbeRowCap]], the call runs
 * as joins over the edge frame instead, with the same result.
 */
object AgenticRetriever {

  def retrieve(edges: DataFrame, seeds: DataFrame, question: String, llm: LLM,
               iterations: Int = 2, topEntities: Int = 8): DataFrame =
    retrieve(edges, seeds, question, llm, iterations, topEntities,
      Traversal.ProbeRowCap)

  private[graft] def retrieve(edges: DataFrame, seeds: DataFrame,
                              question: String, llm: LLM, iterations: Int,
                              topEntities: Int, rowCap: Int): DataFrame = {
    val probe = new Traversal.HopProbe(edges, rowCap)
    Traversal.collectAtMost(seeds.select(col("node")).distinct(), rowCap)
      .flatMap(nodes => expand(probe, nodes.map(_.get(0)), question, llm,
        iterations, topEntities))
      .fold(joined(edges, seeds, question, llm, iterations, topEntities))(
        rows => probe.frame(rows.distinct))
  }

  /** The relation-selection turn: the hop's labels whose tokens meet the
    * question's, or all of them when none do (the reference's fallback).
    * A null label never survives, as `label IN (...)` drops it. */
  private def selectRelations(labels: Seq[String],
                              qTokens: Set[String]): Set[String] = {
    val candidates = labels.filter(_ != null).toSet
    val matched = candidates.filter(l =>
      l.toLowerCase.split("[^a-z0-9]+").exists(qTokens.contains))
    if (matched.isEmpty) candidates else matched
  }

  /** The agentic loop over a driver-side frontier: the kept triplets of
    * every iteration, duplicates included; None when the probe passes its
    * cap. */
  private[byokg] def expand(probe: Traversal.HopProbe, seeds: Seq[Any],
                            question: String, llm: LLM, iterations: Int,
                            topEntities: Int): Option[Seq[Row]] = {
    val qTokens = QueryOps.keywords(llm, question, maxKeywords = 8).toSet
    val acc = scala.collection.mutable.ArrayBuffer.empty[Row]
    var frontier = seeds
    for (_ <- 1 to iterations) {
      val hop = probe.hop(frontier) match {
        case Some(rows) => rows
        case None => return None
      }
      val chosen = selectRelations(hop.map(_.getString(probe.labelAt)), qTokens)
      val kept = hop.filter(r => chosen.contains(r.getString(probe.labelAt)))
      acc ++= kept
      // Next entities: strongest by in-frontier degree (duplicate edges
      // count), ties on the node in Spark's order, capped.
      frontier = kept.groupBy(_.get(probe.dstAt)).toSeq
        .map { case (d, rs) => (d, rs.size) }
        .sortWith { case ((d1, n1), (d2, n2)) =>
          n1 > n2 || n1 == n2 && Traversal.sparkOrder.lt(d1, d2) }
        .take(topEntities).map(_._1)
    }
    Some(acc.toSeq)
  }

  /** [[retrieve]] as joins over the edge frame, for seeds or hops past the
    * probe's cap: the seed frontier is counted and broadcast under
    * [[graft.ops.Joins.BroadcastRowCap]], every later frontier holds at
    * most `topEntities` nodes, and only each hop's distinct labels come to
    * the driver. */
  private[byokg] def joined(edges: DataFrame, seeds: DataFrame,
                            question: String, llm: LLM, iterations: Int,
                            topEntities: Int): DataFrame = {
    val qTokens = QueryOps.keywords(llm, question, maxKeywords = 8).toSet
    var (frontier, n) =
      Joins.checkpointCount(seeds.select(col("node")).distinct())
    var acc: DataFrame = null
    for (_ <- 1 to iterations) {
      val hop = edges.join(
        gatedBroadcast(frontier.select(col("node").as("src")), n), Seq("src"))
      val chosen = selectRelations(
        hop.select(col("label")).distinct().collect().map(_.getString(0)).toSeq,
        qTokens)
      val kept = hop.filter(col("label").isin(chosen.toSeq: _*))
        .localCheckpoint(false)
      acc = if (acc == null) kept else acc.union(kept)
      frontier = kept.groupBy(col("dst")).agg(count(lit(1)).as("deg"))
        .orderBy(desc("deg"), col("dst"))
        .limit(topEntities)
        .select(col("dst").as("node"))
      n = math.min(n, topEntities.toLong)
    }
    acc.distinct()
  }
}

/**
 * The distinct `src ∪ dst` nodes of an edge frame as link targets for
 * k = 1 [[EntityLinker]] links. While the nodes are strings and at most
 * [[EntityLinker.FuzzyIndex.NodeCap]], the first link builds a
 * [[EntityLinker.FuzzyIndex]] in one Spark job and every link is a driver
 * lookup. Otherwise links run [[EntityLinker.fuzzyLink]] against the node
 * set, cached on first use for as long as the session lives. Construction
 * runs no Spark job; lazy vals build each structure once, also under
 * concurrent first callers.
 */
private[byokg] final class KgNodes(edges: DataFrame) {

  /** Distinct `src ∪ dst`, not cached. */
  lazy val frame: DataFrame =
    edges.select(col("src").as("node")).union(edges.select(col("dst"))).distinct()

  /** Times [[index]] was built from the node set. */
  private[graft] val builds = new java.util.concurrent.atomic.AtomicInteger

  private[graft] lazy val index: Option[EntityLinker.FuzzyIndex] =
    if (frame.schema("node").dataType != StringType) None
    else {
      builds.incrementAndGet()
      EntityLinker.FuzzyIndex.build(frame, "node")
    }

  /** The node set, cached; only links past the index's cap use it. */
  private lazy val vocabulary: DataFrame = frame.cache()

  /** The (mention, node, score, rk) rows of each non-null, non-empty
    * mention's best node. An empty mention links to nothing: it scores
    * alike against every short node, and 0 / 0 against an empty node. */
  def link(mentions: Seq[String]): Seq[Row] = {
    val ms = mentions.filterNot(_ == "")
    if (ms.isEmpty) Nil
    else index.fold(EntityLinker.fuzzyLink(vocabulary, "node", ms, k = 1)
      .collect().toSeq)(_.link(ms, k = 1))
  }

  /** `nodes` as a frame of one `node` column of the node type. */
  def seeds(nodes: Seq[Any]): DataFrame =
    edges.sparkSession.createDataFrame(nodes.map(Row(_)).asJava, frame.schema)
}

/**
 * KGQA driver (reference byokg_query_engine.py:119-260): link the question's
 * mentions into the graph, run agentic triplet retrieval + bounded k-hop
 * path retrieval, verbalize, and assemble an order-preserving-deduped
 * context. The engine links through its [[KgNodes]]: construction runs no
 * Spark job, the first question builds the driver-side fuzzy index of the
 * nodes in one job, and later links run no job; past
 * [[EntityLinker.FuzzyIndex.NodeCap]] nodes, each question runs the Spark
 * link against the cached node set instead. A question then costs one
 * probe job per hop frontier with nodes not fetched yet. The k-hop and
 * agentic retrievers share one [[Traversal.HopProbe]] per call, and the
 * context is assembled on the driver from the collected rows, as the
 * reference assembles its list. A question whose hops pass
 * [[Traversal.ProbeRowCap]] rows runs as joins over the edge frame.
 */
final class ByoKGQueryEngine(edges: DataFrame, llm: LLM,
                             iterations: Int = 2) {

  private[graft] val nodes = new KgNodes(edges)

  /** Returns (text, first_seen) in true first-seen order: the agentic
    * retriever's context arrives before the k-hop context (the order
    * _add_to_context appends in, byokg_query_engine.py:101-116 + 173-178),
    * and a line seen by both keeps its earliest position. Within a
    * retriever, lines rank by text in Spark's binary string order (the
    * reference's store-iteration order isn't reproducible on a distributed
    * frame). Calls on one engine may run concurrently. */
  def retrieveContext(question: String, mentions: Seq[String]): DataFrame =
    retrieveContext(question, mentions, Traversal.ProbeRowCap)

  private[graft] def retrieveContext(question: String, mentions: Seq[String],
                                     rowCap: Int): DataFrame = {
    val linked = nodes.link(mentions).map(_.get(1)).distinct
    val probe = new Traversal.HopProbe(edges, rowCap)
    // k-hop first: its hop-h frontier holds the agentic hop-h frontier, so
    // the agentic expansion finds every hop in the probe's memo
    val probed = for {
      khop <- Traversal.kHopRows(probe, linked, iterations)
      agentic <- AgenticRetriever.expand(probe, linked, question, llm,
        iterations, topEntities = 8)
    } yield (agentic, khop)
    probed.fold(joinedContext(question, linked)) { case (agentic, khop) =>
      def lines(rows: Seq[Row]): Seq[String] =
        rows.distinct.map(verbalize(probe, _)).sorted(Traversal.sparkOrder)
      val context = (lines(agentic) ++ lines(khop)).distinct
        .zipWithIndex.map { case (text, i) => Row(text, i + 1) }
      edges.sparkSession.createDataFrame(context.asJava,
        ByoKGQueryEngine.ContextSchema)
    }
  }

  /** [[retrieveContext]] as joins over the edge frame: each retriever's
    * lines carry an arrival order, and dedup keeps the least per text. */
  private def joinedContext(question: String, linked: Seq[Any]): DataFrame = {
    val seeds = nodes.seeds(linked)
    val agentic = AgenticRetriever.joined(edges, seeds, question, llm,
      iterations, topEntities = 8)
    val khop = Traversal.joinHops(edges, seeds, iterations)
    def ordered(df: DataFrame, priority: Int): DataFrame =
      Traversal.verbalizeTriplets(df).withColumn("ord",
        lit(priority.toLong * 1000000L) +
          row_number().over(Window.orderBy(col("text"))))
    ordered(agentic, 0).union(ordered(khop, 1))
      .groupBy(col("text")).agg(min(col("ord")).as("min_ord"))
      .withColumn("first_seen",
        row_number().over(Window.orderBy(col("min_ord"))))
      .drop("min_ord")
  }

  /** [[Traversal.verbalizeTriplets]] on one row: `concat_ws` skips a null
    * part, and a null label nulls its bracketed part. */
  private def verbalize(probe: Traversal.HopProbe, r: Row): String =
    Seq(r.get(0), Option(r.get(probe.labelAt)).map(l => s"[$l]").orNull,
      r.get(probe.dstAt)).filter(_ != null).mkString(" ")
}

object ByoKGQueryEngine {
  private val ContextSchema: StructType = StructType(Seq(
    StructField("text", StringType, nullable = false),
    StructField("first_seen", IntegerType, nullable = false)))
}

/**
 * The full byokg iterate loop (reference byokg_query_engine.py:151-188):
 * each iteration runs one KGLinker turn, links the emitted entity/answer
 * artifacts into the graph, retrieves triplet context (agentic), path context
 * (metapaths from the artifact's `a -> b -> c` lines), and graph-query
 * context (safety-gated SQL), appending to an order-preserving context list.
 * `FINISH` in `<task-completion>` ends the loop early.
 *
 * The context list lives on the driver — it IS the next prompt, and every
 * retriever bounds its output (top-k links, capped expansions), mirroring the
 * reference's List[str] accumulation. Mentions link through the engine's
 * [[KgNodes]], as in [[ByoKGQueryEngine]]: one lookup per iteration for
 * the entity and answer mentions together. Node ids keep their type.
 */
final class ByoKGIterativeEngine(edges: DataFrame, llm: graft.llm.LLM,
                                 queryRetriever: Option[GraphQueryRetriever] = None,
                                 reranker: Option[Reranker] = None,
                                 maxContextLines: Int = 200,
                                 cypherRetriever: Option[CypherGraphRetriever] = None) {

  private val linker = new KGLinker(llm)
  private[graft] val nodes = new KgNodes(edges)

  /** Graph schema string for the linker prompt: the sorted relation labels
    * (reference graph_store.get_schema()). One tiny distinct aggregation. */
  def schema(): String =
    edges.select(col("label")).distinct().orderBy(col("label"))
      .collect().map(_.getString(0)).mkString("Relations: ", ", ", "")

  private def addToContext(ctx: scala.collection.mutable.LinkedHashSet[String],
                           items: Seq[String]): Unit =
    items.foreach(ctx.add) // LinkedHashSet = insertion-ordered seen-set

  def query(question: String, iterations: Int = 2): Seq[String] = {
    val ctx = scala.collection.mutable.LinkedHashSet.empty[String]
    val explored = scala.collection.mutable.LinkedHashSet.empty[Any]
    val sch = schema()
    var done = false
    for (it <- 0 until iterations if !done) {
      val response = linker.generateResponse(question, sch,
        ctx.mkString("\n"), iterative = it > 0)
      val artifacts = KGLinker.parseResponse(response)

      val mentions = artifacts("entity-extraction")
        .filterNot(_.contains("FINISH"))
      val answerMentions = artifacts("draft-answer-generation")
      val best = nodes.link(mentions ++ answerMentions)
        .map(r => r.getString(0) -> r.get(1)).toMap
      val linked = mentions.flatMap(best.get)
      explored ++= linked

      val sources = (linked ++ answerMentions.flatMap(best.get)).distinct
      if (sources.nonEmpty) {
        val s = edges.sparkSession
        val triplets = AgenticRetriever.retrieve(edges, nodes.seeds(sources),
          question, llm)
        val lines = Traversal.verbalizeTriplets(triplets)
          .orderBy(col("text")).limit(maxContextLines)
          .collect().map(_.getString(0)).toSeq
        val kept = reranker.fold(lines) { r =>
          val df = s.createDataFrame(lines.zipWithIndex.map(_.swap))
            .toDF("ord", "text")
          r.rerankTopK(question, df, "text", maxContextLines, "ord")
            .select(col("text")).collect().map(_.getString(0)).toSeq
        }
        addToContext(ctx, kept)
      }

      val metapaths = artifacts("path-extraction")
        .map(_.split("->").map(_.trim).filter(_.nonEmpty).toSeq)
        .filter(_.nonEmpty)
      if (metapaths.nonEmpty && explored.nonEmpty) {
        val seedDf = nodes.seeds(explored.toSeq)
        metapaths.foreach { mp =>
          val paths = Traversal.metapathPaths(edges, seedDf, mp)
          val lines = Traversal.verbalizePaths(paths)
            .orderBy(col("text")).limit(maxContextLines)
            .collect().map(_.getString(0)).toSeq
          addToContext(ctx, lines)
        }
      }

      artifacts("opencypher") match {
        case qs if qs.nonEmpty && (cypherRetriever.isDefined ||
            queryRetriever.isDefined) =>
          // one query per artifact LINE (the prompt's contract): joining
          // them into a single statement would parse-fail every multi-query
          // turn and lose all graph-query context. LLMs prompted for
          // openCypher get the MATCH-subset compiler (CypherLite) when
          // wired; the safety-gated Spark SQL executor stays the fallback
          // for SQL-prompted deployments.
          qs.foreach { q =>
            val lines = cypherRetriever.map(_.retrieve(q))
              .getOrElse(queryRetriever.get.retrieve(q))
            addToContext(ctx, lines)
          }
        case _ =>
      }

      done = KGLinker.taskCompletion(response).exists(_.contains("FINISH"))
    }
    ctx.toSeq
  }
}
