package graft.byokg

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
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
    * O(n log k) without the two full sorts of the window-rank plan. */
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
 * KGQA driver (reference byokg_query_engine.py:119-260): link the question's
 * mentions into the graph, run agentic triplet retrieval + bounded k-hop
 * path retrieval, verbalize, and assemble an order-preserving-deduped
 * context. The engine holds the distinct node vocabulary of `edges` as a
 * cached frame: construction runs no Spark job, the first link job fills
 * the cache, and the cache lives as long as the session. A question then
 * costs one link job, which collects at most one node per mention, plus
 * one probe job per hop frontier with nodes not fetched yet. The k-hop and
 * agentic retrievers share one [[Traversal.HopProbe]] per call, and the
 * context is assembled on the driver from the collected rows, as the
 * reference assembles its list. A question whose hops pass
 * [[Traversal.ProbeRowCap]] rows runs as joins over the edge frame.
 */
final class ByoKGQueryEngine(edges: DataFrame, llm: LLM,
                             iterations: Int = 2) {

  /** Distinct `src ∪ dst` nodes, cached lazily. A lazy val: registering
    * the cache plans the query (60-90 ms on the benchmark's 449k edges),
    * which the first question pays instead of the set-up. */
  private[graft] lazy val vocabulary: DataFrame =
    edges.select(col("src").as("node")).union(edges.select(col("dst")))
      .distinct().cache()

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
    val linked: Seq[Any] =
      if (mentions.isEmpty) Nil
      else EntityLinker.fuzzyLink(vocabulary, "node", mentions, k = 1)
        .select(col("node")).collect().map(_.get(0)).toSeq.distinct
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
    val seeds = edges.sparkSession.createDataFrame(
      linked.map(Row(_)).asJava, vocabulary.schema)
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
 * reference's List[str] accumulation.
 */
final class ByoKGIterativeEngine(edges: DataFrame, llm: graft.llm.LLM,
                                 queryRetriever: Option[GraphQueryRetriever] = None,
                                 reranker: Option[Reranker] = None,
                                 maxContextLines: Int = 200,
                                 cypherRetriever: Option[CypherGraphRetriever] = None) {

  private val linker = new KGLinker(llm)

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
    val explored = scala.collection.mutable.LinkedHashSet.empty[String]
    val sch = schema()
    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst"))).distinct().localCheckpoint(true)
    var done = false
    for (it <- 0 until iterations if !done) {
      val response = linker.generateResponse(question, sch,
        ctx.mkString("\n"), iterative = it > 0)
      val artifacts = KGLinker.parseResponse(response)

      val mentions = artifacts("entity-extraction")
        .filterNot(_.contains("FINISH"))
      val linked =
        if (mentions.nonEmpty)
          EntityLinker.fuzzyLink(nodes, "node", mentions, k = 1)
            .select(col("node")).collect().map(_.getString(0)).toSeq
        else Seq.empty
      explored ++= linked
      val answerMentions = artifacts("draft-answer-generation")
      val linkedAnswers =
        if (answerMentions.nonEmpty)
          EntityLinker.fuzzyLink(nodes, "node", answerMentions, k = 1)
            .select(col("node")).collect().map(_.getString(0)).toSeq
        else Seq.empty

      val sources = (linked ++ linkedAnswers).distinct
      if (sources.nonEmpty) {
        val s = edges.sparkSession
        val seedDf = s.createDataFrame(sources.map(Tuple1(_))).toDF("node")
        val triplets = AgenticRetriever.retrieve(edges, seedDf, question, llm)
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
        val s = edges.sparkSession
        val seedDf = s.createDataFrame(explored.toSeq.map(Tuple1(_))).toDF("node")
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
