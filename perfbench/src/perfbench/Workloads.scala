package perfbench

import java.io.File
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.byokg.{AgenticRetriever, ByoKGQueryEngine, EntityLinker, Traversal}
import graft.index.GraphTables
import graft.llm.StubLLM
import graft.model.Defaults
import graft.ops.Similarity
import graft.pipeline.{LexicalGraphQueryEngine, QaEvaluation}
import graft.queries.Tables
import graft.retrieve.{ChunkBasedRetriever, Processors}

/** What the benchmark learns from one op's output, outside the timed call:
  * a digest of the output, counts that explain its cost, and every broken
  * invariant. */
final case class Checked(digest: String, counts: Map[String, Double],
                         problems: Seq[String])

/** One op of a workload: the public facade call (timed in every run), the
  * same work composed from the layers' public calls with a span around each
  * (timed in the traced run), and the output check. Both forms must give
  * the same digest. */
abstract class Op {
  type Out
  def kind: String
  def call(): Out
  def traced(t: Trace): Out
  def check(o: Out): Checked
}

trait Workload {
  /** Timed set-ups per run; `setup_s` is their median. */
  def setupReps: Int
  /** Ops of the check set: always run, and digested against the stored
    * digests of the recorded seed. */
  def checkOps: Int
  /** The op mix repeats every `cycle` ops; a run ends on a whole cycle. */
  def cycle: Int
  /** Writes the seeded inputs, and a small slice of them for the untimed
    * set-up on the cold JVM; not timed. */
  def prepare(spark: SparkSession): Unit
  /** Set-up on a fresh session: build or load, and materialize; on the
    * small slice for the untimed set-up. */
  def setup(spark: SparkSession, t: Trace, small: Boolean): Unit
  /** Checks the full set-up's output after it is timed. */
  def checkSetup(): Checked
  /** Questions not in the timed stream, run after the last set-up so that
    * the first, markedly slower, questions on the engine are not timed and
    * the JVM's compiled code and Spark's caches are warm. */
  def warmUp(): Unit
  def op(i: Int): Op
}

object Workloads {

  def apply(name: String, work: String, seed: Long, traced: Boolean): Workload = name match {
    case "lexical_query" => new LexicalQuery(work, seed, traced)
    case "kgqa" => new Kgqa(work, seed)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def sha(parts: Iterable[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    parts.foreach { p => md.update(p.getBytes("UTF-8")); md.update(0.toByte) }
    md.digest().map("%02x".format(_)).mkString
  }

  /** Index of the first of the extra warm-up questions, far past the
    * questions a run can time, so that none is asked twice. */
  val SpareFrom = 1000

  def deleteTree(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

/** Lexical-graph QA: one graph build, written to a graph-store directory,
  * then a closed-loop stream of distinct `answer(q, "text")` questions. The
  * traced run makes every `ChainEvery`-th op a full processor chain
  * (`query(q).collect()`) instead: one chain op takes longer than the
  * whole measured loop, so the untraced run leaves it out. The documents
  * are a tenth of the sf0.1 corpus's 5,000, so that a run fits its time
  * budget; the answer path is bound by per-job overhead at either size. */
final class LexicalQuery(work: String, seed: Long, traced: Boolean) extends Workload {
  import Workloads.SpareFrom
  val Docs = 500
  val SmallDocs = 50
  // one set-up takes about 14 s on 4 cores; a run has room for one
  val setupReps = 1
  val WarmUp = 1
  // answers stop getting faster after the first five on an engine
  val ExtraWarmUp = 4
  val ChainEvery = 4
  // an untraced run times at least five answers, so its median has five
  // samples; a traced run stops after its first chain op
  val checkOps = if (traced) ChainEvery - 1 else 5
  val cycle = if (traced) ChainEvery else 1

  private val docsPath = s"$work/input/documents.parquet"
  private val smallDocsPath = s"$work/input-small/documents.parquet"
  private val storeDir = s"$work/store"
  private val docs = Inputs.documents(seed, 0, Docs)
  // the first WarmUp questions warm up, and ExtraWarmUp more from
  // SpareFrom on; the ops take the rest
  private val questions = Inputs.questions(seed).to(LazyList)
  private val llm = new StubLLM
  private var engine: LexicalGraphQueryEngine = _

  /** Table directory names as `GraphTables.write` lays them out. */
  private def tablesOf(g: GraphTables): Seq[(String, DataFrame)] = Seq(
    "sources" -> g.sources, "chunks" -> g.chunks, "topics" -> g.topics,
    "topic_mentioned_in" -> g.topicMentionedIn, "statements" -> g.statements,
    "facts" -> g.facts, "fact_supports" -> g.factSupports,
    "entities" -> g.entities, "entity_relations" -> g.entityRelations)

  def prepare(spark: SparkSession): Unit = {
    import spark.implicits._
    Seq(docsPath -> docs, smallDocsPath -> docs.take(SmallDocs)).foreach {
      case (path, ds) => ds.toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(path)
    }
  }

  /** `LexicalGraphQueryEngine.fromDocuments` (lazy, cached tables), the
    * tables materialized, the graph written with `GraphTables.write`. The
    * listener times the write's executions per table. */
  def setup(spark: SparkSession, t: Trace, small: Boolean): Unit = {
    Workloads.deleteTree(new File(storeDir))
    engine = t.span("index.build") {
      val e = LexicalGraphQueryEngine.fromDocuments(spark,
        spark.read.parquet(if (small) smallDocsPath else docsPath), "text",
        Seq("doc_id", "source"))
      tablesOf(e.graph).foreach(_._2.count())
      e
    }
    engine.graph.write(storeDir)
  }

  def warmUp(): Unit = ((0 until WarmUp) ++ (SpareFrom until SpareFrom + ExtraWarmUp))
    .foreach(i => engine.answer(questions(i), "text"))

  /** Every table's parquet row count equals its frame's count; the digest
    * covers each stored table's rows. One job for the stored tables, one
    * for the cached frames. */
  def checkSetup(): Checked = {
    val spark = engine.graph.sources.sparkSession
    val tables = tablesOf(engine.graph)
    val stored = tables.map { case (name, _) =>
      val df = spark.read.parquet(s"$storeDir/$name")
      df.select(lit(name).as("t"), to_json(struct(df.columns.map(col): _*)).as("j"))
    }.reduce(_ union _)
      .groupBy("t").agg(count(lit(1)).as("n"),
        sum(xxhash64(col("j")).cast("decimal(38,0)")).as("h"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), String.valueOf(r.get(2)))).toMap
    val frames = tables.map { case (name, df) => df.select(lit(name).as("t")) }
      .reduce(_ union _).groupBy("t").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val perTable = tables.map { case (name, _) =>
      val (n, h) = stored.getOrElse(name, (0L, "none"))
      (name, n, frames.getOrElse(name, 0L), h)
    }
    val written = Option(new File(storeDir).listFiles).toSeq.flatten
      .flatMap(d => Option(d.listFiles).toSeq.flatten)
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum
    val rows = perTable.map(p => p._1 -> p._3).toMap
    Checked(
      Workloads.sha(perTable.map { case (n, c, _, h) => s"$n $c $h" }),
      Map("index.docs" -> Docs.toDouble,
        "index.chunks" -> rows("chunks").toDouble,
        "index.statements" -> rows("statements").toDouble,
        "index.written_bytes" -> written.toDouble,
        "index.input_bytes" -> docs.map(_.text.getBytes("UTF-8").length).sum.toDouble),
      perTable.collect { case (n, stored, frame, _) if stored != frame =>
        s"$n: $stored rows in parquet, $frame in the frame" })
  }

  def op(i: Int): Op = {
    val q = questions(WarmUp + i)
    if (traced && i % ChainEvery == ChainEvery - 1) new Chain(q) else new Answer(q)
  }

  final case class AnswerOut(response: String, sourceNodes: DataFrame,
                             numSourceNodes: Long, contextTokens: Long,
                             searchRows: Option[Long])

  final class Answer(q: String) extends Op {
    type Out = AnswerOut
    val kind = "answer"

    def call(): AnswerOut = {
      val r = engine.answer(q, "text")
      AnswerOut(r.response, r.sourceNodes, r.metadata("num_source_nodes").toLong,
        r.metadata("context_tokens").toLong, None)
    }

    def traced(t: Trace): AnswerOut = {
      val g = engine.graph
      val emb = t.span("llm.embed")(engine.embed(q))
      // the seed top-k that search runs inside its plan, run on its own
      // first; the trace overhead leaves this span out
      t.span("ops.seed_topk")(Similarity.diverseTopK(g.chunks, "embedding",
        "chunk_id", "source_id", emb, Defaults.VssTopK,
        Defaults.VssDiversityFactor).collect())
      val (raw, searchRows) = t.span("retrieve.search") {
        val r = ChunkBasedRetriever.search(g, emb).localCheckpoint(true)
        (r, r.count())
      }
      val (results, n) = t.span("retrieve.postprocess") {
        val r = Seq[DataFrame => DataFrame](
          Processors.dedupResults,
          Processors.rescoreResults,
          df => Processors.truncateStatements(df, Defaults.MaxStatementsPerTopic),
          df => Processors.truncateResults(df, Defaults.MaxSearchResults)
        ).foldLeft(raw)((df, p) => p(df)).localCheckpoint(true)
        (r, r.count())
      }
      val rendered = t.span("retrieve.format")(Processors.formatContextText(results)
        .collect().map(_.mkString(" ")).mkString("\n"))
      val response = t.span("llm.complete")(llm.complete(
        s"Answer from the context only.\n\nContext:\n$rendered\n\n" +
          s"Question: $q\nAnswer:"))
      AnswerOut(response, results, n, QaEvaluation.tokens(rendered), Some(searchRows))
    }

    def check(o: AnswerOut): Checked = {
      val nodes = o.sourceNodes.collect()
      val rows = nodes.map(_.toString).sorted
      val sources = nodes.map(_.getAs[String]("source_id")).distinct.length
      val searched = o.searchRows.getOrElse(o.numSourceNodes)
      // num_source_nodes counts the statement rows of the kept sources, so
      // the MaxSearchResults bound applies to the distinct sources
      val problems = Seq(
        Option.when(sources > Defaults.MaxSearchResults)(
          s"$sources sources > ${Defaults.MaxSearchResults}"),
        Option.when(rows.length != o.numSourceNodes)(
          s"num_source_nodes ${o.numSourceNodes} but ${rows.length} source rows"),
        Option.when(searched > 0 && o.contextTokens == 0)(
          "empty context although search returned rows")).flatten
      val counts = Map(
        "retrieve.result_rows" -> o.numSourceNodes.toDouble,
        "retrieve.context_tokens" -> o.contextTokens.toDouble) ++
        o.searchRows.map(s => "retrieve.search_rows" -> s.toDouble)
      Checked(Workloads.sha(Seq(kind, o.response, o.numSourceNodes.toString,
        o.contextTokens.toString) ++ rows), counts, problems)
    }
  }

  final class Chain(q: String) extends Op {
    type Out = Array[Row]
    val kind = "chain"

    def call(): Array[Row] = engine.query(q).collect()

    /** The steps of `ChunkBasedRetriever.fullQuery` with its defaults (no
      * metadata filter, no rerankers, facts included), one span per fold
      * step; each step is materialized so its span bounds its own work. The
      * facade runs the fold as one lazy plan, so these spans time this
      * step-by-step copy, not the facade's own plan. */
    def traced(t: Trace): Array[Row] = {
      val g = engine.graph
      def step(name: String, in: DataFrame)(f: DataFrame => DataFrame): DataFrame =
        t.span(s"retrieve.chain.$name") {
          val out = f(in)
          if (out eq in) in else out.localCheckpoint(true)
        }
      val emb = t.span("llm.embed")(engine.embed(q))
      val factValues = g.factSupports
        .join(g.facts.select(col("fact_id"), col("value").as("fact_value")),
          Seq("fact_id"))
        .select("statement_id", "fact_value")
      val cleanSources = step("removeVersioningMetadata", g.sources)(
        Processors.removeVersioningMetadata(_))
      val steps = Seq[(String, DataFrame => DataFrame)](
        "dedupResults" -> Processors.dedupResults,
        "disaggregateResults" -> Processors.disaggregateResults,
        "populateStatementStrs" -> (df => Processors.populateStatementStrs(df, factValues)),
        "rerankStatements" -> (df => Processors.rerankStatements(df, None)),
        "pruneStatements" -> (df => Processors.pruneStatements(df)),
        "rescoreResults" -> Processors.rescoreResults,
        "truncateStatements" -> (df =>
          Processors.truncateStatements(df, Defaults.MaxStatementsPerTopic)),
        "truncateRankResults" -> (df =>
          Processors.truncateRankResults(df, Defaults.MaxSearchResults)),
        "updateChunkMetadata" -> (df => Processors.updateChunkMetadata(df, g.chunks)),
        "clearScores" -> (df => Processors.clearScores(df)),
        "statementsToStrings" -> (df => Processors.statementsToStrings(df, true)),
        "simplifySingleTopicResults" -> (df => Processors.simplifySingleTopicResults(df)),
        "clearChunks" -> Processors.clearChunks,
        "joinTopics" -> (df => df.join(
          g.topics.select(col("topic_id"), col("value").as("topic")),
          Seq("topic_id"), "left")),
        "clearTopicIds" -> Processors.clearTopicIds)
      val raw = step("search", null)(_ => ChunkBasedRetriever.search(g, emb))
      val formatted = steps.foldLeft(raw) { case (df, (name, f)) => step(name, df)(f) }
      t.span("retrieve.chain.formatSources") {
        formatted
          .join(Processors.formatSources(cleanSources)
            .select("source_id", "source_str"), Seq("source_id"), "left")
          .select(col("source_rank"), col("source_str"), col("single_topic"),
            col("topic"), col("statement"), col("score"))
          .orderBy(col("source_rank"), col("topic"), desc("score"), col("statement"))
          .collect()
      }
    }

    def check(rows: Array[Row]): Checked = {
      val ranks = rows.map(_.getAs[Int]("source_rank"))
      val problems = Seq(
        Option.when(rows.isEmpty)("full chain returned no rows"),
        Option.when(ranks.exists(r => r < 1 || r > Defaults.MaxSearchResults))(
          s"source_rank outside 1..${Defaults.MaxSearchResults}")).flatten
      Checked(Workloads.sha(kind +: rows.map(_.toString)),
        Map("retrieve.chain_rows" -> rows.length.toDouble), problems)
    }
  }
}

/** KGQA over a TPC-H-shaped triplet graph a third of the sf0.1 size (the
  * largest a run's time budget allows): one edge load, then a closed-loop
  * stream of distinct `retrieveContext(question, mentions)` calls. */
final class Kgqa(work: String, seed: Long) extends Workload {
  import Workloads.SpareFrom
  // sf0.1 has 150,000 orders, about 600,000 lines and 1.34 M edges; key
  // ranges stay those of sf0.1
  val Orders = 50000
  val SmallOrders = 5000
  val setupReps = 2
  val WarmUp = 1
  // the first four questions on an engine are markedly slower than the rest
  val ExtraWarmUp = 3
  val Iterations = 2
  val checkOps = 4
  // a run ends on a whole cycle of the four question kinds
  val cycle = 4

  private val dir = s"$work/input"
  private val smallDir = s"$work/input-small"
  private val shape = Inputs.OrderShape(seed, Orders, customers = 15000,
    parts = 20000, suppliers = 1000)
  private val tables = Inputs.OrderTables(shape)
  // the first WarmUp questions warm up, and ExtraWarmUp more from
  // SpareFrom on; the ops take the rest
  private val questions =
    Inputs.kgQuestions(seed, tables).to(LazyList)
  private val llm = new StubLLM
  private var edges: DataFrame = _
  private var engine: ByoKGQueryEngine = _

  /** Writes `orders` and `lineitem`, and the first SmallOrders orders as
    * the small slice; each Spark task makes its part of the tables. */
  def prepare(spark: SparkSession): Unit = {
    import spark.implicits._
    val shape = this.shape // so the task closures do not hold the workload
    Seq(dir -> Orders, smallDir -> SmallOrders).foreach { case (d, n) =>
      val keys = spark.range(1, n + 1L, 1, spark.sparkContext.defaultParallelism).as[Long]
      keys.map(k => shape.order(k)._1).map(o => (o.orderKey, o.custKey, o.priority))
        .toDF("o_orderkey", "o_custkey", "o_orderpriority")
        .write.mode("overwrite").parquet(s"$d/orders.parquet")
      keys.flatMap(k => shape.order(k)._2)
        .map(l => (l.orderKey, l.partKey, l.suppKey, l.lineNumber, l.quantity))
        .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity")
        .write.mode("overwrite").parquet(s"$d/lineitem.parquet")
    }
  }

  /** `Tables.edges` (cached) and materialized. */
  def setup(spark: SparkSession, t: Trace, small: Boolean): Unit = {
    edges = Tables.edges(spark, if (small) smallDir else dir)
    edges.count()
    engine = new ByoKGQueryEngine(edges, llm, Iterations)
  }

  def warmUp(): Unit = ((0 until WarmUp) ++ (SpareFrom until SpareFrom + ExtraWarmUp))
    .foreach(i => engine.retrieveContext(questions(i).question, questions(i).mentions).collect())

  /** The loaded edge table is the edge set the inputs define: each row is
    * encoded as [[Inputs.edgeCode]] (-1 when its kind is unknown), and the
    * row count and the sum of the codes' xxhash64 must equal the generated
    * set's. One aggregation job. */
  def checkSetup(): Checked = {
    def prefix(c: String) = substring_index(col(c), ":", 1)
    def key(c: String) = substring_index(col(c), ":", -1).cast("long")
    val kind = Inputs.EdgeKinds.zipWithIndex.foldLeft(lit(-1L)) {
      case (other, ((sp, label, dp), k)) =>
        when(prefix("src") === sp && col("label") === label &&
          prefix("dst") === dp, lit(k.toLong)).otherwise(other)
    }
    val r = edges
      .select(when(kind >= 0, shiftleft(kind, 40) + shiftleft(key("src"), 20) +
        key("dst")).otherwise(lit(-1L)).as("code"))
      .agg(count(lit(1)), count(when(col("code") < 0, 1)),
        sum(xxhash64(col("code")).cast("decimal(38,0)")))
      .head()
    val (rows, unknown) = (r.getLong(0), r.getLong(1))
    val hash = r.getDecimal(2).toBigInteger.toString
    val codes = tables.edgeCodes
    val want = codes.foldLeft(BigInt(0))((h, c) => h + XXH64.hashLong(c, 42L)).toString
    val problems = Seq(
      Option.when(rows != codes.length)(
        s"edge table has $rows rows, the inputs define ${codes.length} edges"),
      Option.when(unknown > 0)(s"$unknown edge table rows of no input edge kind"),
      Option.when(hash != want)("edge table's hash sum differs from the inputs'")
    ).flatten
    Checked(Workloads.sha(Seq(rows.toString, hash)), Map.empty, problems)
  }

  def op(i: Int): Op = new Ask(questions(WarmUp + i))

  final case class KgOut(rows: Array[Row], linked: Option[Long],
                         triplets: Option[Long])

  final class Ask(q: Inputs.KgQuestion) extends Op {
    type Out = KgOut
    val kind = "kgqa"

    def call(): KgOut =
      KgOut(engine.retrieveContext(q.question, q.mentions).collect(), None, None)

    /** `ByoKGQueryEngine.retrieveContext`, one span per stage; each stage's
      * frame is materialized so its span bounds its own work. */
    def traced(t: Trace): KgOut = {
      val nodes = t.span("byokg.nodes") {
        edges.select(col("src").as("node")).union(edges.select(col("dst")))
          .distinct().localCheckpoint(true)
      }
      val linked = t.span("byokg.link") {
        EntityLinker.fuzzyLink(nodes, "node", q.mentions, k = 1)
          .select(col("node")).localCheckpoint(true)
      }
      val agentic = t.span("byokg.agentic") {
        AgenticRetriever.retrieve(edges, linked, q.question, llm, Iterations)
          .localCheckpoint(true)
      }
      val khop = t.span("byokg.khop") {
        Traversal.kHopTriplets(edges, linked, Iterations).distinct()
          .localCheckpoint(true)
      }
      val rows = t.span("byokg.context") {
        def ordered(df: DataFrame, priority: Int): DataFrame =
          Traversal.verbalizeTriplets(df).withColumn("ord",
            lit(priority.toLong * 1000000L) +
              row_number().over(Window.orderBy(col("text"))))
        ordered(agentic, 0).union(ordered(khop, 1))
          .groupBy(col("text")).agg(min(col("ord")).as("min_ord"))
          .withColumn("first_seen", row_number().over(Window.orderBy(col("min_ord"))))
          .drop("min_ord")
          .collect()
      }
      KgOut(rows, Some(linked.count()), Some(agentic.count() + khop.count()))
    }

    def check(o: KgOut): Checked = {
      val lines = o.rows.map(r => (r.getAs[Int]("first_seen"), r.getAs[String]("text")))
        .sortBy(_._1)
      val unknown = lines.count { case (_, text) => !tables.hasEdge(text) }
      val problems = Seq(
        Option.when(unknown > 0)(s"$unknown context lines name no input edge"),
        Option.when(lines.map(_._1).toSeq != (1 to lines.length))(
          "first_seen is not 1..n")).flatten
      val counts = Map("byokg.context_lines" -> lines.length.toDouble) ++
        o.linked.map(n => "byokg.linked_nodes" -> n.toDouble) ++
        o.triplets.map(n => "byokg.triplets" -> n.toDouble)
      Checked(Workloads.sha(kind +: lines.map { case (i, s) => s"$i $s" }),
        counts, problems)
    }
  }
}
