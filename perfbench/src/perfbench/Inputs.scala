package perfbench

import java.util.SplittableRandom

/** Seeded input generators. Every input the program receives is made here
  * from the run's seed, so the same seed gives byte-identical inputs; the
  * shapes follow the repository's sf0.1 sample data: its documents (a
  * 30-word uniform vocabulary, 10-100 token documents, 20 sources, 5
  * languages) and its TPC-H order tables. */
object Inputs {

  /** The sf0.1 corpus's vocabulary, each word about equally frequent. */
  val Vocab: IndexedSeq[String] = IndexedSeq(
    "a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
    "query", "row", "scan", "slow", "small", "sort", "spark", "stream",
    "table", "the", "value", "vector", "window")

  final case class Doc(docId: Long, text: String, lang: String,
                       source: String, nChars: Long)

  private val Langs = IndexedSeq("en", "en", "en", "de", "es", "fr", "zh")

  /** Documents `first until first + n` of the seeded corpus. Each document
    * draws from its own generator, so any slice of the corpus can be made
    * without making the documents before it. */
  def documents(seed: Long, first: Long, n: Int): IndexedSeq[Doc] =
    (first until first + n).map { i =>
      val r = new SplittableRandom(seed * 7919L + i * 31L + 1L)
      val len = 10 + r.nextInt(91)
      val text = Seq.fill(len)(Vocab(r.nextInt(Vocab.size))).mkString(" ")
      Doc(i, text, Langs(r.nextInt(Langs.size)), s"src${i % 20}",
        text.length.toLong)
    }

  /** Distinct questions of 3-6 tokens; about one token in six is outside
    * the corpus vocabulary. Generation is sequential, so the stream's
    * prefix does not depend on how many questions a run consumes. */
  def questions(seed: Long): Iterator[String] = {
    val r = new SplittableRandom(seed * 104729L + 2L)
    val seen = scala.collection.mutable.HashSet.empty[String]
    Iterator.continually {
      val n = 3 + r.nextInt(4)
      Seq.fill(n)(
        if (r.nextInt(6) == 0) s"zq${r.nextInt(1000)}"
        else Vocab(r.nextInt(Vocab.size))).mkString(" ")
    }.filter(seen.add)
  }

  final case class Order(orderKey: Long, custKey: Long, priority: String)
  final case class LineItem(orderKey: Long, partKey: Long, suppKey: Long,
                            lineNumber: Int, quantity: Double)

  /** TPC-H-shaped orders and lineitems: 1-7 lines per order (4 on average),
    * customers, parts and suppliers drawn uniformly, so almost every
    * (part, supplier) pair of a line is distinct, as in the sf0.1 tables.
    * Each order draws from its own generator, so any slice of the tables
    * can be made on its own, on the driver or in Spark tasks. */
  final case class OrderShape(seed: Long, orders: Int, customers: Int,
                              parts: Int, suppliers: Int) {
    /** Order `k` (1 to `orders`) and its lines. */
    def order(k: Long): (Order, Seq[LineItem]) = {
      val r = new SplittableRandom(seed * 15485863L + k * 131L + 3L)
      val o = Order(k, 1L + r.nextInt(customers), Priorities(r.nextInt(5)))
      (o, (1 to 1 + r.nextInt(7)).map(ln => LineItem(k, 1L + r.nextInt(parts),
        1L + r.nextInt(suppliers), ln, 1.0 + r.nextInt(50))))
    }
  }

  final case class OrderTables(shape: OrderShape) {
    private val all = (1L to shape.orders.toLong).map(shape.order)
    val orders: IndexedSeq[Order] = all.map(_._1)
    val lineitems: IndexedSeq[LineItem] = all.flatMap(_._2)

    /** The triplet set the edge loader must produce, each edge encoded by
      * [[Inputs.edgeCode]], sorted and distinct. */
    lazy val edgeCodes: Array[Long] = {
      val b = Array.newBuilder[Long]
      orders.foreach(o => b += edgeCode(0, o.custKey, o.orderKey))
      lineitems.foreach { l =>
        b += edgeCode(1, l.orderKey, l.partKey)
        b += edgeCode(2, l.partKey, l.suppKey)
      }
      val codes = b.result()
      java.util.Arrays.sort(codes)
      codes.take(1) ++ codes.indices.drop(1).collect {
        case i if codes(i) != codes(i - 1) => codes(i)
      }
    }

    /** Whether a context line `src [label] dst` (the verbalized triplet
      * form) names an edge of these tables. */
    def hasEdge(line: String): Boolean = line match {
      case EdgeLine(sp, s, label, dp, d) =>
        EdgeKinds.indexOf((sp, label, dp)) match {
          case -1 => false
          case k => java.util.Arrays.binarySearch(edgeCodes,
            edgeCode(k, s.toLong, d.toLong)) >= 0
        }
      case _ => false
    }
  }

  /** (source prefix, label, destination prefix) of the three edge kinds,
    * indexed by the kind code of [[edgeCode]]. */
  val EdgeKinds: IndexedSeq[(String, String, String)] = IndexedSeq(
    ("c", "placed", "o"), ("o", "contains", "p"), ("p", "supplied_by", "s"))
  private val EdgeLine = """(\w+):(\d+) \[(\w+)\] (\w+):(\d+)""".r

  /** One edge as a long: kind code, then source and destination key in 20
    * bits each (every key is below 2^20). */
  def edgeCode(kind: Int, src: Long, dst: Long): Long =
    (kind.toLong << 40) | (src << 20) | dst

  private val Priorities =
    IndexedSeq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  final case class KgQuestion(question: String, mentions: Seq[String])

  private val RelationWords = IndexedSeq(
    "which orders were placed by", "which parts each order contains for",
    "who supplied the parts bought by", "list parts supplied to")
  private val PlainWords = IndexedSeq(
    "tell me about", "what is known about", "summarize", "describe")

  /** KGQA questions over sampled customer and part nodes, in a fixed cycle
    * of four kinds so every run sees the same mix: a customer, a part with
    * relation words (so the agentic relation filter narrows the hop), a
    * customer and a part with relation words, and one node with one digit
    * edited (so fuzzy linking ranks real candidates). Nodes are drawn from
    * the seed; no question repeats. */
  def kgQuestions(seed: Long, t: OrderTables): Iterator[KgQuestion] = {
    val r = new SplittableRandom(seed * 32452843L + 4L)
    val usedCustomers = t.orders.map(_.custKey).distinct.sorted
    val usedParts = t.lineitems.map(_.partKey).distinct.sorted
    def customer(): String = s"c:${usedCustomers(r.nextInt(usedCustomers.size))}"
    def part(): String = s"p:${usedParts(r.nextInt(usedParts.size))}"
    def edit(m: String): String = {
      val digits = m.indices.filter(i => m(i).isDigit)
      val i = digits(r.nextInt(digits.size))
      m.updated(i, ((m(i) - '0' + 1 + r.nextInt(9)) % 10 + '0').toChar)
    }
    def relation(): String = RelationWords(r.nextInt(RelationWords.size))
    def plain(): String = PlainWords(r.nextInt(PlainWords.size))
    val seen = scala.collection.mutable.HashSet.empty[String]
    Iterator.from(0).map { n =>
      Iterator.continually {
        val (lead, ms) = n % 4 match {
          case 0 => (plain(), Seq(customer()))
          case 1 => (relation(), Seq(part()))
          case 2 => (relation(), Seq(customer(), part()))
          case _ => (plain(), Seq(edit(if (r.nextInt(2) == 0) customer() else part())))
        }
        KgQuestion(s"$lead ${ms.mkString(" and ")}", ms)
      }.find(q => seen.add(q.question)).get
    }
  }
}
