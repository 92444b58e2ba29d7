package graft

import org.apache.spark.sql.functions._
import graft.ops.{Sampling, TextAnalysis}

/** Specs for the corpus-statistics operators (profile, quantiles, language
  * id, Zipf, vocabulary, BM25, rollup) and cluster-balanced sampling. */
class CurationOpsSpec extends SparkSpec {
  import spark.implicits._

  test("clusterBalanced caps every cell and ranks by content hash") {
    // skewed cells: cell 0 has 50 rows, cell 1 has 3, cell 2 has 1
    val asg = ((1L to 50L).map(i => (i, 0)) ++
      Seq((101L, 1), (102L, 1), (103L, 1), (201L, 2)))
      .toDF("id", "cell").repartition(4)
    val out = Sampling.clusterBalanced(asg, "id", "cell", perCell = 5,
      salt = "cb")
    val byCell = out.groupBy("cell").count().as[(Int, Long)].collect().toMap
    assert(byCell === Map(0 -> 5L, 1 -> 3L, 2 -> 1L))
    // ranks are 1..n in hash order and the draw is partition-independent
    val ranks = out.filter(col("cell") === 0).select("rn")
      .as[Int].collect().sorted.toSeq
    assert(ranks === (1 to 5))
    val again = Sampling.clusterBalanced(asg.repartition(11), "id", "cell",
      perCell = 5, salt = "cb")
    assert(out.except(again).count() == 0 && again.except(out).count() == 0)
    // monotone in perCell: the 5-sample is a subset of the 8-sample
    val bigger = Sampling.clusterBalanced(asg, "id", "cell", perCell = 8,
      salt = "cb").select("id", "cell")
    assert(out.select("id", "cell").except(bigger).count() == 0)
  }

  test("compiled WordGrams matches the interpreted HOF gram construction") {
    graft.functions.WordGrams.register(spark)
    val docs = Seq("the quick brown fox", "a", "", "x  y!! z", "one two",
      "Repeat repeat REPEAT repeat").toDF("text")
    for (n <- Seq(1, 2, 3)) {
      val toks = split(graft.functions.TextFunctions.searchStr(col("text")), "\\s+")
      val hof =
        if (n == 1) toks
        else when(size(toks) >= n,
          transform(sequence(lit(0), size(toks) - n),
            i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
          .otherwise(array().cast("array<string>"))
      val rows = docs.select(
        graft.functions.WordGrams.grams(col("text"), n).as("fast"),
        hof.as("slow")).as[(Seq[String], Seq[String])].collect()
      rows.foreach { case (fast, slow) => assert(fast == slow, s"n=$n") }
    }
  }

  test("compiled TextStats-derived profile matches the composed Column forms") {
    import graft.functions.{TextFunctions => T}
    val tricky = Seq(
      "the quick brown fox", "", "   ", "\t", "a  b\tc\nd", " leading",
      "trailing ", "all punct !!! ???", "der die das und ist",
      "le la de et un est", "x", "ümläut ÜBER straße",
      "the the the the the", "no stop words here whatsoever",
      "mixed 123 numbers 456 and, punct; everywhere!").toDF("text")
    val compiled = graft.ops.TextAnalysis.profile(tricky, "text")
      .select("text", "token_count", "punct_ratio", "stopword_ratio",
        "mean_word_len", "quality_score", "lang_pred", "fingerprint")
    val composed = tricky.select(col("text"),
      T.tokenCount(col("text")).as("token_count"),
      T.punctRatio(col("text")).as("punct_ratio"),
      T.stopwordRatio(col("text"), graft.ops.TextAnalysis.defaultStopwords)
        .as("stopword_ratio"),
      T.meanWordLen(col("text")).as("mean_word_len"),
      T.qualityScore(col("text"), graft.ops.TextAnalysis.defaultStopwords)
        .as("quality_score"),
      T.langId(col("text")).as("lang_pred"),
      T.fingerprint(col("text")).as("fingerprint"))
    val a = compiled.collect().map(_.toSeq).sortBy(_.head.toString)
    val b = composed.collect().map(_.toSeq).sortBy(_.head.toString)
    a.zip(b).foreach { case (x, y) => assert(x == y, s"\n$x\n$y") }
  }

  test("lengthQuantiles: hand-computed interpolation and guard") {
    val df = ((1 to 5).map(i => ("g1", i.toLong)) :+ ("g2", 10L))
      .toDF("src", "len")
    val out = TextAnalysis.lengthQuantiles(df, "len", "src",
      Seq(0.0, 0.25, 0.5, 1.0))
      .select("src", "q", "qval").as[(String, Double, Double)]
      .collect().sortBy(r => (r._1, r._2)).toSeq
    // g1 = [1..5]: p0 -> 1, p25 -> 2, p50 -> 3, p100 -> 5 (linear interp
    // at rank p*(n-1)); g2 single value -> 10 at every quantile
    assert(out == Seq(("g1", 0.0, 1.0), ("g1", 0.25, 2.0), ("g1", 0.5, 3.0),
      ("g1", 1.0, 5.0), ("g2", 0.0, 10.0), ("g2", 0.25, 10.0),
      ("g2", 0.5, 10.0), ("g2", 1.0, 10.0)))
    intercept[IllegalArgumentException] {
      TextAnalysis.lengthQuantiles(df, "len", "src", Seq(1.5))
    }
  }

  test("lengthQuantiles approx mode tracks the exact profile") {
    // the sketch twin must agree with the exact quantiles within the
    // rank-error bound; at accuracy=10000 over 1000 distinct values the
    // permitted rank slack is well under one value step
    val big = (1L to 1000L).map(i => ("g", i)).toDF("src", "len")
    val qs = Seq(0.1, 0.5, 0.9)
    def vals(approx: Boolean) =
      TextAnalysis.lengthQuantiles(big, "len", "src", qs, approx = approx)
        .select("q", "qval").as[(Double, Double)].collect().toMap
    val (exact, sketch) = (vals(false), vals(true))
    qs.foreach { q =>
      assert(math.abs(exact(q) - sketch(q)) <= 2.0,
        s"q=$q exact=${exact(q)} approx=${sketch(q)}")
    }
  }

  test("langidConfusion counts prediction-vs-label cells with recall " +
    "shares") {
    val docs = Seq(
      (1L, "the cat sat on the mat and it is happy", "en"), // → en
      (2L, "zxqv wvut kjhg", "en"),                          // → und
      (3L, "der hund ist von den bergen und nicht hier", "de") // → de
    ).toDF("doc_id", "text", "lang")
    val got = TextAnalysis.langidConfusion(docs, "text", "lang")
      .orderBy("lang", "lang_pred")
      .as[(String, String, Long, Long, Long)].collect().toSeq
    assert(got === Seq(
      ("de", "de", 1L, 1L, 1000000L),
      ("en", "en", 1L, 2L, 500000L),
      ("en", "und", 1L, 2L, 500000L)))
  }

  test("zipfEntropy: hand-computed entropy and slope; degenerate group " +
    "gets a NULL slope") {
    val docs = Seq(
      (1L, "a a a a b b c", "s1"),
      (2L, "only only only", "s2")).toDF("doc_id", "text", "source")
    val rows = TextAnalysis.zipfEntropy(docs, "text", "source", topN = 100)
      .orderBy("source").collect()
    // s1: counts a:4 b:2 c:1, N=7, vocab=3 — replicate the exact
    // micro-unit formulas driver-side
    def e6(x: Double): Long = math.round(1000000.0 * x)
    val s1 = rows(0)
    assert(s1.getAs[Long]("n_tokens") === 7L &&
      s1.getAs[Long]("vocab") === 3L)
    val sE6 = e6(4 * math.log(4)) + e6(2 * math.log(2)) + e6(1 * math.log(1))
    assert(s1.getAs[Long]("entropy_micro") ===
      math.round(1000000.0 * math.log(7.0) - sE6.toDouble / 7.0))
    // ranks (freq desc, tok): a→1, b→2, c→3
    val xs = Seq(e6(math.log(1)), e6(math.log(2)), e6(math.log(3)))
    val ys = Seq(e6(math.log(4)), e6(math.log(2)), e6(math.log(1)))
    val (n, sx, sy) = (3L, xs.sum, ys.sum)
    val sxy = xs.zip(ys).map { case (x, y) => x * y }.sum
    val sxx = xs.map(x => x * x).sum
    val slope = math.round(1000000.0 * (n * sxy - sx * sy).toDouble /
      (n * sxx - sx * sx).toDouble)
    assert(s1.getAs[Long]("zipf_slope_micro") === slope)
    // a healthy-ish decreasing rank curve slopes negative
    assert(slope < 0)
    // s2: one distinct token → degenerate regression → NULL slope, but
    // entropy is exact 0 (all mass on one token)
    val s2 = rows(1)
    assert(s2.getAs[Long]("n_tokens") === 3L &&
      s2.getAs[Long]("vocab") === 1L)
    assert(s2.getAs[Long]("entropy_micro") ===
      math.round(1000000.0 * math.log(3.0) - e6(3 * math.log(3)) / 3.0))
    assert(s2.isNullAt(s2.fieldIndex("zipf_slope_micro")))
    // the scale path (double folds) tracks the deterministic micro-unit
    // path within a few micro units
    val fast = TextAnalysis.zipfEntropy(docs, "text", "source",
        topN = 100, deterministic = false)
      .orderBy("source").collect()
    rows.zip(fast).foreach { case (d, f) =>
      assert(math.abs(d.getAs[Long]("entropy_micro") -
        f.getAs[Long]("entropy_micro")) <= 2)
      if (!d.isNullAt(d.fieldIndex("zipf_slope_micro")))
        assert(math.abs(d.getAs[Long]("zipf_slope_micro") -
          f.getAs[Long]("zipf_slope_micro")) <= 2)
      else assert(f.isNullAt(f.fieldIndex("zipf_slope_micro")))
    }
  }

  test("vocabStats: hand-computed exact stats; HLL sketch within its rsd") {
    val docs = Seq(("s1", "the cat the hat"), ("s1", "the dog"),
      ("s2", ""), ("s2", "one")).toDF("source", "text")
    val rows = TextAnalysis.vocabStats(docs, "text", "source")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(rows("s1") == ((2L, 6L, 4L))) // the,cat,the,hat | the,dog
    assert(rows("s2") == ((2L, 1L, 1L))) // empty doc counts as a doc only
    // sketch mode: same schema, distinct estimate within 3*rsd on a corpus
    // big enough for the sketch to engage
    val big = (0 until 2000).map(i => ("s", s"tok$i tok${i % 7}"))
      .toDF("source", "text")
    val est = TextAnalysis.vocabStats(big, "text", "source", approx = true)
      .head().getLong(3)
    assert(math.abs(est - 2000.0) / 2000.0 < 0.15, s"estimate $est")
  }

  test("bm25: hand-computed Okapi scores, zero-match docs filtered") {
    val docs = Seq((1L, "apple banana apple"), (2L, "banana cherry"),
      (3L, "cherry cherry cherry")).toDF("doc_id", "text")
    val out = TextAnalysis.bm25(docs, "text", "doc_id",
      Seq("apple", "cherry"), k = 10)
      .as[(Long, Double)].collect().toMap
    // independent arithmetic (plain formula, not the Column tree)
    val (n, avgdl, k1, b) = (3.0, 8.0 / 3.0, 1.2, 0.75)
    def idf(df: Double) = math.log((n - df + 0.5) / (df + 0.5) + 1.0)
    def term(tf: Double, dl: Double, df: Double) =
      if (tf == 0) 0.0
      else idf(df) * (tf * (k1 + 1.0)) /
        (tf + k1 * (1.0 - b + b * dl / avgdl))
    val want = Map(
      1L -> (term(2, 3, 1) + term(0, 3, 2)),
      2L -> (term(0, 2, 1) + term(1, 2, 2)),
      3L -> (term(0, 3, 1) + term(3, 3, 2)))
    assert(out.keySet == want.keySet)
    want.foreach { case (id, w) => assert(math.abs(out(id) - w) < 1e-12) }
    // a doc matching no term is filtered out entirely
    val out2 = TextAnalysis.bm25(docs, "text", "doc_id", Seq("apple"), 10)
      .as[(Long, Double)].collect().toMap
    assert(out2.keySet == Set(1L))
    intercept[IllegalArgumentException] {
      TextAnalysis.bm25(docs, "text", "doc_id", Nil, 10)
    }
  }

  test("corpusRollup: levels are consistent and match the per-doc profile") {
    val docs = Seq(
      ("s1", "the cat sat on the mat with a hat"),
      ("s1", "le chat et le chien sont la"),
      ("s2", "the dog ran to the park and back"))
      .toDF("source", "text")
    val out = TextAnalysis.corpusRollup(docs, "text", "source").collect()
      .map(r => (Option(r.getString(0)), Option(r.getString(1)),
        r.getLong(2), r.getLong(3), r.getDouble(4), r.getInt(5)))
    // rollup levels: detail (gid 0), per-source (gid 1), total (gid 3)
    assert(out.map(_._6).toSet == Set(0, 1, 3))
    val total = out.find(_._6 == 3).get
    assert(total._3 == 3L)
    // subtotals reconcile with details — docs and tokens both
    val details = out.filter(_._6 == 0)
    val bySource = out.filter(_._6 == 1).map(r => r._1.get -> (r._3, r._4))
    bySource.foreach { case (src, (nd, nt)) =>
      val d = details.filter(_._1.contains(src))
      assert(d.map(_._3).sum == nd && d.map(_._4).sum == nt)
    }
    assert(total._4 == details.map(_._4).sum)
    // a single-doc detail group's mean equals that doc's profiled quality
    // at micro-unit resolution
    val profiled = TextAnalysis.profile(docs, "text")
      .select("source", "lang_pred", "quality_score").collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    val singles = details.filter(_._3 == 1L)
    assert(singles.nonEmpty)
    singles.foreach { case (src, lang, _, _, mq, _) =>
      val q = profiled.find(p => p._1 == src.get && p._2 == lang.get).get._3
      assert(math.abs(mq - math.floor(q * 1e6 + 0.5) / 1e6) < 1e-9)
    }
  }
}
