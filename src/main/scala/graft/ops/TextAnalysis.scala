package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.{TextFunctions => T}

/**
 * Text analysis over a document corpus: language id, quality scoring, token
 * counting, fingerprinting. All pure Catalyst expressions — one narrow pass
 * over the corpus, no shuffle, which is what makes them viable as a first
 * filter stage over 100 TB of raw text.
 */
object TextAnalysis {

  val defaultStopwords: Seq[String] =
    Seq("the", "a", "an", "of", "and", "or", "to", "in", "is", "that", "it",
      "for", "on", "with", "as", "at", "by", "this")

  /** The metric columns derived from one compiled [[graft.functions.TextStats]]
    * scan — bit-identical to the composed [[graft.functions.TextFunctions]]
    * forms (spec-tested), at one scan + one split per row instead of five. */
  private def derived(st: org.apache.spark.sql.Column): Map[String, org.apache.spark.sql.Column] = {
    val tokenCount = st("token_count")
    val punctRatio = when(st("char_len") === 0, 0.0)
      .otherwise(st("punct_count").cast("double") / st("char_len").cast("double"))
    val stopRatio = when(st("trimmed_empty"), 0.0)
      .otherwise(st("stop_count").cast("double") / st("token_count").cast("double"))
    val meanWordLen = when(st("trimmed_empty"), 0.0)
      .otherwise(st("word_len_sum").cast("double") / st("token_count").cast("double"))
    val lenScore = least(tokenCount.cast("double") / 20.0, lit(1.0))
    val punctScore = greatest(lit(0.0), lit(1.0) - punctRatio * 4.0)
    val stopScore = least(stopRatio * 5.0, lit(1.0))
    Map(
      "token_count" -> tokenCount,
      "punct_ratio" -> punctRatio,
      "stopword_ratio" -> stopRatio,
      "mean_word_len" -> meanWordLen,
      "quality_score" -> ((lenScore + punctScore + stopScore) / 3.0),
      "lang_pred" -> st("lang"))
  }

  /** Full per-document profile in one pass. */
  def profile(docs: DataFrame, textCol: String): DataFrame = {
    graft.functions.TextStats.register(docs.sparkSession)
    graft.functions.FingerprintHash.register(docs.sparkSession)
    val t = col(textCol)
    val d = derived(graft.functions.TextStats.stats(t))
    docs
      .withColumn("token_count", d("token_count"))
      .withColumn("bpe_token_est", T.bpeTokenEstimate(t))
      .withColumn("punct_ratio", d("punct_ratio"))
      .withColumn("stopword_ratio", d("stopword_ratio"))
      .withColumn("mean_word_len", d("mean_word_len"))
      .withColumn("quality_score", d("quality_score"))
      .withColumn("lang_pred", d("lang_pred"))
      .withColumn("fingerprint", graft.functions.FingerprintHash.fingerprint(t))
  }

  /**
   * Language-ID evaluation: the confusion matrix of the stopword-n-gram
   * heuristic's prediction against a labeled language column — the
   * quality check a pipeline runs before trusting lang routing (and the
   * template for evaluating any heuristic classifier against labels).
   * Returns (lang, lang_pred, n, label_total, share_e6); diagonal rows
   * are the per-language recall. The window runs over the |langs|²
   * COUNTS frame, so nothing beyond the profile scan is corpus-scale.
   */
  def langidConfusion(docs: DataFrame, textCol: String,
                      labelCol: String): DataFrame = {
    val counts = profile(docs, textCol)
      .groupBy(col(labelCol).as("lang"), col("lang_pred"))
      .agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("lang")
    counts
      .withColumn("label_total", sum(col("n")).over(w))
      .withColumn("share_e6",
        round(lit(1000000.0) * col("n") / col("label_total")).cast("long"))
  }

  /** Corpus n-gram frequency table: normalized tokens (n=1) or word
    * shingles (n>1), counted corpus-wide, top `k` with a deterministic
    * rank. The vocabulary-statistics pass of tokenizer training — one
    * explode + one map-side-combined aggregation, top-k via
    * TakeOrderedAndProject, so the only full shuffle is the count. */
  def ngramFrequencies(docs: DataFrame, textCol: String,
                       n: Int = 1, k: Int = 1000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(n >= 1, s"n must be >= 1, got $n")
    // every occurrence counts, so no shingle dedup (WordShingles is a
    // set-sketch primitive): the compiled all-occurrence gram pass — one
    // tight loop per row instead of the interpreted transform/slice chain
    graft.functions.WordGrams.register(docs.sparkSession)
    val grams = graft.functions.WordGrams.grams(col(textCol), n)
    Spread.perRowHeavy(docs).select(explode(grams).as("gram"))
      .filter(length(col("gram")) > 0)
      .groupBy("gram").agg(count(lit(1)).as("freq"))
      .orderBy(desc("freq"), col("gram"))
      .limit(k)
      .withColumn("rank",
        row_number().over(Window.orderBy(desc("freq"), col("gram"))))
  }

  /**
   * Exact per-group quantile profile of a numeric column — the corpus
   * length-distribution report every curation run starts from (which
   * cut-offs would a min/max-length gate imply? how skewed is each
   * source?). Uses Spark's EXACT `percentile` aggregate, not
   * percentile_approx: the exact form is a per-group sort of a numeric
   * scalar (cheap — the groups here are sources, the values one long per
   * row), interpolates identically to DuckDB's quantile_cont, and so
   * carries a full hash oracle where the t-digest sketch could not. One
   * hash aggregate; the explode after it touches |groups|·|qs| rows only.
   */
  def lengthQuantiles(df: DataFrame, valueCol: String, groupCol: String,
                      qs: Seq[Double], approx: Boolean = false,
                      accuracy: Int = 10000): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q >= 0.0 && q <= 1.0),
      s"quantiles must be in [0,1], got $qs")
    val qArr = typedlit(qs)
    // approx = the scale twin (same trade as [[vocabStats]]'s HLL mode):
    // percentile_approx's fixed-size sketch state merges map-side, so the
    // shuffle carries one sketch per (partition, group) instead of every
    // value — the right plan when a group's values no longer fit one
    // executor's sort buffer. Exact mode stays the oracle-gated default.
    val agg =
      if (approx) percentile_approx(col(valueCol), qArr, lit(accuracy))
      else percentile(col(valueCol), qArr)
    df.groupBy(col(groupCol))
      .agg(agg.cast("array<double>").as("_qv"))
      .select(col(groupCol), posexplode(col("_qv")).as(Seq("_i", "_v")))
      .select(col(groupCol), element_at(qArr, col("_i") + 1).as("q"),
        round(col("_v"), 6).as("qval"))
  }

  /**
   * BM25 keyword scoring (Okapi, the ranking function behind the
   * reference's OpenSearch keyword search path): per-document score
   * Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b + b·dl/avgdl)) with
   * idf(t) = ln((N−df+0.5)/(df+0.5) + 1).
   *
   * Two passes, both cheap: ONE aggregate computes N, Σdl, and per-term
   * document frequencies (a handful of longs to the driver — query terms
   * are few), then the scoring scan is pure codegen over the token arrays
   * (per-term `size(filter(...))` term frequencies, no explode, no join)
   * feeding a TakeOrderedAndProject. Constants (idf, avgdl) embed as
   * literals computed driver-side with the exact double arithmetic the
   * oracle re-derives in SQL, and terms sum left-to-right in query order,
   * so scores replay bit-identically.
   */
  def bm25(docs: DataFrame, textCol: String, idCol: String,
           queryTerms: Seq[String], k: Int,
           k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "need at least one query term")
    graft.functions.WordGrams.register(docs.sparkSession)
    // Spread: both the stats pass and the scoring pass re-tokenize the
    // corpus; all aggregates are exact long sums, the score is per-row
    val base = Spread.perRowHeavy(docs).select(col(idCol).as("id"),
      graft.functions.WordGrams.grams(col(textCol), 1).as("toks"))
      .withColumn("dl", size(col("toks")))
    val aggCols: Seq[org.apache.spark.sql.Column] =
      sum(col("dl").cast("long")).as("sdl") +:
        queryTerms.zipWithIndex.map { case (t, i) =>
          sum(when(array_contains(col("toks"), t), 1L).otherwise(0L))
            .as(s"df_$i")
        }
    val statRow = base.agg(count(lit(1)).as("n"), aggCols: _*).head()
    val n = statRow.getLong(0)
    require(n > 0, "empty corpus")
    val avgdl = statRow.getLong(1).toDouble / n
    val idfs = queryTerms.indices.map { i =>
      val df = statRow.getLong(2 + i)
      math.log(((n - df).toDouble + 0.5) / (df.toDouble + 0.5) + 1.0)
    }
    val dlD = col("dl").cast("double")
    val score = queryTerms.zip(idfs).map { case (t, idf) =>
      val tf = size(filter(col("toks"), x => x === lit(t))).cast("double")
      lit(idf) * (tf * lit(k1 + 1.0)) /
        (tf + lit(k1) * (lit(1.0 - b) + lit(b) * dlD / lit(avgdl)))
    }.reduceLeft(_ + _)
    base.select(col("id"), score.as("bm25"))
      .filter(col("bm25") > 0.0)
      .orderBy(desc("bm25"), col("id")).limit(k)
  }

  /**
   * Exact corpus heavy hitters (n-grams with frequency ≥ n·φ) via the
   * sketch-then-verify pattern: pass 1 is ONE scalar aggregate combining
   * the total token count with a [[graft.functions.MisraGriesAgg]] sketch
   * (O(capacity) state, map-side partials — no full-vocabulary groupBy);
   * pass 2 recounts ONLY the ≤`capacity` surviving candidates exactly and
   * applies the threshold. Because the sketch provably retains every
   * token with true count > n/(capacity+1) under any partitioning/merge
   * order, the final output is the EXACT heavy-hitter set whenever
   * `capacity·φ > 1` (enforced) — deterministic and oracle-gateable even
   * though the intermediate sketch counts are not.
   *
   * φ is passed as the rational `phiNum/phiDen` so the threshold
   * `ceil(n·φ)` is computed in exact integer arithmetic on both engines.
   */
  def heavyHitters(docs: DataFrame, textCol: String, n: Int,
                   phiNum: Long, phiDen: Long, capacity: Int): DataFrame = {
    require(phiNum > 0 && phiDen > 0, "phi must be positive")
    require(capacity.toLong * phiNum > phiDen,
      s"capacity=$capacity too small for phi=$phiNum/$phiDen: the " +
        "Misra-Gries superset guarantee needs capacity > 1/phi")
    val s = docs.sparkSession
    graft.functions.WordGrams.register(s)
    import org.apache.spark.sql.GraftSqlBridge
    val base = Spread.perRowHeavy(docs).select(
      graft.functions.WordGrams.grams(col(textCol), n).as("toks"))
    val row = base.agg(
      coalesce(sum(size(col("toks")).cast("long")), lit(0L)).as("ntok"),
      GraftSqlBridge.misraGries(col("toks"), capacity).as("sketch")).head()
    val ntok = row.getLong(0)
    val thr = if (ntok == 0) 1L else (ntok * phiNum + phiDen - 1) / phiDen
    val cands = row.getSeq[org.apache.spark.sql.Row](1).map(_.getString(0))
    base.select(explode(col("toks")).as("token"))
      .filter(col("token").isin(cands: _*))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= thr)
      .orderBy(desc("cnt"), col("token"))
  }

  /**
   * Per-key exact heavy hitters — [[heavyHitters]] grouped by a
   * low-cardinality key (source / tenant / language: the per-slice vocab
   * mining a curation pipeline runs). ONE grouped aggregate builds an
   * independent Misra-Gries sketch per key (the superset guarantee holds
   * per group — each group's n bounds its own undercount), candidates
   * come back bounded by keys × capacity, and the exact recount joins the
   * broadcast candidate frame. `maxKeys` enforces the low-cardinality
   * contract — a high-cardinality key would make the driver-side
   * candidate set keys×capacity large (use plain per-key groupBy counts
   * there instead; the sketch buys nothing once keys shard the space).
   */
  def heavyHittersByKey(docs: DataFrame, textCol: String, keyCol: String,
                        n: Int, phiNum: Long, phiDen: Long, capacity: Int,
                        maxKeys: Int = 1000): DataFrame = {
    require(phiNum > 0 && phiDen > 0, "phi must be positive")
    require(capacity.toLong * phiNum > phiDen,
      s"capacity=$capacity too small for phi=$phiNum/$phiDen: the " +
        "Misra-Gries superset guarantee needs capacity > 1/phi")
    val s = docs.sparkSession
    graft.functions.WordGrams.register(s)
    import org.apache.spark.sql.GraftSqlBridge
    // key rides as STRING (numeric tenant ids render deterministically) so
    // the driver-side candidate frame round-trips any key type; NULL keys
    // are excluded explicitly — an equi-join could never match them, and
    // dropping them silently would misread as "no heavy hitters there"
    val base = Spread.perRowHeavy(docs.filter(col(keyCol).isNotNull))
      .select(col(keyCol).cast("string").as("k"),
        graft.functions.WordGrams.grams(col(textCol), n).as("toks"))
    val perKey = base.groupBy(col("k")).agg(
      coalesce(sum(size(col("toks")).cast("long")), lit(0L)).as("ntok"),
      GraftSqlBridge.misraGries(col("toks"), capacity).as("sketch"))
      .collect()
    require(perKey.length <= maxKeys,
      s"heavyHittersByKey saw ${perKey.length} keys, over maxKeys=" +
        s"$maxKeys — the candidate set is keys x capacity driver rows; " +
        "use a plain grouped count for high-cardinality keys")
    val cands = perKey.toIndexedSeq.flatMap { r =>
      val ntok = r.getLong(1)
      val thr = if (ntok == 0) 1L else (ntok * phiNum + phiDen - 1) / phiDen
      r.getSeq[org.apache.spark.sql.Row](2).map(e =>
        (r.getString(0), e.getString(0), thr))
    }
    import s.implicits._
    val candFrame = cands.toDF("k", "token", "thr")
    base.select(col("k"), explode(col("toks")).as("token"))
      .join(broadcast(candFrame), Seq("k", "token"))
      .groupBy(col("k"), col("token"), col("thr"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= col("thr"))
      .select(col("k"), col("token"), col("cnt"))
      .orderBy(col("k"), desc("cnt"), col("token"))
  }

  /**
   * Multi-axis corpus report in ONE aggregation pass: ROLLUP over
   * (source, predicted language) — per-(source, lang) detail rows, per-
   * source subtotals, and the grand total evaluate in a single shuffle
   * (Spark expands grouping sets map-side) instead of one aggregation job
   * per axis. Quality aggregates in integer micro-units
   * (`floor(q·10⁶ + 0.5)` per doc, summed exactly as longs, one division
   * at the end) so the mean is partition-order-independent and the query
   * carries a full hash oracle — a double `avg` would drift with the fold
   * order on both engines.
   */
  def corpusRollup(docs: DataFrame, textCol: String,
                   sourceCol: String): DataFrame = {
    val p = profile(docs, textCol)
      .select(col(sourceCol).as("source"), col("lang_pred"),
        col("token_count"),
        floor(col("quality_score") * 1e6 + 0.5).cast("long").as("qmicro"))
    p.rollup(col("source"), col("lang_pred"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("token_count").cast("long")).as("n_tokens"),
        round(sum(col("qmicro")).cast("double") / count(lit(1)) / 1e6, 6)
          .as("mean_quality"),
        grouping_id().cast("int").as("gid"))
  }

  /**
   * Document-level co-occurrence + PMI over the top-`vocabSize` vocabulary:
   * for every vocab token pair (a < b), the number of docs containing both
   * (df_ab) plus each side's doc frequency and the pointwise mutual
   * information ln(n·df_ab / (df_a·df_b)) — the corpus-association pass
   * behind collocation mining and embedding-evaluation probes.
   *
   * Scale shape: doc frequencies are one map-side-combinable aggregate;
   * the vocabulary is top-K (tiny — broadcast); the quadratic step is the
   * per-doc pair self-join RESTRICTED to vocab tokens, so fan-out is
   * ≤ C(K,2) per doc regardless of document length — the vocab cap is the
   * lever, exactly like the projection's hub cap. Counts are exact
   * integers; PMI is one ln over a rational of exact ints, 6dp.
   */
  def cooccurrenceStats(docs: DataFrame, textCol: String, idCol: String,
                        vocabSize: Int = 20): DataFrame = {
    require(vocabSize >= 2, s"vocabSize must be >= 2, got $vocabSize")
    val dt = Spread.perRowHeavy(docs).select(col(idCol).as("id"),
        explode(array_distinct(filter(split(lower(col(textCol)), "[^a-z]+"),
          t => length(t) > 0))).as("tok"))
    val vocab = dt.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      .orderBy(desc("df"), col("tok")).limit(vocabSize)
    val dv = dt.join(broadcast(vocab), Seq("tok"))
    val nDocs = dt.select(col("id")).distinct()
      .agg(count(lit(1)).as("_n"))
    dv.as("x").join(dv.as("y"),
        col("x.id") === col("y.id") && col("x.tok") < col("y.tok"))
      .groupBy(col("x.tok").as("tok_a"), col("y.tok").as("tok_b"))
      .agg(count(lit(1)).as("df_ab"))
      .join(broadcast(vocab.select(col("tok").as("tok_a"),
        col("df").as("df_a"))), Seq("tok_a"))
      .join(broadcast(vocab.select(col("tok").as("tok_b"),
        col("df").as("df_b"))), Seq("tok_b"))
      .crossJoin(broadcast(nDocs))
      .select(col("tok_a"), col("tok_b"), col("df_a"), col("df_b"),
        col("df_ab"),
        round(log(col("_n").cast("double") * col("df_ab").cast("double") /
          (col("df_a").cast("double") * col("df_b").cast("double"))), 6)
          .as("pmi"))
  }

  /**
   * Per-group corpus vocabulary statistics: document count, token count,
   * distinct-token count. `approx = false` uses Spark's exact
   * count(DISTINCT) (two-phase expand — carries a full hash oracle);
   * `approx = true` swaps in the HyperLogLog++ sketch
   * (`approx_count_distinct`, relative error `rsd`) — the 100 TB path,
   * where the distinct count per group is a fixed-size sketch merged
   * map-side instead of a shuffle of every distinct token. Same schema
   * either way, so pipelines flip the flag by scale.
   */
  /**
   * Corpus-health statistics per group: unigram-distribution entropy and
   * the Zipf rank-frequency slope — the two "does this source look like
   * natural language" diagnostics (entropy collapses on template floods,
   * a healthy Zipf slope sits near −1; crawler traps and machine-generated
   * text bend it). Returns per group
   * (group, n_tokens, vocab, entropy_micro, zipf_slope_micro).
   *
   * Determinism discipline (the PageRank/micro-unit rule): every
   * order-dependent double sum is replaced by a sum of per-row INTEGER
   * micro-units — entropy's Σc·ln(c) folds as Σ round(1e6·c·ln c) (exact
   * longs commute), and the Zipf least-squares terms x=ln(rank),
   * y=ln(count) quantize to e6 before Σx, Σy, Σxy, Σx² (products of two
   * e6-longs stay < 2⁶³ for topN ≤ ~1000). The final entropy
   * H = ln(N) − Σc·ln(c)/N and slope
   * (n·Σxy − ΣxΣy)/(n·Σx² − (Σx)²) are then single fixed-order IEEE
   * expressions over exact integers — bit-identical in SQL. Slope is NULL
   * when a group has < 2 ranked terms (degenerate denominator).
   *
   * Scale shape: one (group, token) count aggregate (map-side combined),
   * one TopKAgg heap for the top-`topN` ranks (no corpus-wide window
   * sort), two small per-group aggregates — nothing after the first
   * shuffle scales with the corpus.
   *
   * Integer-overflow bounds of the deterministic mode (the vocabStats/
   * pageRank two-mode contract): the entropy micro-sum Σ round(1e6·c·ln c)
   * stays inside a long only while a group has ≲ 10¹⁰ tokens, and the
   * slope cross-terms bound topN at ~200 under worst-case counts. Past
   * either bound, profile with `deterministic = false`: plain double
   * sums — partition-order-dependent in the last ulps, which a health
   * metric tolerates and an exact-hash oracle does not.
   */
  def zipfEntropy(docs: DataFrame, textCol: String, groupCol: String,
                  topN: Int = 100, deterministic: Boolean = true): DataFrame = {
    require(topN >= 2 && topN <= (if (deterministic) 200 else 100000),
      s"topN $topN out of range for deterministic=$deterministic " +
        "(micro-unit cross-terms overflow past ~200; use " +
        "deterministic = false for wider fits)")
    graft.functions.WordGrams.register(docs.sparkSession)
    val counts = Spread.perRowHeavy(docs).select(col(groupCol).as("grp"),
        explode(graft.functions.WordGrams.grams(col(textCol), 1)).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy(col("grp"), col("tok")).agg(count(lit(1)).as("c"))
    val cD = col("c").cast("double")
    val ranked = graft.functions.TopKAgg.topKPerKeyRanked(counts,
      Seq("grp"), Seq(negate(col("c")), col("tok")), topN, "rank")
    if (deterministic) {
      val ent = counts.groupBy(col("grp")).agg(
        sum(col("c")).as("n_tokens"),
        count(lit(1)).as("vocab"),
        sum(round(lit(1000000.0) * cD * log(cD)).cast("long")).as("_s_e6"))
      val terms = ranked.select(col("grp"),
        round(lit(1000000.0) * log(col("rank").cast("double")))
          .cast("long").as("x"),
        round(lit(1000000.0) * log(col("c").cast("double")))
          .cast("long").as("y"))
      val z = terms.groupBy(col("grp")).agg(
        count(lit(1)).as("_n"), sum(col("x")).as("_sx"),
        sum(col("y")).as("_sy"), sum(col("x") * col("y")).as("_sxy"),
        sum(col("x") * col("x")).as("_sxx"))
      val den = col("_n") * col("_sxx") - col("_sx") * col("_sx")
      val num = col("_n") * col("_sxy") - col("_sx") * col("_sy")
      ent.join(z, Seq("grp"))
        .select(col("grp").as(groupCol), col("n_tokens"), col("vocab"),
          round(lit(1000000.0) * log(col("n_tokens").cast("double"))
            - col("_s_e6").cast("double") / col("n_tokens").cast("double"))
            .cast("long").as("entropy_micro"),
          when(den =!= 0,
            round(lit(1000000.0) * num.cast("double") / den.cast("double"))
              .cast("long")).as("zipf_slope_micro"))
    } else {
      // scale path: plain double folds — no overflow cliff, same outputs
      // to the micro unit up to summation-order ulps
      val ent = counts.groupBy(col("grp")).agg(
        sum(col("c")).as("n_tokens"),
        count(lit(1)).as("vocab"),
        sum(cD * log(cD)).as("_s"))
      val terms = ranked.select(col("grp"),
        log(col("rank").cast("double")).as("x"),
        log(col("c").cast("double")).as("y"))
      val z = terms.groupBy(col("grp")).agg(
        count(lit(1)).cast("double").as("_n"), sum(col("x")).as("_sx"),
        sum(col("y")).as("_sy"), sum(col("x") * col("y")).as("_sxy"),
        sum(col("x") * col("x")).as("_sxx"))
      val den = col("_n") * col("_sxx") - col("_sx") * col("_sx")
      val num = col("_n") * col("_sxy") - col("_sx") * col("_sy")
      ent.join(z, Seq("grp"))
        .select(col("grp").as(groupCol), col("n_tokens"), col("vocab"),
          round(lit(1000000.0) * (log(col("n_tokens").cast("double"))
            - col("_s") / col("n_tokens").cast("double")))
            .cast("long").as("entropy_micro"),
          when(abs(den) > 1e-12,
            round(lit(1000000.0) * num / den).cast("long"))
            .as("zipf_slope_micro"))
    }
  }

  def vocabStats(docs: DataFrame, textCol: String, groupCol: String,
                 approx: Boolean = false, rsd: Double = 0.05): DataFrame = {
    graft.functions.WordGrams.register(docs.sparkSession)
    val toks = Spread.perRowHeavy(docs).select(col(groupCol).as("grp"),
      explode(graft.functions.WordGrams.grams(col(textCol), 1)).as("tok"))
      .filter(length(col("tok")) > 0)
    val distinctAgg =
      if (approx) approx_count_distinct(col("tok"), rsd)
      else countDistinct(col("tok"))
    val tokAgg = toks.groupBy("grp").agg(count(lit(1)).as("n_tokens"),
      distinctAgg.as("distinct_tokens"))
    docs.groupBy(col(groupCol).as("grp")).agg(count(lit(1)).as("n_docs"))
      .join(tokAgg, Seq("grp"), "left")
      .select(col("grp").as(groupCol), col("n_docs"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("distinct_tokens"), lit(0L)).as("distinct_tokens"))
  }
}
