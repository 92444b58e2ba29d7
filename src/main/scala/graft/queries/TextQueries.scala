package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.{TextFunctions => T}
import graft.model.Ids
import graft.ops.TextAnalysis

/**
 * Text analysis inventory (SURVEY.md §2.9 scalar functions, §2.11 statement
 * diversity, extended corpus statistics) over the documents table.
 *
 * Every sketch (minhash, fingerprints) derives from md5, so the DuckDB
 * oracle recomputes identical signatures from first principles — the
 * strongest possible cross-engine check.
 */
object TextQueries {
  import Tables.t

  /** DuckDB fragment: the searchStr normalization of a column. */
  private[queries] def normSql(c: String): String =
    s"lower(trim(regexp_replace(regexp_replace($c,'[[:punct:]]',' ','g'),'\\s+',' ','g')))"

  /** DuckDB fragment: 60-bit positive md5 hash of an expression. */
  private[queries] def h60Sql(e: String): String =
    s"CAST(('0x'||substr(md5($e),1,15)) AS BIGINT)"

  /** DuckDB fragment: distinct 3-token shingles of pre-split tokens `toks`. */
  private[queries] def shinglesSql(toks: String): String =
    s"list_distinct(list_transform(range(greatest(len($toks)-3,0)+1), i -> array_to_string(list_slice($toks, i+1, i+3),' ')))"

  private def inListSql(words: Seq[String]): String =
    words.map(w => s"'$w'").mkString("[", ",", "]")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // §2.9 string normalization trio + §2.12 deterministic md5 ids.
    "q_search_normalize" -> ((s, dir) => {
      t(s, dir, "part").select(
        col("p_partkey"),
        T.searchStr(col("p_name")).as("search_str"),
        T.labelFrom(col("p_name")).as("label"),
        T.relationshipName(col("p_name")).as("rel_name"),
        Ids.entityId(T.searchStr(col("p_name")), col("p_type"), lit("t0"))
          .as("entity_id"))
        .orderBy(col("p_partkey"))
    }),

    // extended: one-pass text profile (token stats, quality, lang-id, fingerprint).
    "q_text_profile" -> ((s, dir) => {
      TextAnalysis.profile(t(s, dir, "documents"), "text")
        .select(col("doc_id"), col("token_count"), col("bpe_token_est"),
          round(col("punct_ratio"), 6).as("punct_ratio"),
          round(col("stopword_ratio"), 6).as("stopword_ratio"),
          round(col("mean_word_len"), 6).as("mean_word_len"),
          round(col("quality_score"), 6).as("quality_score"),
          col("lang_pred"), col("fingerprint"))
        .orderBy(col("doc_id"))
    }),

    // extended: PII scrub — emails/phones/long digit runs redacted in one
    // narrow regex pass over synthesized contact lines.
    "q_redact_pii" -> ((s, dir) => {
      t(s, dir, "documents")
        .withColumn("dirty", concat(col("text"),
          lit(" contact user"), col("doc_id"), lit("@example.com or +1 (555) 123-4567 ref 123456789012")))
        .select(col("doc_id"), T.redactPii(col("dirty")).as("clean"))
        .orderBy(col("doc_id"))
    }),

    // extended: top-vocab co-occurrence + PMI — doc frequencies, pair doc
    // frequencies restricted to the broadcast top-20 vocabulary (fan-out
    // ≤ C(20,2) per doc — the vocab cap is the lever), exact integer
    // counts, one ln over a rational of exact ints.
    "q_cooccurrence" -> ((s, dir) => {
      TextAnalysis.cooccurrenceStats(t(s, dir, "documents"), "text",
          "doc_id", vocabSize = 20)
        .orderBy(col("tok_a"), col("tok_b"))
    }),

    // extended: corpus vocabulary stats — bigram frequency top-200 (the
    // tokenizer-training counting pass; every occurrence counts).
    "q_ngram_freq" -> ((s, dir) => {
      TextAnalysis.ngramFrequencies(t(s, dir, "documents"), "text",
        n = 2, k = 200)
        .orderBy(col("rank"))
    }),

    // extended: exact bigram heavy hitters via the Misra-Gries sketch +
    // exact-recount verify pass (TextAnalysis.heavyHitters). The sketch's
    // superset guarantee makes the final set exact, so the gate is a plain
    // frequency oracle; eviction/merge behavior under capacity pressure is
    // proven in MisraGriesSpec on skewed data.
    "q_heavy_hitters" -> ((s, dir) => {
      TextAnalysis.heavyHitters(t(s, dir, "documents"), "text", n = 2,
        phiNum = 1, phiDen = 800, capacity = 1600)
    }),

    // extended: per-source bigram heavy hitters — one grouped aggregate
    // of independent Misra-Gries sketches (guarantee holds per group),
    // broadcast candidate frame, exact recount (the tenant-scoped vocab
    // mining form of q_heavy_hitters).
    "q_heavy_hitters_by_source" -> ((s, dir) => {
      TextAnalysis.heavyHittersByKey(t(s, dir, "documents"), "text",
          "source", n = 2, phiNum = 1, phiDen = 400, capacity = 1600)
        .withColumnRenamed("k", "source")
    }),

    // extended: inverted-index build (the OpenSearch/Lucene indexing step
    // behind the keyword path): per-(term, doc) postings rows with term
    // frequency plus the term's document frequency — explode, two hash
    // aggregates, broadcast df join (bucket by term at scale).
    "q_postings" -> ((s, dir) => {
      graft.functions.WordGrams.register(s)
      val post = t(s, dir, "documents")
        .select(col("doc_id"),
          explode(graft.functions.WordGrams.grams(col("text"), 1))
            .as("token"))
        .groupBy(col("token"), col("doc_id"))
        .agg(count(lit(1)).as("tf"))
      val dfreq = post.groupBy(col("token"))
        .agg(count(lit(1)).as("df"))
      // vocabulary-sized frame: broadcast only under the counted cap
      // (gatedBroadcast falls back to a shuffle join on a huge vocab)
      post.join(graft.ops.Joins.gatedBroadcast(dfreq, dfreq.count()), "token")
        .select(col("token"), col("doc_id"), col("tf"), col("df"))
        .orderBy(col("token"), col("doc_id"))
    }),

    // extended: BM25 keyword scoring (the reference's OpenSearch keyword
    // path) — one stats aggregate, then a codegen scoring scan + top-k.
    "q_bm25" -> ((s, dir) => {
      TextAnalysis.bm25(t(s, dir, "documents"), "text", "doc_id",
        queryTerms = Seq("filter", "vector", "merge"), k = 20)
        .select(col("id").as("doc_id"), round(col("bm25"), 6).as("bm25"))
    }),

    // extended: multi-axis corpus report — ROLLUP over (source, language)
    // in ONE aggregation pass (detail + per-source subtotal + grand total);
    // quality means in integer micro-units so every level hash-matches.
    "q_corpus_rollup" -> ((s, dir) => {
      TextAnalysis.corpusRollup(t(s, dir, "documents"), "text", "source")
        .orderBy(col("gid"), col("source"), col("lang_pred"))
    }),

    // extended: per-source vocabulary statistics (exact count-distinct
    // mode; the HLL sketch twin is spec-gated for error bounds).
    "q_vocab_stats" -> ((s, dir) => {
      TextAnalysis.vocabStats(t(s, dir, "documents"), "text", "source")
        .orderBy(col("source"))
    }),

    // extended: language-ID evaluation — confusion matrix of the
    // stopword-heuristic prediction vs the labeled lang column, with
    // per-label recall shares (TextAnalysis.langidConfusion).
    "q_langid_confusion" -> ((s, dir) => {
      TextAnalysis.langidConfusion(t(s, dir, "documents"), "text", "lang")
        .orderBy(col("lang"), col("lang_pred"))
    }),

    // extended: corpus-health stats — per-source unigram entropy + Zipf
    // rank-frequency slope, every order-dependent fold replaced by exact
    // integer micro-unit sums (TextAnalysis.zipfEntropy).
    "q_zipf_entropy" -> ((s, dir) => {
      TextAnalysis.zipfEntropy(t(s, dir, "documents"), "text", "source",
          topN = 100)
        .orderBy(col("source"))
    }),

    // extended: crawl-URL canonicalization + URL-level dedup grouping —
    // templates 0 and 1 differ in case/www/port/dup-slashes/tracking-
    // params/param-order/fragment yet canonicalize to the SAME page key
    // (n_same = 2), template 3 is a non-URL passthrough
    // (functions.TextFunctions.canonicalUrl).
    "q_url_canonical" -> ((s, dir) => {
      val url = when(col("doc_id") % 4 === 0,
          concat(lit("HTTPS://WWW.Example.COM:443/item//"),
            expr("doc_id div 4"),
            lit("/?utm_source=x&b=2&a=1#frag")))
        .when(col("doc_id") % 4 === 1,
          concat(lit("https://example.com/item/"),
            expr("doc_id div 4"), lit("?a=1&b=2")))
        .when(col("doc_id") % 4 === 2,
          concat(lit("http://Site.ORG:80/p"), col("doc_id")))
        .otherwise(concat(lit("plain text "), col("doc_id")))
      val canon = graft.functions.TextFunctions.canonicalUrl(url)
      t(s, dir, "documents").select(col("doc_id"), canon.as("canon"))
        .withColumn("n_same", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("canon"))))
        .orderBy(col("doc_id"))
    }),

    // §2.5 TF-IDF scoring (RerankStatements) against a fixed query. The
    // corpus size n is a scalar aggregate folded into the plan — no
    // driver-side count() during plan build.
    "q_tfidf_rerank" -> ((s, dir) => {
      val terms = Seq("spark", "join", "stream", "table")
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), split(T.searchStr(col("text")), "\\s+").as("toks"))
      val nDf = docs.agg(count(lit(1)).cast("double").as("n"))
      val termsDf = s.createDataFrame(terms.map(Tuple1(_))).toDF("term")
      val termDf = docs.crossJoin(broadcast(termsDf))
        .withColumn("tf", size(filter(col("toks"), x => x === col("term"))))
      val dfCounts = termDf.filter(col("tf") > 0)
        .groupBy(col("term")).agg(count(lit(1)).as("df"))
      termDf.join(dfCounts, Seq("term"))
        .crossJoin(broadcast(nDf))
        .groupBy(col("doc_id"))
        .agg(round(sum(col("tf") * log(col("n") / col("df"))), 6).as("score"))
        .orderBy(col("doc_id"))
    }),

    // §2.11 statement diversity at scale (statement_diversity.py:96-240):
    // the production shape — minhash-LSH banded candidates, exact
    // shingle-jaccard verification at 0.5, later-id dominance — over the
    // WHOLE corpus. The oracle replays the full sketch pipeline (md5-based
    // minhash signatures, banding, verify, anti-join); no crossJoin, no
    // doc_id bound.
    "q_statement_diversity" -> ((s, dir) => {
      graft.ops.Dedup.diversityFilter(
        t(s, dir, "documents"), "text", "doc_id", threshold = 0.5)
        .orderBy(col("doc_id"))
    }),

    // §2.11 StatementDiversity, the reference's EXACT scorer: sklearn-
    // parity tfidf vectors (raw tf, smooth idf, l2 rows) + cosine at the
    // 0.975 default (statement_diversity.py:96-240), candidates from the
    // exact AllPairs prefix filter, dominance = later id drops.
    "q_statement_diversity_tfidf" -> ((s, dir) => {
      graft.ops.Dedup.diversityFilterTfidf(
        t(s, dir, "documents"), "text", "doc_id", threshold = 0.975)
        .orderBy(col("doc_id"))
    }),

    // extended: Unicode NFC normalization (codegen'd Catalyst expression,
    // functions.UnicodeNormalize) — the canonicalization every
    // multilingual pipeline runs before hashing/dedup. Combining marks
    // are injected per doc_id%3 (grave over every 'a' / an appended
    // decomposed phrase / untouched ASCII exercising the zero-alloc fast
    // path); the oracle replays with DuckDB's nfc_normalize — both
    // implement UAX #15, so lengths and md5 must agree exactly.
    "q_nfc_normalize" -> ((s, dir) => {
      graft.GraftExtensions.registerAll(s)
      val injected = t(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 3 === 0,
          regexp_replace(col("text"), "a", "à"))
          .when(col("doc_id") % 3 === 1,
            concat(col("text"), lit(" naïve élève")))
          .otherwise(col("text")).as("raw"))
      val nfc = graft.functions.UnicodeNormalize
        .unicodeNormalize(col("raw"), "NFC")
      injected.select(col("doc_id"),
          length(col("raw")).as("len_raw"),
          length(nfc).as("len_nfc"),
          md5(nfc.cast("binary")).as("h_nfc"))
        .orderBy(col("doc_id"))
    }),

    // extended: exact per-source length-quantile profile (the cut-off
    // report a min/max-length gate is tuned from). Exact percentile, not
    // t-digest — interpolates identically to DuckDB quantile_cont.
    "q_length_quantiles" -> ((s, dir) => {
      TextAnalysis.lengthQuantiles(t(s, dir, "documents"), "n_chars",
        "source", Seq(0.1, 0.25, 0.5, 0.75, 0.9, 0.99))
        .orderBy(col("source"), col("q"))
    }),

    // §2.13 fuzzy string entity linking (levenshtein ratio, top-k per query).
    "q_fuzzy_link" -> ((s, dir) => {
      val qs = Seq("small ringg", "red widgit", "blue bolt", "hot gearz")
      val queries = s.createDataFrame(qs.map(Tuple1(_))).toDF("query")
      val parts = t(s, dir, "part").select(col("p_partkey"), col("p_name"))
      val scored = queries.crossJoin(parts)
        .withColumn("ratio",
          lit(1.0) - levenshtein(col("query"), col("p_name")).cast("double") /
            greatest(length(col("query")), length(col("p_name"))).cast("double"))
      val w = Window.partitionBy(col("query"))
        .orderBy(desc("ratio"), col("p_name"), col("p_partkey"))
      scored.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 2)
        .select(col("query"), col("p_partkey"), col("p_name"),
          round(col("ratio"), 6).as("ratio"), col("rk"))
        .orderBy(col("query"), col("rk"))
    }))

  private val profileOracle: String = {
    val stops = inListSql(TextAnalysis.defaultStopwords)
    val langCases = T.langStopwords.toSeq.sortBy(_._1).map { case (code, ws) =>
      s"len(list_filter(toks, t -> list_contains(${inListSql(ws)}, t))) AS s_$code"
    }.mkString(", ")
    val langCodes = T.langStopwords.keys.toSeq.sorted
    val maxExpr = s"greatest(${langCodes.map("s_" + _).mkString(",")})"
    val winner = langCodes.map(c => s"WHEN s_$c = m THEN '$c'")
      .mkString("CASE WHEN m <= 0 THEN 'und' ", " ", " END")
    s"""WITH norm AS (
       |  SELECT doc_id, text, ${normSql("text")} AS nrm FROM documents),
       |tok AS (
       |  SELECT doc_id, text, string_split_regex(nrm,'\\s+') AS toks FROM norm),
       |stats AS (
       |  SELECT doc_id, text, toks,
       |    len(toks) AS token_count,
       |    len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS bpe_token_est,
       |    CAST(length(regexp_replace(text,'[^[:punct:]]','','g')) AS DOUBLE)/length(text) AS punct_ratio,
       |    CAST(len(list_filter(toks, t -> list_contains($stops, t))) AS DOUBLE)/len(toks) AS stopword_ratio,
       |    CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)/len(toks) AS mean_word_len,
       |    $langCases,
       |    list_min(list_transform(${shinglesSql("toks")}, sh -> ${h60Sql("sh")})) AS fingerprint
       |  FROM tok),
       |lang AS (
       |  SELECT *, $maxExpr AS m FROM stats)
       |SELECT doc_id, CAST(token_count AS INT) AS token_count,
       |  CAST(bpe_token_est AS INT) AS bpe_token_est,
       |  round(punct_ratio, 6) AS punct_ratio,
       |  round(stopword_ratio, 6) AS stopword_ratio,
       |  round(mean_word_len, 6) AS mean_word_len,
       |  round((least(CAST(token_count AS DOUBLE)/20.0, 1.0)
       |       + greatest(0.0, 1.0 - punct_ratio*4.0)
       |       + least(stopword_ratio*5.0, 1.0))/3.0, 6) AS quality_score,
       |  $winner AS lang_pred,
       |  fingerprint
       |FROM lang ORDER BY doc_id""".stripMargin
  }

  /** ROLLUP replay sharing [[profileOracle]]'s per-doc derivations: the
    * same lang winner and quality formula, quality in floor(q·10⁶+0.5)
    * micro-units, then GROUP BY ROLLUP with the same (source-high,
    * lang-low) GROUPING bit order both engines use. */
  private val corpusRollupOracle: String = {
    val stops = inListSql(TextAnalysis.defaultStopwords)
    val langCases = T.langStopwords.toSeq.sortBy(_._1).map { case (code, ws) =>
      s"len(list_filter(toks, t -> list_contains(${inListSql(ws)}, t))) AS s_$code"
    }.mkString(", ")
    val langCodes = T.langStopwords.keys.toSeq.sorted
    val maxExpr = s"greatest(${langCodes.map("s_" + _).mkString(",")})"
    val winner = langCodes.map(c => s"WHEN s_$c = m THEN '$c'")
      .mkString("CASE WHEN m <= 0 THEN 'und' ", " ", " END")
    s"""WITH norm AS (
       |  SELECT source, text, ${normSql("text")} AS nrm FROM documents),
       |tok AS (
       |  SELECT source, text, string_split_regex(nrm,'\\s+') AS toks
       |  FROM norm),
       |stats AS (
       |  SELECT source, toks,
       |    len(toks) AS token_count,
       |    CAST(length(regexp_replace(text,'[^[:punct:]]','','g')) AS DOUBLE)
       |      / length(text) AS punct_ratio,
       |    CAST(len(list_filter(toks, t -> list_contains($stops, t)))
       |      AS DOUBLE) / len(toks) AS stopword_ratio,
       |    $langCases
       |  FROM tok),
       |lang AS (SELECT *, $maxExpr AS m FROM stats),
       |per AS (
       |  SELECT source, $winner AS lang_pred, token_count,
       |    CAST(floor((least(CAST(token_count AS DOUBLE)/20.0, 1.0)
       |        + greatest(0.0, 1.0 - punct_ratio*4.0)
       |        + least(stopword_ratio*5.0, 1.0))/3.0 * 1e6 + 0.5)
       |      AS BIGINT) AS qmicro
       |  FROM lang)
       |SELECT source, lang_pred,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(token_count) AS BIGINT) AS n_tokens,
       |  round(CAST(sum(qmicro) AS DOUBLE)/count(*)/1e6, 6) AS mean_quality,
       |  CAST(GROUPING(source, lang_pred) AS INT) AS gid
       |FROM per GROUP BY ROLLUP (source, lang_pred)
       |ORDER BY gid, source, lang_pred""".stripMargin
  }

  /**
   * BM25 replay: same normalized tokens, same one-aggregate corpus stats
   * (N, Σdl, per-term df), same score expression tree — the Scala-side
   * constants (k1+1, 1−b) interpolate via Double.toString, which DuckDB
   * parses back to the identical double, and the per-term additions run
   * left-to-right in query order. ln() is libm on both sides; the 6dp
   * round absorbs any last-ulp drift.
   */
  /** WITH-body (tok/base/c/s CTEs) ending in s(doc_id, bm25 UNROUNDED) —
    * shared by the bm25 gate and the RRF fusion oracle in VectorQueries
    * (which ranks on the unrounded score exactly like the engine). */
  private[queries] def bm25Cte(terms: Seq[String],
                               k1: Double, b: Double): String = {
    val dfCols = terms.indices.map { i =>
      s"""CAST(sum(CASE WHEN list_contains(toks, '${terms(i)}')
         |  THEN 1 ELSE 0 END) AS BIGINT) AS df$i""".stripMargin
    }.mkString(",\n    ")
    val termExprs = terms.zipWithIndex.map { case (t, i) =>
      val tf = s"CAST(len(list_filter(toks, x -> x = '$t')) AS DOUBLE)"
      s"""(ln((CAST(n - df$i AS DOUBLE) + 0.5)
         |     / (CAST(df$i AS DOUBLE) + 0.5) + 1.0)
         |  * ($tf * ${k1 + 1.0})
         |  / ($tf + $k1 * (${1.0 - b} + $b * CAST(dl AS DOUBLE)
         |       / (CAST(sdl AS DOUBLE) / n))))""".stripMargin
    }.mkString("\n  + ")
    s"""tok AS (
       |  SELECT doc_id, string_split_regex(${normSql("text")},'\\s+') AS toks
       |  FROM documents),
       |base AS (SELECT doc_id, toks, len(toks) AS dl FROM tok),
       |c AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(dl) AS BIGINT) AS sdl,
       |    $dfCols
       |  FROM base),
       |s AS (
       |  SELECT doc_id,
       |  $termExprs AS bm25
       |  FROM base CROSS JOIN c)""".stripMargin
  }

  private def bm25Oracle(terms: Seq[String], k: Int,
                         k1: Double, b: Double): String =
    s"""WITH ${bm25Cte(terms, k1, b)}
       |SELECT doc_id, round(bm25, 6) AS bm25 FROM s
       |WHERE bm25 > 0.0 ORDER BY bm25 DESC, doc_id LIMIT $k""".stripMargin

  val oracles: Map[String, String] = Map(

    "q_bm25" -> bm25Oracle(Seq("filter", "vector", "merge"), k = 20,
      k1 = 1.2, b = 0.75),

    "q_corpus_rollup" -> corpusRollupOracle,

    "q_vocab_stats" ->
      s"""WITH toks AS (
         |  SELECT source,
         |    unnest(string_split_regex(${normSql("text")}, '\\s+')) AS tok
         |  FROM documents),
         |tv AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n_tokens,
         |    CAST(count(DISTINCT tok) AS BIGINT) AS distinct_tokens
         |  FROM toks WHERE tok <> '' GROUP BY source),
         |dv AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs
         |  FROM documents GROUP BY source)
         |SELECT dv.source, n_docs,
         |  COALESCE(n_tokens, 0) AS n_tokens,
         |  COALESCE(distinct_tokens, 0) AS distinct_tokens
         |FROM dv LEFT JOIN tv USING (source) ORDER BY source""".stripMargin,
    "q_search_normalize" -> {
      val norm = normSql("p_name")
      s"""SELECT p_partkey,
         |  $norm AS search_str,
         |  array_to_string(list_transform(string_split($norm,' '), w -> upper(substr(w,1,1))||substr(w,2)),'') AS label,
         |  upper(regexp_replace($norm,'\\s+','_','g')) AS rel_name,
         |  'e:'||substr(md5($norm||'|'||p_type||'|'||'t0'),1,8) AS entity_id
         |FROM part ORDER BY p_partkey""".stripMargin
    },

    // confusion replay: the SAME stopword-count winner CASE the profile
    // oracle uses (first match in sorted code order breaks ties), then
    // plain counts + per-label totals.
    "q_langid_confusion" -> {
      val langCases = T.langStopwords.toSeq.sortBy(_._1).map {
        case (code, ws) =>
          s"len(list_filter(toks, t -> list_contains(${inListSql(ws)}, t))) AS s_$code"
      }.mkString(", ")
      val langCodes = T.langStopwords.keys.toSeq.sorted
      val maxExpr = s"greatest(${langCodes.map("s_" + _).mkString(",")})"
      val winner = langCodes.map(c => s"WHEN s_$c = m THEN '$c'")
        .mkString("CASE WHEN m <= 0 THEN 'und' ", " ", " END")
      s"""WITH tok AS (
         |  SELECT lang, string_split_regex(${normSql("text")},'\\s+') AS toks
         |  FROM documents),
         |s AS (SELECT lang, $langCases FROM tok),
         |l AS (SELECT *, $maxExpr AS m FROM s),
         |p AS (SELECT lang, $winner AS lang_pred FROM l),
         |c AS (SELECT lang, lang_pred, count(*) AS n FROM p
         |      GROUP BY lang, lang_pred),
         |t2 AS (SELECT lang, CAST(sum(n) AS BIGINT) AS label_total
         |       FROM c GROUP BY lang)
         |SELECT c.lang, c.lang_pred, c.n, t2.label_total,
         |  CAST(round(CAST(1000000.0 AS DOUBLE) * c.n / t2.label_total, 0)
         |    AS BIGINT) AS share_e6
         |FROM c JOIN t2 USING (lang)
         |ORDER BY lang, lang_pred""".stripMargin
    },

    "q_text_profile" -> profileOracle,

    // co-occurrence replay: distinct (doc, token) presence, top-20 vocab by
    // (df desc, tok), per-doc pair join, same multiply-then-divide-then-ln
    // arithmetic order as the engine.
    "q_cooccurrence" ->
      """WITH dt AS (
        |  SELECT DISTINCT doc_id, tok FROM (
        |    SELECT doc_id, unnest(list_filter(
        |      string_split_regex(lower(text), '[^a-z]+'),
        |      t -> t <> '')) AS tok
        |    FROM documents)),
        |v AS (
        |  SELECT tok, count(*) AS df FROM dt GROUP BY tok
        |  ORDER BY df DESC, tok LIMIT 20),
        |dv AS (SELECT dt.doc_id, dt.tok FROM dt JOIN v USING (tok)),
        |n AS (SELECT count(DISTINCT doc_id) AS n FROM dt),
        |p AS (
        |  SELECT x.tok AS tok_a, y.tok AS tok_b, count(*) AS df_ab
        |  FROM dv x JOIN dv y ON x.doc_id = y.doc_id AND x.tok < y.tok
        |  GROUP BY 1, 2)
        |SELECT tok_a, tok_b, va.df AS df_a, vb.df AS df_b, p.df_ab,
        |  round(ln(CAST(n.n AS DOUBLE) * CAST(p.df_ab AS DOUBLE)
        |    / (CAST(va.df AS DOUBLE) * CAST(vb.df AS DOUBLE))), 6) AS pmi
        |FROM p JOIN v va ON p.tok_a = va.tok
        |       JOIN v vb ON p.tok_b = vb.tok, n
        |ORDER BY tok_a, tok_b""".stripMargin,

    "q_redact_pii" ->
      s"""SELECT doc_id,
         |  regexp_replace(
         |    regexp_replace(
         |      regexp_replace(
         |        text || ' contact user' || doc_id ||
         |          '@example.com or +1 (555) 123-4567 ref 123456789012',
         |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
         |      '\\+?[0-9]{1,3}[ ().\\-][0-9().\\- ]{5,}[0-9]', '<PHONE>', 'g'),
         |    '\\b[0-9]{9,}\\b', '<NUMBER>', 'g') AS clean
         |FROM documents ORDER BY doc_id""".stripMargin,

    // Heavy-hitter replay: the engine's candidate pruning is invisible to
    // the result (superset guarantee), so the oracle is the brute-force
    // frequency filter with the same exact-integer ceil threshold.
    "q_heavy_hitters" ->
      s"""WITH toks AS (
         |  SELECT string_split_regex(${normSql("text")},'\\s+') AS toks
         |  FROM documents),
         |grams AS (
         |  SELECT unnest(list_transform(range(0, greatest(len(toks)-2, -1)+1),
         |    i -> toks[i+1]||' '||toks[i+2])) AS token
         |  FROM toks WHERE len(toks) >= 2),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM grams),
         |cnt AS (
         |  SELECT token, CAST(count(*) AS BIGINT) AS cnt
         |  FROM grams GROUP BY token)
         |SELECT token, cnt FROM cnt, tot
         |WHERE cnt >= (n * 1 + 799) // 800
         |ORDER BY cnt DESC, token""".stripMargin,

    "q_postings" ->
      s"""WITH toks AS (
         |  SELECT doc_id, string_split_regex(${normSql("text")},'\\s+') AS toks
         |  FROM documents),
         |tok AS (SELECT doc_id, unnest(toks) AS token FROM toks),
         |post AS (
         |  SELECT token, doc_id, CAST(count(*) AS BIGINT) AS tf
         |  FROM tok GROUP BY token, doc_id),
         |dfreq AS (
         |  SELECT token, CAST(count(*) AS BIGINT) AS df
         |  FROM post GROUP BY token)
         |SELECT p.token, p.doc_id, p.tf, d.df
         |FROM post p JOIN dfreq d USING (token)
         |ORDER BY p.token, p.doc_id""".stripMargin,

    "q_heavy_hitters_by_source" ->
      s"""WITH toks AS (
         |  SELECT source, string_split_regex(${normSql("text")},'\\s+') AS toks
         |  FROM documents),
         |grams AS (
         |  SELECT source,
         |    unnest(list_transform(range(0, greatest(len(toks)-2, -1)+1),
         |    i -> toks[i+1]||' '||toks[i+2])) AS token
         |  FROM toks WHERE len(toks) >= 2),
         |tot AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n
         |  FROM grams GROUP BY source),
         |cnt AS (
         |  SELECT source, token, CAST(count(*) AS BIGINT) AS cnt
         |  FROM grams GROUP BY source, token)
         |SELECT c.source, c.token, c.cnt
         |FROM cnt c JOIN tot t USING (source)
         |WHERE c.cnt >= (t.n * 1 + 399) // 400
         |ORDER BY c.source, c.cnt DESC, c.token""".stripMargin,

    "q_ngram_freq" ->
      s"""WITH toks AS (
         |  SELECT string_split_regex(${normSql("text")},'\\s+') AS toks
         |  FROM documents),
         |grams AS (
         |  SELECT unnest(list_transform(range(0, greatest(len(toks)-2, -1)+1),
         |    i -> toks[i+1]||' '||toks[i+2])) AS gram
         |  FROM toks WHERE len(toks) >= 2),
         |freq AS (
         |  SELECT gram, count(*) AS freq FROM grams
         |  WHERE length(gram) > 0 GROUP BY gram
         |  ORDER BY freq DESC, gram LIMIT 200)
         |SELECT gram, freq,
         |  CAST(row_number() OVER (ORDER BY freq DESC, gram) AS INT) AS rank
         |FROM freq ORDER BY rank""".stripMargin,

    // zipf/entropy replay: per-token counts, micro-unit entropy terms
    // (integer sums commute), rank terms over the same (freq DESC, tok)
    // total order, then the two fixed-order IEEE expressions.
    "q_zipf_entropy" ->
      s"""WITH toks AS (
         |  SELECT source,
         |    unnest(string_split_regex(${normSql("text")}, '\\s+')) AS tok
         |  FROM documents),
         |c AS (SELECT source, tok, count(*) AS c FROM toks
         |      WHERE tok <> '' GROUP BY source, tok),
         |ent AS (
         |  SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
         |    count(*) AS vocab,
         |    CAST(sum(CAST(round(CAST(1000000.0 AS DOUBLE)
         |      * CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)), 0) AS BIGINT))
         |      AS BIGINT) AS s_e6
         |  FROM c GROUP BY source),
         |r AS (SELECT source, c,
         |        row_number() OVER (PARTITION BY source
         |          ORDER BY c DESC, tok) AS rank
         |      FROM c),
         |t AS (SELECT source,
         |    CAST(round(CAST(1000000.0 AS DOUBLE)
         |      * ln(CAST(rank AS DOUBLE)), 0) AS BIGINT) AS x,
         |    CAST(round(CAST(1000000.0 AS DOUBLE)
         |      * ln(CAST(c AS DOUBLE)), 0) AS BIGINT) AS y
         |  FROM r WHERE rank <= 100),
         |z AS (SELECT source, count(*) AS n,
         |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         |    CAST(sum(x*y) AS BIGINT) AS sxy,
         |    CAST(sum(x*x) AS BIGINT) AS sxx
         |  FROM t GROUP BY source)
         |SELECT ent.source, n_tokens, vocab,
         |  CAST(round(CAST(1000000.0 AS DOUBLE)
         |    * ln(CAST(n_tokens AS DOUBLE))
         |    - CAST(s_e6 AS DOUBLE) / CAST(n_tokens AS DOUBLE), 0)
         |    AS BIGINT) AS entropy_micro,
         |  CASE WHEN n*sxx - sx*sx <> 0 THEN
         |    CAST(round(CAST(1000000.0 AS DOUBLE)
         |      * CAST(n*sxy - sx*sy AS DOUBLE)
         |      / CAST(n*sxx - sx*sx AS DOUBLE), 0) AS BIGINT)
         |  END AS zipf_slope_micro
         |FROM ent JOIN z USING (source) ORDER BY source""".stripMargin,

    // URL-canonicalization replay: the same regex pipeline (RE2-compatible
    // patterns; DuckDB regexp_replace needs the explicit 'g' flag where
    // Spark replaces globally by default) + the per-canon window count.
    "q_url_canonical" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 4 = 0 THEN
        |      'HTTPS://WWW.Example.COM:443/item//'||(doc_id//4)
        |        ||'/?utm_source=x&b=2&a=1#frag'
        |    WHEN doc_id % 4 = 1 THEN
        |      'https://example.com/item/'||(doc_id//4)||'?a=1&b=2'
        |    WHEN doc_id % 4 = 2 THEN 'http://Site.ORG:80/p'||doc_id
        |    ELSE 'plain text '||doc_id END AS url
        |  FROM documents),
        |parts AS (
        |  SELECT doc_id, trim(url) AS t,
        |    regexp_replace(trim(url), '#[\s\S]*$', '') AS nf
        |  FROM u),
        |x AS (
        |  SELECT doc_id, t,
        |    lower(regexp_extract(nf, '^(?i)(https?)://([^/?#]+)([^?#]*)(?:\?(.*))?$', 1)) AS scheme,
        |    lower(regexp_extract(nf, '^(?i)(https?)://([^/?#]+)([^?#]*)(?:\?(.*))?$', 2)) AS hostraw,
        |    regexp_extract(nf, '^(?i)(https?)://([^/?#]+)([^?#]*)(?:\?(.*))?$', 3) AS rawpath,
        |    regexp_extract(nf, '^(?i)(https?)://([^/?#]+)([^?#]*)(?:\?(.*))?$', 4) AS q
        |  FROM parts),
        |y AS (
        |  SELECT doc_id, t, scheme,
        |    CASE WHEN scheme = 'http'
        |      THEN regexp_replace(regexp_replace(hostraw, '^www\.', ''), ':80$', '')
        |      ELSE regexp_replace(regexp_replace(hostraw, '^www\.', ''), ':443$', '')
        |    END AS host,
        |    regexp_replace(regexp_replace(rawpath, '/{2,}', '/', 'g'), '/+$', '') AS path,
        |    list_sort(list_filter(string_split(q, '&'), p -> p <> ''
        |      AND NOT regexp_matches(p,
        |        '^(utm_[A-Za-z0-9_]*|gclid|fbclid|msclkid|ref)(=.*)?$'))) AS params
        |  FROM x),
        |c AS (
        |  SELECT doc_id,
        |    CASE WHEN scheme = '' THEN t
        |      ELSE scheme||'://'||host||path||
        |        CASE WHEN len(params) = 0 THEN ''
        |             ELSE '?'||array_to_string(params, '&') END
        |    END AS canon
        |  FROM y)
        |SELECT doc_id, canon,
        |  count(*) OVER (PARTITION BY canon) AS n_same
        |FROM c ORDER BY doc_id""".stripMargin,

    "q_tfidf_rerank" ->
      s"""WITH tok AS (
         |  SELECT doc_id, string_split_regex(${normSql("text")},'\\s+') AS toks FROM documents),
         |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
         |tf AS (
         |  SELECT doc_id, term, len(list_filter(toks, x -> x = term)) AS tf
         |  FROM tok, (SELECT unnest(['spark','join','stream','table']) AS term)),
         |dfc AS (SELECT term, count(*) AS df FROM tf WHERE tf > 0 GROUP BY term)
         |SELECT doc_id, round(sum(tf * ln(n.n / dfc.df)), 6) AS score
         |FROM tf JOIN dfc USING (term), n
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_statement_diversity" ->
      s"""WITH tok AS (
         |  SELECT doc_id, string_split_regex(${normSql("text")},'\\s+') AS toks FROM documents),
         |d AS (SELECT doc_id, ${shinglesSql("toks")} AS sh FROM tok),
         |bases AS (
         |  SELECT doc_id, list_transform(sh, s -> ${h60Sql("s")}) AS bases FROM d),
         |sig AS (
         |  SELECT doc_id, list_transform(range(16), h ->
         |    list_min(list_transform(bases, b -> ((b % 2147483647) * (h+1) + h) % 2147483647))) AS sig
         |  FROM bases),
         |banded AS (
         |  SELECT doc_id, sig, unnest(range(8)) AS band FROM sig),
         |buck AS (
         |  SELECT doc_id, md5(band::VARCHAR||','||array_to_string(list_slice(sig, band*2+1, band*2+2),',')) AS bucket
         |  FROM banded),
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM buck a JOIN buck b USING (bucket) WHERE a.doc_id < b.doc_id),
         |dom AS (
         |  SELECT DISTINCT p.id_b AS doc_id
         |  FROM pairs p JOIN d a ON a.doc_id = p.id_a JOIN d b ON b.doc_id = p.id_b
         |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |    (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5)
         |SELECT doc_id FROM d WHERE doc_id NOT IN (SELECT doc_id FROM dom)
         |ORDER BY doc_id""".stripMargin,

    // sklearn-parity tfidf replay: raw tf, smooth idf ln((1+N)/(1+df))+1,
    // l2 rows, strict > threshold; the oracle verifies ALL pairs (no
    // prefix filter) so a filter bug cannot hide.
    "q_statement_diversity_tfidf" ->
      """WITH docs AS (SELECT doc_id, text FROM documents),
        |tok AS (SELECT doc_id,
        |  unnest(regexp_extract_all(lower(text), '\d+\.\d+|[a-z0-9]+')) AS tk
        |  FROM docs),
        |mapped AS (SELECT doc_id,
        |  CASE WHEN regexp_full_match(tk, '\d+\.\d+') THEN 'FLOAT_'||tk
        |       WHEN regexp_full_match(tk, '\d+') THEN 'NUM_'||tk
        |       ELSE tk END AS term FROM tok),
        |tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf
        |       FROM mapped GROUP BY 1, 2),
        |n AS (SELECT count(*)::DOUBLE AS n FROM docs),
        |dfreq AS (SELECT term, count(*)::DOUBLE AS dfreq FROM tf GROUP BY 1),
        |w AS (SELECT doc_id, t.term, tf * (ln((n.n+1)/(dfreq+1)) + 1) AS w
        |      FROM tf t JOIN dfreq USING (term) CROSS JOIN n),
        |nrm AS (SELECT doc_id, sqrt(sum(w*w)) AS nm FROM w GROUP BY 1),
        |v AS (SELECT w.doc_id, term, w/nm AS w FROM w JOIN nrm USING (doc_id)),
        |cos AS (SELECT a.doc_id AS ia, b.doc_id AS ib, sum(a.w*b.w) AS c
        |  FROM v a JOIN v b ON a.term = b.term AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |dom AS (SELECT DISTINCT ib AS doc_id FROM cos WHERE c > 0.975)
        |SELECT doc_id FROM docs WHERE doc_id NOT IN (SELECT doc_id FROM dom)
        |ORDER BY doc_id""".stripMargin,

    // NFC replay: DuckDB's nfc_normalize implements the same UAX #15
    // algorithm as java.text.Normalizer — identical lengths and bytes.
    "q_nfc_normalize" ->
      """WITH inj AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN replace(text, 'a', 'a'||chr(768))
        |         WHEN doc_id % 3 = 1 THEN text||' nai'||chr(776)||'ve e'
        |           ||chr(769)||'le'||chr(768)||'ve'
        |         ELSE text END AS raw
        |  FROM documents)
        |SELECT doc_id, CAST(length(raw) AS INT) AS len_raw,
        |  CAST(length(nfc_normalize(raw)) AS INT) AS len_nfc,
        |  md5(nfc_normalize(raw)) AS h_nfc
        |FROM inj ORDER BY doc_id""".stripMargin,

    "q_length_quantiles" ->
      """WITH g AS (
        |  SELECT source,
        |    quantile_cont(n_chars, [0.1,0.25,0.5,0.75,0.9,0.99]) AS qv
        |  FROM documents GROUP BY source)
        |SELECT source, CAST(q AS DOUBLE) AS q, round(v, 6) AS qval FROM (
        |  SELECT source, UNNEST([0.1,0.25,0.5,0.75,0.9,0.99]) AS q,
        |    UNNEST(qv) AS v
        |  FROM g)
        |ORDER BY source, q""".stripMargin,

    "q_fuzzy_link" ->
      """WITH qs AS (SELECT unnest(['small ringg','red widgit','blue bolt','hot gearz']) AS query),
        |scored AS (
        |  SELECT query, p_partkey, p_name,
        |    1.0 - CAST(levenshtein(query, p_name) AS DOUBLE) /
        |      greatest(length(query), length(p_name)) AS ratio
        |  FROM qs, part),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY query
        |    ORDER BY ratio DESC, p_name, p_partkey) AS rk
        |  FROM scored)
        |SELECT query, p_partkey, p_name, round(ratio, 6) AS ratio,
        |  CAST(rk AS INT) AS rk
        |FROM ranked WHERE rk <= 2 ORDER BY query, rk""".stripMargin)
}
