package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.{HashFunctions => H, TextFunctions => T, VectorFunctions => V}

/**
 * Corpus deduplication operators for large-scale training-data pipelines.
 *
 * Scale notes (the 100 TB story):
 *  - exact dedup is one hash-shuffle on a 32-byte key — the canonical-winner
 *    window avoids a second join;
 *  - minhash-LSH and simhash only ever shuffle (band_key | bucket) pairs, so
 *    candidate generation is linear in corpus size; pair verification happens
 *    within buckets only (never a cross join);
 *  - embedding near-dup buckets by LSH sign-projection before the pairwise
 *    cosine, so the quadratic step is per-bucket.
 */
object Dedup {

  /** Exact dedup: canonical row per normalized-text hash. Keeps the lowest
    * `idCol` per group; emits group size so callers can audit collisions.
    *
    * One pre-reducing aggregate (min_by winner + count) with map-side
    * partial combine: one candidate row per key per partition crosses the
    * shuffle. Because the min_by VALUE is the whole-row struct, the
    * aggregation buffer is not hash-mutable and Spark plans a
    * SortAggregate — each partition sorts by dup_key before combining.
    * That map-side sort is the deliberate trade for shuffling pre-reduced
    * full payloads instead of every duplicate row: the window-rank
    * formulation also pre-reduces on Spark 4 (WindowGroupLimit), but sorts
    * its full input on BOTH sides of the shuffle and moves ~2× the bytes
    * (0.86 vs 1.84 MB on sf0.1 lineitem, measured by the since-removed
    * `shufflebytes` probe).
    * Where the winner can be expressed with scalar buffers only, prefer
    * the pure hash-aggregate shape [[windowedChunkDedup]] uses. */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val withKey = Spread.perRowHeavy(df)
      .withColumn("dup_key", md5(T.searchStr(col(textCol))))
    val payload = struct(withKey.columns.toIndexedSeq.map(col): _*)
    withKey.groupBy(col("dup_key"))
      .agg(min_by(payload, col(idCol)).as("_row"),
        count(lit(1)).as("dup_count"))
      .select(col("_row.*") +: Seq(col("dup_count")): _*)
  }

  /**
   * Dedup yield report: per group (source/tenant/language), how much of
   * the corpus survives exact dedup — the accounting table every
   * curation run publishes ("source X is 40% duplicates") and the input
   * to re-weighting decisions. Canonical = the min-id holder of each
   * content key (the [[exact]] winner), counted against ITS OWN group,
   * so Σ n_canonical = global distinct texts even when duplicates span
   * groups. Returns (group, n_docs, n_canonical, dup_e6).
   *
   * Two map-side-combinable aggregates + one join, both keyed on the
   * content hash (ReusedExchange at runtime) — no corpus-scale sort.
   */
  def yieldReport(df: DataFrame, textCol: String, idCol: String,
                  groupCol: String): DataFrame = {
    val keyed = df.select(col(groupCol).as("grp"), col(idCol).as("_id"),
      md5(T.searchStr(col(textCol))).as("_h"))
    val canon = keyed.groupBy(col("_h")).agg(min(col("_id")).as("_keep"))
    keyed.join(canon, "_h")
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("_id") === col("_keep"), 1L).otherwise(0L))
          .as("n_canonical"))
      .select(col("grp").as(groupCol), col("n_docs"), col("n_canonical"),
        round(lit(1000000.0) * (col("n_docs") - col("n_canonical"))
          / col("n_docs")).cast("long").as("dup_e6"))
  }

  /**
   * MinHash + LSH near-dup candidate pairs. Signature of `numHashes` minhashes
   * split into `bands`; docs sharing any full band land in the same bucket and
   * become a candidate pair. Returns (id_a, id_b, jaccard_est) with id_a < id_b,
   * jaccard_est = fraction of matching signature positions.
   */
  def minhashLsh(
      df: DataFrame,
      textCol: String,
      idCol: String,
      numHashes: Int = 16,
      bands: Int = 4,
      shingleSize: Int = 3): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    // Signature via the compiled MinhashSignature expression (one tight loop
    // per row — see graft.functions.MinhashSignature for why the composed
    // higher-order-function form is ~50x slower). No .cache() for the band
    // self-join: both sides shuffle the SAME banded subtree, so the second
    // side resolves to a ReusedExchange and the signature computes once —
    // a per-call cache here leaked storage until the session died.
    graft.functions.MinhashSignature.register(df.sparkSession)
    val sig = Spread.perRowHeavy(df)
      .select(col(idCol).as("id"),
        graft.functions.MinhashSignature
          .signature(col(textCol), numHashes, shingleSize).as("sig"))
    // One row per (doc, band): bucket key = md5 of the band's signature slice.
    val banded = sig.select(
      col("id"), col("sig"),
      explode(sequence(lit(0), lit(bands - 1))).as("band"))
      .withColumn("bucket",
        md5(concat_ws(",", col("band"),
          concat_ws(",", slice(col("sig"), col("band") * rows + 1, lit(rows))))))
    val a = banded.select(col("bucket"), col("id").as("id_a"), col("sig").as("sig_a"))
    val b = banded.select(col("bucket"), col("id").as("id_b"), col("sig").as("sig_b"))
    a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) =>
          when(x === y, 1).otherwise(0)), v => v === 1)).cast("double") /
          lit(numHashes.toDouble)).as("jaccard_est"))
      .distinct()
  }

  /**
   * Cross-corpus near-dup candidates: corpus rows whose minhash bands
   * collide with any benchmark row — the decontamination sweep every
   * training-data pipeline runs before a release (drop training documents
   * that leak evaluation data). Same banded shape as [[minhashLsh]], but
   * the join is corpus × benchmark instead of a self-join, so cost is
   * linear in each side and the (small) benchmark side's banded buckets
   * broadcast. Returns (corpus_id, bench_id, jaccard_est).
   */
  def crossCorpusNearDup(
      corpus: DataFrame, corpusTextCol: String, corpusIdCol: String,
      bench: DataFrame, benchTextCol: String, benchIdCol: String,
      numHashes: Int = 16, bands: Int = 4, shingleSize: Int = 3): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    graft.functions.MinhashSignature.register(corpus.sparkSession)
    def banded(df: DataFrame, textCol: String, idCol: String) =
      Spread.perRowHeavy(df)
      .select(col(idCol).as("id"),
        graft.functions.MinhashSignature
          .signature(col(textCol), numHashes, shingleSize).as("sig"))
      .select(col("id"), col("sig"),
        explode(sequence(lit(0), lit(bands - 1))).as("band"))
      .withColumn("bucket",
        md5(concat_ws(",", col("band"),
          concat_ws(",", slice(col("sig"), col("band") * rows + 1, lit(rows))))))
    val c = banded(corpus, corpusTextCol, corpusIdCol)
      .select(col("bucket"), col("id").as("corpus_id"), col("sig").as("sig_c"))
    val b = banded(bench, benchTextCol, benchIdCol)
      .select(col("bucket"), col("id").as("bench_id"), col("sig").as("sig_b"))
    c.join(b, Seq("bucket"))
      .select(col("corpus_id"), col("bench_id"),
        (size(filter(zip_with(col("sig_c"), col("sig_b"), (x, y) =>
          when(x === y, 1).otherwise(0)), v => v === 1)).cast("double") /
          lit(numHashes.toDouble)).as("jaccard_est"))
      .distinct()
  }

  /**
   * Exact n-gram contamination sweep (the GPT-3-style eval-set filter,
   * Brown et al. 2020 appendix C: drop training documents sharing any
   * 13-gram with a benchmark): per corpus doc, the count of DISTINCT
   * normalized word n-grams that also occur anywhere in the benchmark set.
   * The complement of [[crossCorpusNearDup]] — that one finds NEAR
   * duplicates probabilistically; this one finds exact spans with zero
   * false positives/negatives.
   *
   * Shape: both sides explode to distinct grams (compiled WordGrams pass),
   * the benchmark side collapses to one distinct gram set (small —
   * broadcastable), and one semi-ish inner join + count gives the per-doc
   * overlap. Linear in each side; the only full shuffle is the corpus-side
   * count aggregate. Docs with zero shared grams are absent (flag-clean).
   */
  def ngramContamination(
      corpus: DataFrame, corpusTextCol: String, corpusIdCol: String,
      bench: DataFrame, benchTextCol: String,
      n: Int = 13): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    graft.functions.WordGrams.register(corpus.sparkSession)
    def grams(df: DataFrame, textCol: String, keep: Seq[Column]) = df
      .select(keep :+ explode(array_distinct(
        graft.functions.WordGrams.grams(col(textCol), n))).as("gram"): _*)
      .filter(length(col("gram")) > 0)
    val cg = grams(corpus, corpusTextCol,
      Seq(col(corpusIdCol).as("corpus_id")))
    val bg = grams(bench, benchTextCol, Seq.empty).distinct()
    cg.join(bg, Seq("gram"))
      .groupBy("corpus_id")
      .agg(count(lit(1)).as("shared_grams"))
  }

  /**
   * Exact per-pair CONTAINMENT join: for benchmark doc B and corpus doc A,
   * containment(B in A) = |sh(B) ∩ sh(A)| / |sh(B)| ≥ `tau` — the
   * asymmetric decontamination metric Jaccard misses when a small
   * benchmark item is quoted inside a much larger document (|A∪B| grows
   * with |A|, so J collapses while containment stays 1.0). Refines
   * [[ngramContamination]] (which aggregates per corpus doc only) to the
   * exact (corpus, bench) pair + score the audit needs.
   *
   * Shape: both sides shingle to distinct-element sets (the compiled
   * WordShingles pass); the corpus explode is semi-join-restricted to
   * elements the benchmark actually uses (the benchmark is the small
   * side), then ONE equi-join + a pair-count aggregate yields |∩| exactly
   * — no array materialization, no verification pass: with both sides
   * distinct, the join emits exactly one row per shared element. Fan-out
   * is Σ_e df_bench(e)·df_corpus(e) over benchmark elements only — linear
   * in the corpus for a bounded benchmark. Threshold compares multiplied
   * (inter ≥ τ·|B|), no division at the boundary. Returns
   * (corpus_id, bench_id, inter, bench_n, containment 6dp).
   */
  def containmentJoin(
      corpus: DataFrame, corpusTextCol: String, corpusIdCol: String,
      bench: DataFrame, benchTextCol: String, benchIdCol: String,
      tau: Double, shingleSize: Int = 3): DataFrame = {
    require(tau > 0.0 && tau <= 1.0, s"tau must be in (0, 1], got $tau")
    graft.functions.WordShingles.register(corpus.sparkSession)
    def ex(df: DataFrame, textCol: String, idAs: String, idCol: String) = df
      .select(col(idCol).as(idAs),
        explode(graft.functions.WordShingles
          .shingles(col(textCol), shingleSize)).as("e"))
    val bq = ex(bench, benchTextCol, "bench_id", benchIdCol)
    val bn = bq.groupBy(col("bench_id")).agg(count(lit(1)).as("bench_n"))
    val cp = ex(corpus, corpusTextCol, "corpus_id", corpusIdCol)
      .join(bq.select(col("e")).distinct(), Seq("e"), "left_semi")
    cp.join(bq, Seq("e"))
      .groupBy(col("corpus_id"), col("bench_id"))
      .agg(count(lit(1)).as("inter"))
      .join(bn, Seq("bench_id"))
      .filter(col("inter").cast("double") >= lit(tau) * col("bench_n").cast("double"))
      .select(col("corpus_id"), col("bench_id"), col("inter"),
        col("bench_n"),
        round(col("inter").cast("double") / col("bench_n").cast("double"), 6)
          .as("containment"))
  }

  /** Exact n-gram Jaccard similarity for candidate pairs (or as a brute-force
    * verifier over a pre-filtered pair set). `pairs` has (id_a, id_b). */
  def ngramJaccard(
      df: DataFrame,
      pairs: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 3): DataFrame = {
    // both sides of the pair join probe the shingle frame: restrict it to
    // ids the pair set references, shingle with the COMPILED expression
    // (the interpreted HOF chain costs ~6 s / 5k docs), and materialize once
    graft.functions.WordShingles.register(df.sparkSession)
    val ids = pairs.select(col("id_a").as("id"))
      .union(pairs.select(col("id_b"))).distinct()
    val sh = df.select(col(idCol).as("id"),
        graft.functions.WordShingles.shingles(col(textCol), n).as("sh"))
      .join(ids, Seq("id"), "left_semi")
      .localCheckpoint(true)
    pairs
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double")).as("jaccard"))
  }

  /** Statement diversity at scale (reference statement_diversity.py:96-240,
    * which prunes near-duplicate statements above a similarity threshold):
    * LSH-banded candidates → exact shingle-jaccard verification → dominance
    * (the later id of each too-similar pair drops). Never materializes the
    * all-pairs matrix — the candidate set is the banded bucket join from
    * [[minhashLsh]], so the quadratic work happens per bucket only. */
  def diversityFilter(
      df: DataFrame,
      textCol: String,
      idCol: String,
      threshold: Double = 0.5,
      numHashes: Int = 16,
      bands: Int = 8,
      shingleSize: Int = 3): DataFrame = {
    // materialize the candidate set once: the verify stage scans it three
    // times (both id projections + the pair join), and re-running the
    // banded self-join per scan tripled the operator's cost
    val cands = minhashLsh(df, textCol, idCol, numHashes, bands, shingleSize)
      .select("id_a", "id_b").localCheckpoint(true)
    val dominated = ngramJaccard(df, cands, textCol, idCol, shingleSize)
      .filter(col("jaccard") >= threshold)
      .select(col("id_b").as(idCol)).distinct()
    df.select(col(idCol)).join(dominated, Seq(idCol), "left_anti")
  }

  /**
   * TF-IDF-cosine statement diversity — the reference's exact scorer
   * (statement_diversity.py:96-240: sklearn TfidfVectorizer +
   * cosine_similarity at the 0.975 default threshold), beside the
   * minhash-LSH variant [[diversityFilter]] and sharing its dominance rule
   * (the later id of each too-similar pair drops). sklearn parity: tf =
   * raw term count, smooth idf ln((1+N)/(1+df)) + 1, l2-normalized rows,
   * STRICT > threshold. The reference's spaCy lemma/stopword preprocessing
   * is a client seam; the deterministic stand-in is lowercase alnum tokens
   * with the reference's NUM_/FLOAT_ numeric placeholders
   * (preprocess_texts, statement_diversity.py:150-168).
   *
   * Scale: candidate pairs come from a Bayardo-style AllPairs prefix
   * filter ("Scaling Up All Pairs Similarity Search", WWW'07) with the
   * NORM bound, which is EXACT, not approximate: per document, a greedy
   * unindexed set U (smallest weights first) satisfies Σ_{t∈U} w_t² < t²,
   * so a pair whose shared terms are all unindexed on one side is below
   * threshold by Cauchy–Schwarz (cos ≤ ‖x_U‖·‖y‖ = ‖x_U‖ < t). Joining
   * only INDEXED terms against full postings therefore misses nothing —
   * never an all-pairs matrix. At 0.975 the indexed set is the top ~5% of
   * each vector's squared mass — usually 1-3 terms per document.
   *
   * Verification is adaptive on CORPUS size (one count, so cache the
   * input if it's expensive). Smallest regime (docCount <= `bnlDocCap`
   * AND vocab <= `denseVocabCap` AND the docCount x vocab broadcast
   * matrix AND the docCount^2 x vocab work product both bounded): NO
   * candidate machinery at all — dense l2-normalized vectors on both
   * sides of a broadcast LEFT SEMI nested-loop join whose condition is
   * `id_a < id_b AND dot_product(ma, mb) > t`; the semi mode
   * short-circuits per row and the codegen'd [[graft.functions.DotProduct]]
   * makes each probe |vocab| FMAs (measured 18.8 s -> ~1 s at sf0.1 /
   * 5k docs / 31 terms, where the candidate join + 12M-pair distinct +
   * interpreted per-pair fold WAS the query). Past that, up to
   * `mapVerifyDocCap` documents, each
   * candidate pair is scored by streaming through two BROADCAST joins of
   * per-doc (term-index → w) maps — no shuffle proportional to candidates
   * × terms, integer keys so the fold's lookups are int compares, not
   * string scans. That regime exists because a vocabulary ≪ corpus (the
   * synthetic tables here: 31 terms over every document) defeats ANY
   * prefix filter — nearly all pairs share an indexed term — and the
   * exploded term-join verification then shuffles |candidates|·|terms|
   * rows (measured 110 s at sf0.1 vs ~8 s for the map-broadcast path).
   * The cap bounds the broadcast (200k docs × ~25 terms ≈ 150 MB); past
   * it, verification joins per-term postings (the classic sparse shape) —
   * the regime where the vocabulary is large and the prefix filter
   * actually prunes.
   */
  def diversityFilterTfidf(df: DataFrame, textCol: String, idCol: String,
                           threshold: Double = 0.975,
                           mapVerifyDocCap: Long = 200L * 1000,
                           bnlDocCap: Long = 100L * 1000,
                           denseVocabCap: Long = 1024L)
  : DataFrame = {
    // Spread the tokenize/regex scan (guide §2.5): safe here because every
    // partition-order-sensitive fold downstream is order-stabilized — the
    // per-doc norm is a value-ordered sortedSum and the sparse pair-dot
    // folds tidx-sorted map entries (below); everything else is exact
    // counts or fixed-order dense folds.
    val terms = Spread.perRowHeavy(df).select(col(idCol),
        explode(expr(s"regexp_extract_all(lower($textCol), " +
          """'\\d+\\.\\d+|[a-z0-9]+', 0)""")).as("tk"))
      .select(col(idCol),
        when(col("tk").rlike("^\\d+\\.\\d+$"), concat(lit("FLOAT_"), col("tk")))
          .when(col("tk").rlike("^\\d+$"), concat(lit("NUM_"), col("tk")))
          .otherwise(col("tk")).as("term"))
    // LAZY checkpoint of the term-frequency table (round-12): this operator
    // runs several driver actions per invocation (the docCount/vocabSize
    // regime gates, the dense-matrix checkpoint, the final action), and
    // WITHOUT a cut each one re-executed the whole tokenize+tf lineage —
    // the dominant per-action cost in a per-phase profile. The first action
    // materializes it; everything after reads the persisted rows.
    val tf = terms.groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"))
      .localCheckpoint(false)
    // N = documents FIT (all input rows, incl. token-less ones). The
    // verification-strategy gate below needs this exact count on the
    // driver anyway, so fold it in as a LITERAL — the previous 1-row
    // aggregate-crossJoin subtree re-ran a count per action.
    val docCount = df.count()
    val dfreq = tf.groupBy(col("term"))
      .agg(count(lit(1)).cast("double").as("dfreq"))
    // dfreq/maxw are VOCABULARY-sized — no broadcast hint (AQE may still
    // pick one when the vocab is small)
    val weighted = tf.join(dfreq, Seq("term"))
      .withColumn("n_docs", lit(docCount.toDouble))
      .withColumn("w",
        col("tf") * (log((col("n_docs") + 1) / (col("dfreq") + 1)) + 1))
    // value-ordered fold (SortedSumAgg): the per-doc norm is bit-identical
    // under ANY partitioning — the float-order blocker that kept this
    // operator un-spread through round 11 (a 1-ulp drift at the 0.975
    // threshold could flip the dominated set)
    val norms = weighted.groupBy(col(idCol))
      .agg(sqrt(org.apache.spark.sql.GraftSqlBridge
        .sortedSum(col("w") * col("w"))).as("norm"))
    val vec = weighted.join(norms, Seq(idCol))
      .select(col(idCol).as("id"), col("term"),
        (col("w") / col("norm")).as("w"))
    // norm-bound prefix filter: ascending weight within each doc; the
    // greedy unindexed set is the longest prefix with cumulative Σw² < t²
    // (Cauchy–Schwarz makes any pair confined to it sub-threshold)
    val cumW = Window.partitionBy("id").orderBy(col("w"), col("term"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val indexed = vec
      .withColumn("cum", sum(col("w") * col("w")).over(cumW))
      .filter(col("cum") >= threshold * threshold)
      .select(col("term"), col("id"))
    val postings = vec.select(col("term"), col("id").as("pid"))
    val dominated = // docCount (computed above) gates the verify strategy
      if (docCount <= mapVerifyDocCap) {
        // map-broadcast verify: canonicalized-deduped candidate pairs
        // stream through two broadcast joins and the dot-product fold;
        // only the tiny dominated-id set shuffles after that. Map keys
        // are dense INTEGER term indices — ArrayBasedMapData lookups are
        // linear scans, and int compares beat string compares ~5x here
        // (110 s -> 15 s at sf0.1 across the regime change). A
        // no-distinct variant that streamed the RAW join rows through
        // the fold measured WORSE (the duplicate+both-orientation rows
        // carry two ~500 B maps each through the projection — the
        // distinct exchange of narrow id pairs is cheaper than folding
        // 1.5x the rows at 1 KB/row). The dictionary window is
        // single-partition but VOCAB-sized, bounded by docCount ×
        // terms-per-doc in this branch.
        val vocabIdx = dfreq.select(col("term"))
          .withColumn("tidx", row_number().over(
            Window.orderBy(col("term"))).cast("int"))
        val indexedVec = vec.join(vocabIdx, Seq("term"))
        // SMALL vocabularies additionally get DENSE weight vectors: the
        // pair dot is then |vocab| multiplies with ZERO lookups, where
        // the sparse-map fold costs ~|terms_a|·|terms_b| linear-scan ops
        // per pair (ArrayBasedMapData has no hash index). Above the cap
        // the sparse (tidx → w) map keeps the per-doc payload
        // proportional to the document, not the vocabulary.
        val vocabSize = dfreq.count()
        // Smallest regime first: with a tiny vocabulary the prefix filter
        // prunes nothing (every pair shares an indexed term), so the
        // candidate join + 12M-pair distinct + per-pair interpreted HOF
        // fold IS the cost (measured 18.8 s at sf0.1 / 5k docs / 31
        // terms). The exact plan with zero candidate machinery: dense
        // l2-normalized vectors on BOTH sides of a broadcast LEFT SEMI
        // nested-loop join with condition id_a < id_b AND dot > t —
        // BroadcastNestedLoopJoin's semi mode short-circuits on the first
        // dominating partner, the codegen'd DotProduct makes each probe
        // |vocab| FMAs, and no pair row ever materializes or shuffles
        // (measured 18.8 s -> ~1 s). Caps keep the quadratic honest: the
        // docCount^2 x vocab work product, the docCount x vocab broadcast
        // matrix, and the vocab width are each bounded; past any cap the
        // candidate-join regimes below take over.
        val bnlMatrixEntryCap = 16L * 1000 * 1000
        // work-product budget: docCount^2 probes x vocab FMAs each. 4e11
        // codegen FMAs is ~10 s across 32 cores — past it the pair scan
        // (not the broadcast) is the bottleneck and the candidate regimes
        // below win WHEN the prefix filter prunes (a small-vocab corpus
        // where it can't prune is inherently quadratic for ANY exact
        // algorithm; the measured crossover favors BNLJ well past 8x the
        // bench corpus: 40k docs x 250 vocab = 4e11 runs ~20 s where the
        // candidate join + array-carrying pair rows took 247 s)
        val bnlWorkCap = 400L * 1000 * 1000 * 1000
        if (vocabSize <= denseVocabCap && docCount <= bnlDocCap &&
            docCount * vocabSize <= bnlMatrixEntryCap &&
            docCount * docCount * vocabSize <= bnlWorkCap) {
          graft.functions.DotProduct.register(df.sparkSession)
          // both BNLJ sides read the dense frame; checkpointing it once
          // (bounded by the matrix-entry cap above) stops the whole
          // tokenize+tf-idf lineage from compiling and running twice
          val dense = indexedVec.groupBy(col("id"))
            .agg(map_from_entries(collect_list(
              struct(col("tidx"), col("w")))).as("m0"))
            .select(col("id"), expr(
              s"transform(sequence(1, $vocabSize), i -> " +
                "coalesce(try_element_at(m0, cast(i as int)), 0D))")
              .as("m"))
            .localCheckpoint(true)
          dense.select(col("id").as("id_b"), col("m").as("mb"))
            .join(broadcast(dense.select(col("id").as("id_a"),
              col("m").as("ma"))),
              col("id_a") < col("id_b") &&
                graft.functions.DotProduct.dot(col("ma"), col("mb"))
                  > threshold,
              "left_semi")
            .select(col("id_b").as(idCol))
        } else {
        val (vecsDf, dotCol) =
          if (vocabSize <= denseVocabCap) {
            graft.functions.DotProduct.register(df.sparkSession)
            val dense = indexedVec.groupBy(col("id"))
              .agg(map_from_entries(collect_list(
                struct(col("tidx"), col("w")))).as("m0"))
              .select(col("id"), expr(
                s"transform(sequence(1, $vocabSize), i -> " +
                  "coalesce(try_element_at(m0, cast(i as int)), 0D))")
                .as("m"))
            // codegen'd DotProduct, same kernel as the BNLJ regime: the
            // interpreted aggregate(sequence(...)) fold this replaced cost
            // ~10x more per pair and dominated the whole operator when
            // candidates approach all-pairs (measured 290 s -> 23 s on the
            // 8x-replicated small-vocab probe)
            (dense, graft.functions.DotProduct.dot(col("ma"), col("mb")))
          } else {
            // tidx-SORTED entries: the pair-dot below folds map_entries(ma)
            // in entry order, so an unsorted collect_list would make the
            // cosine partition-order-dependent (tidx is unique per id, so
            // the sort is total and the map is unchanged as a lookup table)
            val sparse = indexedVec.groupBy(col("id"))
              .agg(map_from_entries(sort_array(collect_list(
                struct(col("tidx"), col("w"))))).as("m"))
            (sparse, expr(
              "aggregate(map_entries(ma), 0D, (acc, e) -> " +
                "acc + e.value * coalesce(try_element_at(mb, e.key), 0D))"))
          }
        val cands = indexed.join(postings, Seq("term"))
          .filter(col("id") =!= col("pid"))
          .select(least(col("id"), col("pid")).as("id_a"),
            greatest(col("id"), col("pid")).as("id_b"))
          .distinct()
        cands
          .join(broadcast(vecsDf.select(col("id").as("id_a"),
            col("m").as("ma"))), Seq("id_a"))
          .join(broadcast(vecsDf.select(col("id").as("id_b"),
            col("m").as("mb"))), Seq("id_b"))
          .withColumn("cos", dotCol)
          .filter(col("cos") > threshold)
          .select(col("id_b").as(idCol)).distinct()
        }
      } else {
        // sparse postings verify (large-vocab regime — the prefix filter
        // prunes hard there, so candidates × shared-terms stays
        // linear-ish); canonicalize + dedupe BEFORE the per-term join,
        // where each duplicate pair would cost a whole term-join fan-out
        val cands = indexed.join(postings, Seq("term"))
          .filter(col("id") =!= col("pid"))
          .select(least(col("id"), col("pid")).as("id_a"),
            greatest(col("id"), col("pid")).as("id_b"))
          .distinct()
        cands
          .join(vec.select(col("id").as("id_a"), col("term"),
            col("w").as("wa")), Seq("id_a"))
          .join(vec.select(col("id").as("id_b"), col("term"),
            col("w").as("wb")), Seq("id_b", "term"))
          .groupBy(col("id_a"), col("id_b"))
          .agg(sum(col("wa") * col("wb")).as("cos"))
          .filter(col("cos") > threshold)
          .select(col("id_b").as(idCol)).distinct()
      }
    df.select(col(idCol)).join(dominated, Seq(idCol), "left_anti")
  }

  /**
   * Drop values that are a proper prefix of another value in the column
   * (reference entity_context_provider.py:187-249: contexts already covered
   * by a longer context are removed before the survivors are verbalized).
   * Null values pass through untouched — null is never a prefix.
   *
   * Plan (the 100 TB shape): in lexicographic order, `v` is a proper prefix
   * of SOME other value iff v's immediate successor starts with `v` — any
   * string strictly between `v` and a `v`-prefixed `w` must itself start
   * with `v` (it agrees with `v` up to a first-difference position that
   * would otherwise sort it outside (v, w)). So ONE range-partitioned sort
   * plus a per-partition `lead()` decides every row except each partition's
   * last, and those — one row per partition — are re-checked against the
   * next non-empty partition's first value through a second window over an
   * O(partitions)-row boundary frame. No self-join anywhere (the round-7
   * plan bucketed on the first character, a FIXED bucket count, so bucket
   * size grew linearly and the in-bucket join quadratically), and no
   * single-partition window over the data: the only global sort is over
   * ≤ 2·partitions boundary rows.
   */
  def dropProperPrefixes(df: DataFrame, valueCol: String): DataFrame = {
    val v = col(valueCol)
    val vals = df.select(v).filter(v.isNotNull).distinct()
    val nulls = df.select(v).filter(v.isNull).distinct()
    val parts =
      math.max(df.sparkSession.sparkContext.defaultParallelism / 2, 1)
    val ranged = vals.repartitionByRange(parts, v)
      .withColumn("__pid", spark_partition_id())
    val perPart = Window.partitionBy("__pid").orderBy(valueCol)
    val withNext = ranged.withColumn("__nxt", lead(v, 1).over(perPart))
    // rows with an in-partition successor are fully decided locally
    val keptLocal = withNext.filter(col("__nxt").isNotNull)
      .filter(!col("__nxt").startsWith(v)).select(v)
    // boundary frame: each partition's last row (needs its global successor)
    // plus each partition's first value (IS some last row's global
    // successor). Nothing else can sit between a partition-last and the next
    // partition's first — range partitions tile the sort order — so a lead()
    // over this tiny frame alone resolves every partition-last exactly.
    val lasts = withNext.filter(col("__nxt").isNull)
      .select(v, lit(true).as("__isLast"))
    val firsts = ranged.groupBy(col("__pid")).agg(min(v).as(valueCol))
      .select(v, lit(false).as("__isLast"))
    val boundary = lasts.union(firsts)
      .groupBy(v).agg(max(col("__isLast")).as("__isLast"))
    val bw = Window.orderBy(valueCol) // ≤ 2·parts rows — O(partitions)
    val keptBoundary = boundary
      .withColumn("__succ", lead(v, 1).over(bw))
      .filter(col("__isLast") &&
        (col("__succ").isNull || !col("__succ").startsWith(v)))
      .select(v)
    keptLocal.union(keptBoundary).union(nulls)
  }

  /** Connected components of the near-duplicate pair graph: every node gets
    * the minimum id reachable from it. Cluster canonicalization is the step
    * after pair generation in every large-scale dedup pipeline — pick one
    * representative per duplicate cluster, drop the rest.
    *
    * Alternating large-star/small-star (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14): each round contracts
    * every node's larger neighbors (large-star) then its smaller ones
    * (small-star) onto the local minimum, halving star depth, so the loop
    * converges in O(log n) rounds — where plain min-label propagation needs
    * O(diameter) rounds and an adversarial near-dup chain makes that O(n).
    * Per round: two grouped mins + two joins, all shuffling on node id;
    * each round localCheckpoint'd so lineage stays flat. No driver-side
    * state beyond the converged flag.
    *
    * Measured-size local finisher: once the contracted edge core fits
    * `localEdgeCap` rows (counted, never assumed — the same gate
    * [[Joins.gatedBroadcast]] uses), the remaining rounds collapse into one
    * driver-side union-find over the core. Star contraction shrinks the
    * edge set geometrically, so at any scale the loop spends its last
    * several rounds shuffling a tiny residue where per-round scheduling —
    * not data — is the cost; a billion-edge input still runs the
    * distributed rounds until the core is cap-sized. The handoff is exact:
    * both star ops preserve component membership round to round (a node
    * absent from the core is its component's root or an isolated
    * canonicalized-away id — the same self-label case the star-forest
    * join already handles). Pass `localEdgeCap = 0` to force the pure
    * distributed loop (the round-bound specs do). */
  def connectedComponents(pairs: DataFrame,
                          aCol: String = "id_a", bCol: String = "id_b",
                          maxIter: Int = 50,
                          localEdgeCap: Long = CcLocalEdgeCap): DataFrame =
    connectedComponentsWithRounds(pairs, aCol, bCol, maxIter, localEdgeCap)._1

  /** Edge-core size below which [[connectedComponents]] finishes on the
    * driver: 1M (u,v) pairs is tens of MB of driver heap — the same order
    * as a frame [[Joins.gatedBroadcast]] would ship to every executor. */
  val CcLocalEdgeCap: Long = 1L << 20

  /** Driver-side ordering matching Spark's `least`/`min` comparison for the
    * id types the dedup pipelines use. Strings compare by UTF-8 bytes
    * (Spark's UTF8String order), NOT Java's UTF-16 `compareTo` — the two
    * disagree on supplementary characters. None disables the local
    * finisher and the loop stays fully distributed (floats/decimals land
    * here: their NaN/scale corner semantics aren't worth mirroring). */
  private def localIdOrdering(
      dt: org.apache.spark.sql.types.DataType): Option[Ordering[Any]] = {
    import org.apache.spark.sql.types._
    dt match {
      case StringType => Some(new Ordering[Any] {
        def compare(a: Any, b: Any): Int = {
          val x = a.asInstanceOf[String]
            .getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val y = b.asInstanceOf[String]
            .getBytes(java.nio.charset.StandardCharsets.UTF_8)
          var i = 0
          while (i < x.length && i < y.length) {
            val c = (x(i) & 0xff) - (y(i) & 0xff)
            if (c != 0) return c
            i += 1
          }
          x.length - y.length
        }
      })
      case ByteType    => Some(Ordering.by[Any, Byte](_.asInstanceOf[Byte]))
      case ShortType   => Some(Ordering.by[Any, Short](_.asInstanceOf[Short]))
      case IntegerType => Some(Ordering.by[Any, Int](_.asInstanceOf[Int]))
      case LongType    => Some(Ordering.by[Any, Long](_.asInstanceOf[Long]))
      case _           => None
    }
  }

  /** [[connectedComponents]] plus the number of DISTRIBUTED rounds executed
    * — exposed so specs can assert the O(log n) bound on chain fixtures
    * (with `localEdgeCap = 0`, else the local finisher absorbs the tail). */
  private[graft] def connectedComponentsWithRounds(
      pairs: DataFrame,
      aCol: String = "id_a", bCol: String = "id_b",
      maxIter: Int = 50,
      localEdgeCap: Long = CcLocalEdgeCap): (DataFrame, Int) = {
    // canonical orientation u > v; self-pairs dropped
    val raw = pairs.select(
        greatest(col(aCol), col(bCol)).as("u"),
        least(col(aCol), col(bCol)).as("v"))
      .filter(col("u") =!= col("v")).distinct().localCheckpoint(true)
    val nodes = raw.select(col("u").as("id"))
      .union(raw.select(col("v").as("id"))).distinct().localCheckpoint(true)
    val idOrd =
      if (localEdgeCap > 0) localIdOrdering(raw.schema("u").dataType) else None

    var edges = raw
    var edgesN = raw.count() // cached scan: raw is an eager checkpoint
    var it = 0
    var converged = edgesN == 0L
    def localEligible: Boolean = idOrd.isDefined && edgesN <= localEdgeCap
    while (!converged && !localEligible && it < maxIter) {
      // large-star: each neighbor y > x re-links to min(N(x) ∪ {x})
      val adj = edges.select(col("u").as("x"), col("v").as("y"))
        .union(edges.select(col("v").as("x"), col("u").as("y")))
      val lmin = adj.groupBy("x").agg(min("y").as("m0"))
        .select(col("x"), least(col("m0"), col("x")).as("m"))
      val large = adj.join(lmin, Seq("x"))
        .filter(col("y") > col("x"))
        .select(col("y").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v")).distinct()
      // small-star: x and all its (smaller) neighbors link to the min
      val smin = large.groupBy("u").agg(min("v").as("m"))
      val (small, smallN) = Joins.checkpointCount(large.join(smin, Seq("u"))
        .select(col("v").as("n"), col("m"))
        .union(smin.select(col("u").as("n"), col("m")))
        .filter(col("n") =!= col("m"))
        .select(col("n").as("u"), col("m").as("v"))
        .distinct())
      // exact fixpoint test: both sides are distinct sets, so equal counts
      // plus an empty one-sided except means set equality. The previous
      // round's count is carried in edgesN, so each round pays one fused
      // materialize+count job plus (only on count-equality) the except.
      converged = smallN == edgesN &&
        small.except(edges).limit(1).isEmpty
      edges = small
      edgesN = smallN
      it += 1
    }
    val coreLabels: DataFrame =
      if (!converged && localEligible && edgesN > 0) {
        // local finisher: one collect of the cap-bounded core, union-find
        // with min-id roots (path-halving find), labels re-broadcast
        implicit val ord: Ordering[Any] = idOrd.get
        val parent = scala.collection.mutable.HashMap.empty[Any, Any]
        val seen = scala.collection.mutable.LinkedHashSet.empty[Any]
        def find(x: Any): Any = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent(r)
          var c = x
          while (parent.getOrElse(c, c) != c) {
            val n = parent(c); parent(c) = r; c = n
          }
          r
        }
        edges.select(col("u"), col("v")).collect().foreach { row =>
          val a = row.get(0); val b = row.get(1)
          seen += a; seen += b
          val ra = find(a); val rb = find(b)
          if (ra != rb) {
            if (ord.lt(ra, rb)) parent(rb) = ra else parent(ra) = rb
          }
        }
        val idType = raw.schema("u").dataType
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id", idType),
          org.apache.spark.sql.types.StructField("_c", idType)))
        val rows: Seq[org.apache.spark.sql.Row] =
          seen.toSeq.map(n => org.apache.spark.sql.Row(n, find(n)))
        broadcast(raw.sparkSession.createDataFrame(
          java.util.Arrays.asList(rows: _*), schema))
      } else {
        // converged state is a star forest rooted at each component's min
        edges.select(col("u").as("id"), col("v").as("_c"))
      }
    // roots (and any isolated canonicalized-away nodes) label themselves
    val labels = nodes
      .join(coreLabels, Seq("id"), "left")
      .select(col("id"), coalesce(col("_c"), col("id")).as("comp"))
    (labels, it)
  }

  /** SimHash near-dup: docs whose 32-bit simhashes differ in ≤ maxHamming bits.
    * Blocks on 4 x 8-bit sub-keys (pigeonhole: any pair with hamming ≤ 3 shares
    * at least one exact byte), so no cross join. */
  def simhashPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      maxHamming: Int = 3): DataFrame = {
    val sim = df.select(col(idCol).as("id"), H.simhash32(col(textCol)).as("sh"))
    val blocked = sim.select(
      col("id"), col("sh"),
      explode(array((0 until 4).map(i =>
        concat_ws(":", lit(i), shiftright(col("sh"), i * 8) % 256)): _*)).as("blk"))
    val a = blocked.select(col("blk"), col("id").as("id_a"), col("sh").as("sh_a"))
    val b = blocked.select(col("blk"), col("id").as("id_b"), col("sh").as("sh_b"))
    a.join(b, Seq("blk"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        H.hammingDist32(col("sh_a"), col("sh_b")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /**
   * Embedding near-dup: pairs with cosine >= threshold. Buckets by the sign
   * pattern of `planes` random-hyperplane projections (hash-seeded, so
   * deterministic); near-identical vectors agree on all signs with high
   * probability. planes=0 degrades to the exact (quadratic) variant.
   */
  def embeddingNearDup(
      df: DataFrame,
      embCol: String,
      idCol: String,
      threshold: Double = 0.95,
      planes: Int = 0,
      exactModeCap: Long = 100000L): DataFrame = {
    graft.functions.CosineSimilarity.register(df.sparkSession)
    val cosExpr = graft.functions.CosineSimilarity.cosine(
      col("emb_a"), col("emb_b"))
    val base = df.select(col(idCol).as("id"), V.toDouble(col(embCol)).as("emb"))
    if (planes <= 0) {
      // Exact mode: broadcast nested-loop join — parallelized by the left
      // side's partitions instead of collapsing onto one shuffle key. The
      // O(n²) contract is enforced, not just documented: an unbounded frame
      // here would OOM the driver at scale, so refuse loudly and point the
      // caller at the LSH path.
      val n = base.count()
      require(n <= exactModeCap,
        s"embeddingNearDup exact mode (planes=0) is quadratic: $n rows " +
          s"exceeds exactModeCap=$exactModeCap; use planes>0 (LSH buckets) " +
          "or raise the cap explicitly for a verification run")
      val a = base.select(col("id").as("id_a"), col("emb").as("emb_a"))
      val b = base.select(col("id").as("id_b"), col("emb").as("emb_b"))
      return a.crossJoin(Joins.gatedBroadcast(b, n))
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"), cosExpr.as("cos"))
        .filter(col("cos") >= threshold)
    }
    // plane_p[i] = hash(p,i) in [-1,1]; sign of dot(emb, plane_p). The
    // weights depend only on (plane, index), so they are computed ONCE on
    // the driver instead of 'planes × dim' md5 calls per row, and the
    // projection is the compiled dot_product expression — bit-identical to
    // the per-row zip_with/aggregate fold this replaces (same md5 → first
    // 15 hex chars → long → double weight derivation, same ascending-index
    // double accumulation) but a single codegen loop over a literal array.
    // Fixed-dim contract is ENFORCED: a ragged table would silently fold
    // only the first `dim` elements of longer rows. The reference dimension
    // comes from a one-row probe (cheap — reads a single row group, not a
    // full scan like the old min/max aggregate), and every row is guarded
    // IN the bucketing projection with raise_error, so the check rides the
    // scan the query pays anyway. Outcome stays deterministic: fixed-dim
    // tables bucket identically whichever row supplied `dim`; ragged tables
    // always throw. Null embeddings keep their historical flow (all-zero
    // sign bucket) rather than newly erroring.
    // The empty frame derives from `base` so id_a/id_b keep idCol's actual
    // type (string-id callers get a schema consistent with non-empty runs).
    val probe = base.select(size(col("emb")).as("sz"))
      .filter(col("sz").isNotNull).head(1)
    if (probe.isEmpty)
      return base.select(col("id").as("id_a"), col("id").as("id_b"),
        lit(0.0).as("cos")).limit(0)
    val dim = probe(0).getInt(0)
    graft.functions.DotProduct.register(df.sparkSession)
    val bucketed = {
      val guarded = when(col("emb").isNull || size(col("emb")) === dim,
          col("emb"))
        .otherwise(raise_error(concat(
          lit("embeddingNearDup LSH requires fixed-dimension embeddings; " +
            s"expected $dim, found "), size(col("emb")).cast("string"))))
      val signs = (0 until planes).map { p =>
        val weights = Array.tabulate(dim)(i => planeWeight(p, i))
        val proj = graft.functions.DotProduct.dot(col("_emb_g"), typedLit(weights))
        when(proj >= 0, lit(1)).otherwise(lit(0)).cast("string")
      }
      base.withColumn("_emb_g", guarded)
        .withColumn("bucket", concat_ws("", signs: _*))
        .drop("_emb_g")
    }
    val a = bucketed.select(col("bucket"), col("id").as("id_a"), col("emb").as("emb_a"))
    val b = bucketed.select(col("bucket"), col("id").as("id_b"), col("emb").as("emb_b"))
    a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), cosExpr.as("cos"))
      .filter(col("cos") >= threshold)
      .distinct()
  }

  /** Driver-side replica of `H.h60("plane#p#i")` mapped into [-1, 1]:
    * md5 hex → first 15 chars → parse base-16 → long → double, identical
    * IEEE steps to the Column expression it replaces (and to the DuckDB
    * oracle's `CAST(('0x'||substr(md5(...),1,15)) AS BIGINT)` replay). */
  private def planeWeight(plane: Int, i: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"plane#$plane#$i".getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString.substring(0, 15)
    java.lang.Long.parseLong(hex, 16).toDouble / 1.152921504606847e18 * 2.0 - 1.0
  }

  /**
   * SemDeDup-style semantic deduplication (Abbas et al. 2023,
   * arXiv:2303.09540): cluster the embedding space, then inside each cluster
   * drop every row that has a LOWER-id member within cosine >= threshold —
   * the deterministic exemplar rule (the paper keeps one arbitrary point per
   * ε-ball; anchoring on min id makes the choice replayable).
   *
   * Takes an already-assigned frame (`id`, `emb`, `ivf_cell` — the
   * [[MlAnn.detKmeansIvf]] / [[MlAnn.kmeansIvf]] output) so the clustering
   * cost is shared with the ANN index instead of re-trained per dedup pass.
   * The candidate join keys on the cell, so the quadratic term is bounded by
   * the largest cluster, never the corpus — the paper's own scaling
   * argument (they run k=50k clusters over LAION). One shuffle for the
   * self-join, one anti-join for the survivors; no crossJoin, no collect.
   */
  def semanticDedup(assigned: DataFrame, threshold: Double): DataFrame = {
    graft.functions.CosineSimilarity.register(assigned.sparkSession)
    val a = assigned.select(col("ivf_cell").as("cell"),
      col("id").as("id_a"), col("emb").as("emb_a"))
    val b = assigned.select(col("ivf_cell").as("cell"),
      col("id").as("id_b"), col("emb").as("emb_b"))
    val dropped = a.join(b, Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .filter(graft.functions.CosineSimilarity.cosine(
        col("emb_a"), col("emb_b")) >= threshold)
      .select(col("id_b").as("id")).distinct()
    assigned.join(dropped, Seq("id"), "left_anti")
      .select(col("id"), col("ivf_cell").as("cell"))
  }

  /**
   * Sub-document exact dedup over fixed token windows — the C4-style
   * "remove repeated spans" pass (Raffel et al. 2020 §2.2 dedupe
   * three-sentence spans; here the span is a `windowTokens`-token chunk,
   * the natural unit when the corpus has no sentence markup). Each
   * document explodes into consecutive non-overlapping chunks; each chunk
   * keeps exactly one winner — the lexicographically smallest
   * (id, chunk_idx) — plus its corpus-wide occurrence count, so a caller
   * can either drop duplicate spans or reassemble cleaned documents.
   *
   * Scale shape: the explode is narrow (no shuffle) and the winner is TWO
   * codegen'd hash aggregates — per-(hash, doc) first index + count, then
   * per-hash min_by on the scalar doc id — both with map-side partial
   * combine, so one candidate row per group per partition crosses each
   * shuffle, nothing is ever sorted, and the chunk text itself never
   * shuffles (only its md5). `min(struct(doc, idx))` would be one
   * aggregate but plans as a SortAggregate (struct buffers aren't
   * hash-aggregable — PlanShapeSpec gates this), which would sort every
   * exploded chunk row of the corpus map-side at 100 TB; the min_by forms
   * keep scalar ordering keys precisely to stay in hash aggregation, the
   * same rule [[exact]] follows.
   * Reference contract: the reference dedups whole chunks by checksum on
   * ingest (lexical-graph checksum-keyed chunk MERGE); this extends the
   * same winner-per-checksum rule below document granularity.
   */
  def windowedChunkDedup(df: DataFrame, textCol: String, idCol: String,
                         windowTokens: Int): DataFrame = {
    val chunks = windowChunks(df, textCol, idCol, windowTokens)
      .select(col("doc_id"), col("chunk_idx"), md5(col("chunk")).as("chunk_hash"))
    // lexicographic (doc_id, chunk_idx) winner without any struct buffer:
    // min chunk_idx within each (hash, doc), then scalar min/min_by over
    // the per-doc rows (doc_id is unique within each hash group here, so
    // min_by's ordering has no ties)
    val perDoc = chunks.groupBy(col("chunk_hash"), col("doc_id"))
      .agg(min(col("chunk_idx")).as("first_idx"), count(lit(1)).as("cnt"))
    perDoc.groupBy(col("chunk_hash"))
      .agg(min(col("doc_id")).as("doc_id"),
        min_by(col("first_idx"), col("doc_id")).as("chunk_idx"),
        sum(col("cnt")).as("occurrences"))
      .select(col("doc_id"), col("chunk_idx"), col("chunk_hash"),
        col("occurrences"))
  }

  /** (doc_id, chunk_idx, chunk) explode of `textCol` into consecutive
    * non-overlapping `windowTokens`-token windows — the shared narrow stage
    * under [[windowedChunkDedup]] and [[dropBoilerplateSpans]]. */
  private def windowChunks(df: DataFrame, textCol: String, idCol: String,
                           windowTokens: Int): DataFrame = {
    require(windowTokens >= 1, s"windowTokens must be >= 1, got $windowTokens")
    val toks = split(coalesce(col(textCol), lit("")), " ")
    val nChunks = ceil(size(toks) / lit(windowTokens.toDouble)).cast("int")
    // split() never returns an empty array (empty text -> [""]), so every
    // document has >= 1 chunk and sequence(0, n-1) is always ascending.
    Spread.perRowHeavy(df).select(col(idCol).as("doc_id"),
      posexplode(transform(sequence(lit(0), nChunks - 1), i =>
        array_join(slice(toks, i * windowTokens + 1, lit(windowTokens)), " ")))
        .as(Seq("chunk_idx", "chunk")))
  }

  /**
   * Boilerplate-span removal with document reassembly — the cleaning half
   * of the C4 recipe (Raffel et al. 2020 §2.2 drop lines occurring more
   * than once corpus-wide; here a span is boilerplate when its corpus
   * occurrence count EXCEEDS `maxOccurrences`): every document is rebuilt
   * from its surviving `windowTokens`-token spans in order. Documents whose
   * spans are all boilerplate disappear (no evidence left), matching
   * [[graft.ops.TextAnalysis.repetitionProfile]]'s empty-doc contract.
   *
   * Scale shape: span frequencies are one hash aggregate over md5 keys
   * (map-side combine — only hashes shuffle); the boilerplate hash SET is
   * collected and broadcast, so the chunk TEXT never crosses a shuffle for
   * the filter — a left_anti broadcast join strips offending spans where a
   * shuffled join would move the whole exploded corpus. The broadcast is
   * cap-enforced ([[knnJoin]]'s loud-refusal contract): a corpus whose
   * boilerplate set outgrows the cap needs the threshold revisited, not a
   * silent driver melt. Reassembly is one groupBy(doc) over surviving
   * spans — bounded by document length, the same bound chunking itself has.
   */
  def dropBoilerplateSpans(df: DataFrame, textCol: String, idCol: String,
                           windowTokens: Int, maxOccurrences: Long,
                           maxBoilerplateHashes: Long = 10000000L): DataFrame = {
    require(maxOccurrences >= 1,
      s"maxOccurrences must be >= 1, got $maxOccurrences")
    val chunks = windowChunks(df, textCol, idCol, windowTokens)
      .withColumn("chunk_hash", md5(col("chunk")))
    val bad = chunks.groupBy("chunk_hash")
      .agg(count(lit(1)).as("occ"))
      .filter(col("occ") > maxOccurrences)
      .select(col("chunk_hash"))
    val nBad = bad.count()
    require(nBad <= maxBoilerplateHashes,
      s"$nBad boilerplate hashes exceed maxBoilerplateHashes=" +
        s"$maxBoilerplateHashes — raise the cap (driver memory permitting) " +
        "or raise maxOccurrences")
    chunks.join(broadcast(bad), Seq("chunk_hash"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("chunk_idx"), col("chunk")))),
          s => s.getField("chunk")), " ").as("clean_text"),
        count(lit(1)).as("kept_chunks"))
  }

  /**
   * EXACT all-pairs set-similarity join (shingle-set Jaccard ≥ `tau`) via
   * prefix filtering — the deterministic complement to [[minhashLsh]]:
   * LSH banding is probabilistic (false negatives at band boundaries);
   * prefix filtering is complete. Every doc's distinct shingle set (the
   * SAME compiled [[graft.functions.WordShingles]] the minhash path uses)
   * is ordered by GLOBAL shingle rarity (doc-frequency asc, shingle asc —
   * a total order, so both engines agree); a pair with J ≥ τ must share
   * ≥ ⌈τ·|X|⌉ elements with each side X, hence its globally-rarest common
   * element sits inside BOTH prefixes of length |X| − ⌈τ·|X|⌉ + 1 — the
   * prefix-prefix join loses no qualifying pair (the AllPairs/SSJoin
   * filter, Bayardo et al. WWW'07 / Chaudhuri et al. ICDE'06).
   *
   * Scale shape: the quadratic step is the candidate join on PREFIX
   * postings only — rarity ordering puts the shortest postings lists in
   * the prefixes, which is the whole trick; common shingles (the long
   * postings) never enter the join. Verification touches candidate pairs
   * only, restricted by semi-join exactly like [[ngramJaccard]]. Returns
   * (id_a, id_b, inter, uni, jaccard) with id_a < id_b, jaccard 6dp.
   */
  def setSimilarityJoin(df: DataFrame, textCol: String, idCol: String,
                        tau: Double, shingleSize: Int = 3): DataFrame = {
    graft.functions.WordShingles.register(df.sparkSession)
    setSimilarityJoinFrom(
      Spread.perRowHeavy(df).select(col(idCol).as("id"),
          graft.functions.WordShingles.shingles(col(textCol), shingleSize)
            .as("toks"))
        .filter(size(col("toks")) >= 1)
        .localCheckpoint(true),
      tau)
  }

  /** The join over a prepared (id, toks) shingle frame — shingling is
    * ingest-time corpus material (build once, probe many, like the graph
    * layouts); the timed query runs the rank/prefix/verify passes. The
    * frame must be materialized (cached or checkpointed): it is scanned
    * by the rank pass and again by verification. */
  def setSimilarityJoinFrom(toks: DataFrame, tau: Double): DataFrame = {
    require(tau > 0.0 && tau <= 1.0, s"tau must be in (0, 1], got $tau")
    val cands = setSimilarityCandidates(toks, tau).localCheckpoint(true)
    // verification joins touch only candidate ids: restrict the (wide,
    // array-carrying) shingle frame by semi-join first — the ngramJaccard
    // discipline; without it both joins shuffle the full corpus' arrays
    val candIds = cands.select(col("id_a").as("id"))
      .union(cands.select(col("id_b"))).distinct()
    val vtoks = toks.join(candIds, Seq("id"), "left_semi")
    cands
      .join(vtoks.select(col("id").as("id_a"), col("toks").as("ta")), Seq("id_a"))
      .join(vtoks.select(col("id").as("id_b"), col("toks").as("tb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("ta"), col("tb"))).as("inter"),
        size(array_union(col("ta"), col("tb"))).as("uni"))
      .filter(col("inter").cast("double") >= lit(tau) * col("uni").cast("double"))
      .withColumn("jaccard",
        round(col("inter").cast("double") / col("uni").cast("double"), 6))
  }

  /**
   * Exact duplicate-SPAN removal (the Lee et al. 2021 "Deduplicating
   * Training Data Makes Language Models Better" semantic): find every
   * `spanTokens`-token substring that occurs more than once ANYWHERE in
   * the corpus (across or within documents) and delete all occurrences
   * except the first, rewriting the surviving text. This is finer than
   * [[exact]] (whole documents) and [[windowedChunkDedup]] (fixed
   * non-overlapping windows): a boilerplate sentence pasted mid-document
   * is found at any token offset.
   *
   * Shape: per-doc ROLLING span hashes are in-row column work (one
   * md5 per token position over the doc's own token array — no
   * position explode of the corpus); only the (id, pos, hash) span
   * table shuffles, once, for the hash-keyed first-occurrence
   * aggregates (two atomic-min HashAggregates — no window, no struct
   * SortAggregate). Removals flow back as ONE per-doc sorted drop-position
   * array (size ≤ tokens), and the rewrite is again in-row. A token is
   * dropped iff it lies inside any occurrence of a duplicated span other
   * than that span's first occurrence — deterministic under overlaps.
   *
   * Scale note: hashing each span independently costs O(spanTokens) per
   * position (the md5 re-reads the window); the classic O(1)/position
   * Rabin-Karp rolling hash needs wraparound 64-bit multiplication,
   * which SQL engines either lack or define differently — md5-of-slice
   * is the form both engines replay bit-identically. At 100 TB the
   * upgrade path is a codegen'd rolling-hash Expression (same plan
   * shape, same single shuffle); the suffix-array construction the paper
   * uses is strictly less cluster-friendly than this postings form.
   *
   * Returns (id, n_tokens, n_removed, text_clean) for EVERY input row
   * (auditable drops, [[yieldReport]] discipline).
   */
  def duplicateSpanRemoval(df: DataFrame, textCol: String, idCol: String,
                           spanTokens: Int = 50): DataFrame = {
    require(spanTokens >= 1, s"spanTokens must be >= 1, got $spanTokens")
    graft.functions.WindowRollingHashes.register(df.sparkSession)
    val toksCol = filter(split(col(textCol), "\\s+"), t => length(t) > 0)
    val base = Spread.perRowHeavy(df)
      .select(col(idCol).as("id"), toksCol.as("toks"))
    // (id, pos, h): pos is 0-based; docs shorter than the span emit none.
    // Window identities via the O(n) rolling-hash pass, 16-byte binary —
    // same constants cut as [[suffixSpanDedup]] (the md5-hex form hashed
    // O(n·L) bytes and shuffled double-width keys).
    val spans = base
      .select(col("id"), posexplode(graft.functions.WindowRollingHashes
        .windowHashes(col("toks"), spanTokens)))
      .toDF("id", "pos", "h")
    // hash-keyed first occurrence in TWO atomic-min hash aggregates:
    // min(id) per hash, then min(pos) within the winning doc. A single
    // min over an (id, pos) STRUCT would be semantically identical but
    // plans a SortAggregate (struct min isn't hash-aggregable) — a full
    // sort of the corpus-scale span table on both sides of its shuffle;
    // the second aggregate here runs over dup-hash rows only (already
    // shuffled on h by the first), so both passes stay map-side
    // combinable HashAggregates.
    val counts = spans.groupBy(col("h"))
      .agg(count(lit(1)).as("n_occ"), min(col("id")).as("keep_id"))
      .filter(col("n_occ") >= 2)
      .select(col("h"), col("keep_id"))
    val firsts = spans.join(counts, "h")
      .filter(col("id") === col("keep_id"))
      .groupBy(col("h"), col("keep_id"))
      .agg(min(col("pos")).as("keep_pos"))
    // every non-first occurrence covers positions [pos, pos+span): the
    // explode is bounded by spanTokens × duplicate occurrences, never by
    // corpus size
    val drops = spans.join(firsts, "h")
      .filter(!(col("id") === col("keep_id") && col("pos") === col("keep_pos")))
      .select(col("id"),
        explode(sequence(col("pos"), col("pos") + (spanTokens - 1))).as("dp"))
      .distinct()
      .groupBy(col("id"))
      .agg(sort_array(collect_list(col("dp"))).as("drop_pos"))
    // one row per doc rejoins its (bounded) drop array; the rewrite
    // filters the token array in-row
    base.join(drops, Seq("id"), "left")
      .select(col("id"), size(col("toks")).as("n_tokens"),
        coalesce(size(col("drop_pos")), lit(0)).as("n_removed"),
        concat_ws(" ", when(col("drop_pos").isNull, col("toks"))
          .otherwise(filter(col("toks"),
            (t, i) => !array_contains(col("drop_pos"), i))))
          .as("text_clean"))
  }

  /**
   * Suffix-bucket exact substring dedup (Lee, Ippolito, Nystrom et al.
   * 2022, "Deduplicating Training Data Makes Language Models Better"):
   * report each document's MAXIMAL spans covered by a duplicated
   * substring of at least `minTokens` tokens shared with ANOTHER
   * document. The paper builds one giant suffix array over the corpus;
   * the reduction here uses its structure without the global sort:
   * a token position lies in a cross-document duplicated substring of
   * length >= L iff SOME L-token window containing it is duplicated
   * cross-document, so (1) every suffix is bucketed by a 128-bit
   * identity of its first L tokens — the "grouped suffix ordering by a
   * fixed prefix" step, the only corpus-wide exchange, linear in corpus
   * tokens and map-side combinable; (2) buckets seen in >= 2 distinct
   * documents mark their start positions; (3) marked positions merge
   * into maximal covered intervals per document (consecutive window
   * starts p, q overlap in coverage iff q - p <= L), a per-document
   * window over the (small) marked subset. The identity is
   * [[graft.functions.WindowRollingHashes]] — a double 64-bit rolling
   * hash computed in O(n) per document and shuffled as 16 binary bytes
   * (the original md5-hex form re-hashed O(n·L) bytes and shipped
   * 32-char keys) — the same treat-128-bits-as-exact discipline as
   * [[windowedChunkDedup]] / [[duplicateSpanRemoval]].
   *
   * Distinct from [[duplicateSpanRemoval]] (drops non-first fixed-L
   * occurrences) and [[windowedChunkDedup]] (fixed non-overlapping
   * windows): the output is the merged MAXIMAL duplicated region —
   * a 30-token boilerplate shared by two docs surfaces as ONE 30-token
   * span, not 23 overlapping L-grams — which is what the paper's
   * removal step consumes.
   *
   * Never a global suffix array: the shuffled payload is (id, pos, h)
   * rows — no suffix text crosses the wire — and the interval merge
   * partitions by document. Returns (id, start_pos, span_tokens,
   * span_text), start_pos 0-based in tokens.
   *
   * Scale probe (the since-removed `suffixscale`, sf0.1, token-namespaced 8×
   * replication): per-row cost 566 µs at 1× → 110 µs at 8× — sub-linear
   * (fixed overhead amortizes; no super-linear stage anywhere).
   */
  def suffixSpanDedup(df: DataFrame, textCol: String, idCol: String,
                      minTokens: Int = 50): DataFrame = {
    require(minTokens >= 2, s"minTokens must be >= 2, got $minTokens")
    val L = minTokens
    graft.functions.WindowRollingHashes.register(df.sparkSession)
    val toksCol = filter(split(col(textCol), "\\s+"), t => length(t) > 0)
    val base = Spread.perRowHeavy(df)
      .select(col(idCol).as("id"), toksCol.as("toks"))
    // window identities in ONE O(n) rolling pass, 16-byte binary keys —
    // the composed md5(concat_ws(slice)) form re-hashed O(n·L) bytes per
    // doc and shuffled 32-char hex where 16 binary bytes carry the same
    // 128 bits (round-9 verdict: both constants are real money on the
    // operator's one corpus-wide exchange)
    val wins = base
      .select(col("id"), posexplode(
        graft.functions.WindowRollingHashes.windowHashes(col("toks"), L)))
      .toDF("id", "pos", "h")
    // cross-document duplicated buckets: >= 2 DISTINCT docs (a span
    // repeated within one document is self-similarity, not the paper's
    // cross-example duplication; within-doc repeats of a cross-doc span
    // still mark, correctly, via the bucket membership)
    val dup = wins.groupBy(col("h"))
      .agg(count_distinct(col("id")).as("nd"))
      .filter(col("nd") >= 2)
      .select(col("h"))
    val marked = wins.join(dup, "h").select(col("id"), col("pos"))
    // maximal-interval merge per doc: window starts p < q have
    // contiguous-or-overlapping coverage iff q - p <= L, so a gap > L
    // starts a new span; the window sort runs over marked positions
    // only, partitioned by document
    val byDoc = Window.partitionBy(col("id")).orderBy(col("pos"))
    val spans = marked
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(byDoc) > L, 1)
          .otherwise(lit(0)))
      .withColumn("grp", sum(col("brk")).over(
        byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("id"), col("grp"))
      .agg(min(col("pos")).as("start_pos"),
        (max(col("pos")) - min(col("pos")) + L).as("span_tokens"))
    // one equi-join back to the doc row renders the span text in-row;
    // output volume is proportional to duplicated content, not corpus
    spans.join(base, "id")
      .select(col("id"), col("start_pos"), col("span_tokens"),
        concat_ws(" ", slice(col("toks"), col("start_pos") + 1,
          col("span_tokens"))).as("span_text"))
  }

  /**
   * Winnowing fingerprints (Schleimer, Wilkerson, Aiken 2003 — the MOSS
   * scheme): hash every `k`-token gram, slide a window of `w` consecutive
   * gram hashes, and select each window's MINIMUM hash (rightmost
   * position on ties); the distinct selected (hash, pos) pairs are the
   * document's fingerprints. The winnowing guarantee: any shared
   * substring of at least k+w−1 tokens between two documents yields at
   * least one IDENTICAL selected hash in both — local, position-robust
   * contamination/plagiarism detection that [[minhashLsh]] (whole-doc
   * similarity) and [[duplicateSpanRemoval]] (exact fixed-length spans)
   * don't give: density is guaranteed (≥1 fingerprint per w grams) yet
   * the set is ~2/(w+1) the size of the full gram list.
   *
   * Shape: ENTIRELY in-row — winnowing is a per-document sequential
   * scan, so gram hashing, the per-window rightmost-argmin fold, and the
   * within-doc distinct all run as array expressions on the document's
   * own row; the only row produced per fingerprint is the final explode.
   * ZERO shuffles, no join (the first formulation exploded each gram to
   * its w windows and re-joined — two exchanges over a w×-grams table;
   * this form measured ~3× faster at sf0.1 and is the difference between
   * shuffling 100 TB×w and shuffling nothing). Short docs with fewer
   * than w grams form one truncated window at j=0, the standard
   * degenerate case.
   *
   * Returns distinct (id, pos, fp) — `pos` the 0-based gram position of
   * the selected fingerprint `fp` (60-bit gram hash).
   */
  def winnowingFingerprints(df: DataFrame, textCol: String, idCol: String,
                            k: Int = 3, w: Int = 4): DataFrame = {
    require(k >= 1 && w >= 1, s"k and w must be >= 1, got k=$k w=$w")
    val toks = filter(split(col(textCol), "\\s+"), t => length(t) > 0)
    val base = Spread.perRowHeavy(df)
      .select(col(idCol).as("id"), toks.as("toks"))
      .filter(size(col("toks")) >= k)
      .select(col("id"), transform(
        sequence(lit(0), size(col("toks")) - k),
        i => H.h60(concat_ws(" ", slice(col("toks"), i + 1, lit(k)))))
        .as("g"))
    // per window start j: left-fold the ≤ w member positions, keeping the
    // minimal hash and — via <= — the RIGHTMOST position on ties
    val sel = transform(
      sequence(lit(0), greatest(size(col("g")) - w, lit(0))),
      j => aggregate(
        sequence(j, least(j + (w - 1), size(col("g")) - 1)),
        struct(lit(Long.MaxValue).as("fp"), lit(-1).as("pos")),
        (acc, p) => when(element_at(col("g"), p + 1) <= acc("fp"),
          struct(element_at(col("g"), p + 1).as("fp"), p.as("pos")))
          .otherwise(acc)))
    base.select(col("id"), explode(array_distinct(sel)).as("s"))
      .select(col("id"), col("s.pos").as("pos"), col("s.fp").as("fp"))
  }

  /**
   * Document pairs sharing winnowing fingerprints — the overlap join MOSS
   * runs over [[winnowingFingerprints]] output: two documents sharing a
   * substring of ≥ k+w−1 tokens share ≥ 1 fingerprint, so counting
   * distinct shared fingerprints per pair ranks likely contamination.
   *
   * Scale discipline: a fingerprint held by d documents contributes
   * d·(d−1)/2 pairs, so ubiquitous boilerplate hashes would square the
   * corpus — fingerprints with document frequency > `maxDf` are DROPPED
   * before the self-join (the postings stop-word rule; they carry no
   * discriminative signal anyway), bounding the explode at maxDf× per
   * fingerprint. One fp-keyed equi-join + one pair aggregate.
   *
   * Returns (id_a, id_b, shared) with id_a < id_b and
   * shared ≥ `minShared` distinct surviving fingerprints.
   */
  def winnowOverlapPairs(fps: DataFrame, minShared: Int = 2,
                         maxDf: Int = 50): DataFrame = {
    require(minShared >= 1 && maxDf >= 2,
      s"minShared >= 1 and maxDf >= 2 required, got $minShared/$maxDf")
    val docFp = fps.select(col("id"), col("fp")).distinct()
    val kept = docFp.groupBy(col("fp"))
      .agg(count(lit(1)).as("_df"))
      .filter(col("_df") <= maxDf)
      .select(col("fp"))
    val pruned = docFp.join(kept, Seq("fp"))
    pruned.as("l").join(pruned.as("r"),
        col("l.fp") === col("r.fp") && col("l.id") < col("r.id"))
      .groupBy(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** The candidate-generation half of [[setSimilarityJoinFrom]] (everything
    * before verification), exposed so the skew probe can COUNT candidate
    * pairs — the quantity the AllPairs papers warn explodes under Zipfian
    * element distributions. Returns distinct (id_a, id_b), id_a < id_b.
    *
    * Measured Zipf-skew behavior (since-removed probe `setsimskew`, df(k) = N/k
    * harmonic corpus, τ = 0.6, V = 256 element vocabulary, N = 4k/8k/16k):
    * on the DUP-HEAVY variant (the raw harmonic sets, where the true
    * result is itself quadratic — every prime-indexed doc shares one
    * identical set) candidates run 0.5M/2.1M/8.2M ≈ 1.9× the true output
    * pairs at every N — output-bounded, which is the best an EXACT join
    * can do. On the salted variant (per-doc unique elements kill the true
    * dups; hot head tokens are pure false-candidate bait) candidates are
    * a stable ~1.34% of the N²/2 space — ~75× below brute force and
    * ~120× below the Σdf·(df−1)/2 all-token join — because the
    * df-ascending prefix order sorts the hot tokens (df ≈ N) LAST within
    * every doc's ranked list, outside the ⌈(1−τ)·n⌉+1 prefixes; only the
    * short rare-token postings enter the join. The residual quadratic
    * component is inherent to AllPairs under Zipf (rare-token postings
    * still pair within themselves); at corpus scale the standard
    * mitigations compose — raise τ, or run [[minhashLsh]] first and use
    * this join only to make band-survivor pairs exact. */
  def setSimilarityCandidates(toks: DataFrame, tau: Double): DataFrame = {
    require(tau > 0.0 && tau <= 1.0, s"tau must be in (0, 1], got $tau")
    val exploded = toks.select(col("id"), size(col("toks")).as("n"),
      explode(col("toks")).as("tok"))
    val freq = exploded.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val ranked = exploded.join(freq, "tok")
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("id"))
          .orderBy(col("df"), col("tok"))))
      .filter(col("rk") <= col("n") - ceil(lit(tau) * col("n")) + 1)
      // a df=1 prefix element exists in exactly one doc — it can never
      // produce a candidate pair; dropping those rows BEFORE the self-join
      // shrinks the join input to only genuinely-shared shingles (most of
      // a near-dup-free corpus' shingles are unique, so this is the bulk)
      .filter(col("df") >= 2)
      .select(col("id"), col("n"), col("rk"), col("tok"))
    // Standard AllPairs refinements on the candidate join itself (round-12,
    // guide §3 "cut candidate pairs before they exist"), both EXACT:
    //  - length filter: J ≥ τ forces τ·max(|X|,|Y|) ≤ min(|X|,|Y|) —
    //    size-mismatched pairs never enter the distinct;
    //  - positional filter (PPJoin / Vernica et al. SIGMOD'10): a shared
    //    token at ranks (i, j) can contribute an overlap of at most
    //    1 + min(|X|−i, |Y|−j) (both prefixes are ranked in the SAME
    //    global order), and J ≥ τ needs overlap ≥ τ/(1+τ)·(|X|+|Y|).
    //    Complete because a qualifying pair's FIRST shared token in the
    //    global order bounds the whole overlap from its own ranks, so at
    //    least that generating row always survives the filter.
    val o = least(col("p.n"), col("q.n"))
    val u = greatest(col("p.n"), col("q.n"))
    val posUb = lit(1) + least(col("p.n") - col("p.rk"),
      col("q.n") - col("q.rk"))
    ranked.as("p").join(ranked.as("q"),
        col("p.tok") === col("q.tok") && col("p.id") < col("q.id") &&
          o.cast("double") >= lit(tau) * u.cast("double") &&
          posUb.cast("double") >=
            lit(tau / (1.0 + tau)) * (col("p.n") + col("q.n")).cast("double"))
      .select(col("p.id").as("id_a"), col("q.id").as("id_b"))
      .distinct()
  }
}
