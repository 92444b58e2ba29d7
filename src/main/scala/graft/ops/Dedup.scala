package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.{VectorFunctions => V}

/**
 * Near-duplicate operators: statement diversity (minhash-LSH and TF-IDF),
 * proper-prefix pruning, and embedding-space dedup.
 *
 * Scale notes (the 100 TB story):
 *  - minhash-LSH only ever shuffles (band_key | bucket) pairs, so candidate
 *    generation is linear in corpus size; pair verification happens within
 *    buckets only (never a cross join);
 *  - embedding near-dup buckets by LSH sign-projection before the pairwise
 *    cosine, so the quadratic step is per-bucket.
 */
object Dedup {

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
}
