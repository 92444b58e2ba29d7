package graft

/**
 * Scale-discipline gate over the physical plans of the declarative query
 * inventory: nothing in the headline set may plan a CartesianProduct, and
 * a BroadcastNestedLoopJoin is tolerated only where the build side is
 * bounded by construction (a scalar aggregate, a literal frame, or a
 * limit'd top-k) — those are the sites 100×-ing the data cannot blow up.
 *
 * Driver-loop queries (beams, BFS, agentic) are excluded: they execute
 * jobs at plan-construction time and their per-hop join shapes are
 * asserted by their own specs + the no-unbounded-broadcast spec.
 *
 * Known coverage gap: q_processor_chain and q_full_chain localCheckpoint
 * (eagerly) after their 10-step head pipeline, which truncates lineage —
 * this gate only inspects their post-checkpoint tail. The head's operator
 * shapes are covered indirectly via the other q_* entries that share those
 * operators (dedup/rescore/prune/truncate each have their own gated entry
 * here).
 */
class PlanShapeSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  /** Declarative inventory entries whose full physical plan must be free of
    * unbounded cross products. */
  private val declarative = Seq(
    "q_agg_sums", "q_join_chain", "q_central_materialization",
    "q_nested_collect", "q_window_topn", "q_window_lag_chain",
    "q_dedup_window",
    "q_union_distinct", "q_anti_join", "q_semi_join", "q_metadata_filter",
    "q_scd2_intervals", "q_version_merge", "q_version_latest",
    "q_asof_snapshot", "q_delete_cascade", "q_checkpoint_filter",
    "q_chunk_split", "q_search_normalize", "q_multitenant_scope",
    "q_processor_chain", "q_full_chain", "q_lexical_statements",
    "q_lexical_entities", "q_lexical_relations", "q_text_profile",
    "q_redact_pii", "q_ngram_freq",
    "q_embedding_neardup_lsh", "q_cumsum_budget", "q_orderpreserve_dedup",
    // round 4: the det-KMeans probe (training runs in the warmed Tables
    // layer; the query plan itself is a flat filter + top-k) and the real
    // image-decode pipeline
    "q_ivf_kmeans", "q_multimodal_decode",
    // round 5: centrality, semantic dedup, bloom anti —
    // all must stay cell/key-joined, never cross-product
    "q_pagerank", "q_semantic_dedup",
    "q_bloom_anti_join",
    // round 5: temporal joins — the as-of is a window (no join node at
    // all), the range join must stay a (key, bin) equi-join
    "q_asof_join", "q_range_join",
    // round 5: exact quantile profile and the cluster balance profile —
    // plain aggregate plans, no join node at all
    "q_length_quantiles", "q_cluster_profile",
    // round 5 (late): PQ ADC scan, audio decode pipeline, vocab stats,
    // grouping-sets rollup, triangle counting, k-core, communities, PPR —
    // all key-joined or join-free
    "q_pq_topk", "q_audio_decode", "q_vocab_stats", "q_corpus_rollup",
    "q_triangle_counts", "q_kcore", "q_label_prop", "q_ppr",
    // round 6: the cell-keyed kNN graph, which must never plan the corpus
    // cross product
    "q_knn_graph", "q_ivf_pq_topk",
    "q_hits",
    // round 6 (late): snapshot diff + column profile are join-free
    // aggregates; heavy hitters is two aggregate passes (candidate list
    // rides an InSet literal, not a join); RRF joins two limit-bounded
    // rank lists
    "q_version_diff", "q_column_profile", "q_heavy_hitters", "q_rrf_fusion",
    // round 6 (late): entity mean-embeddings (one equi-join + one 64-slot
    // hash aggregate) and the walk steps (two equi-joins per step — the
    // degree fan-out shape would be a cross-product-like blowup)
    "q_entity_embedding", "q_random_walks", "q_jl_topk",
    "q_heavy_hitters_by_source",
    // round 6 (late): postings build — explode + two hash aggregates +
    // broadcast df join (q_clustering_coeff excluded: its output frame is
    // driver-composed literals over the warmed triangle layout) — and the
    // openCypher MATCH compiler, whose patterns must stay typed equi-joins
    "q_postings", "q_cypher_match", "q_cypher_varlength",
    "q_cypher_multipart", "q_cypher_optional",
    // round 6 (cont.): metadata-filtered VSS — a flat filter + top-k scan
    "q_filtered_topk",
    // round 7: event analytics (user-keyed join chains), the projection /
    // link-prediction / modularity family (capped self-joins + the 1-row
    // broadcast total), incremental IVF assign (join-free argmin select),
    // co-occurrence (broadcast vocab + per-doc pair join), version GC
    // (pure predicate), weighted PageRank, grouped Cypher count
    "q_funnel", "q_retention", "q_copurchase_project", "q_adamic_adar",
    "q_modularity", "q_ivf_assign",
    "q_cooccurrence", "q_version_gc", "q_weighted_pagerank",
    "q_cypher_groupcount",
    // round 7 (cont.): Jaccard links is the capped wedge self-join +
    // degree equi-joins; occupancy is one
    // explode + one aggregate, no join node at all
    "q_jaccard_link", "q_concurrency",
    // round 7 (cont.): cluster-balanced sample (heap aggregate over the
    // literal-centroid assignment — join-free) and rate anomalies (window
    // over the per-type bucket COUNTS frame, join-free)
    "q_cluster_sample", "q_rate_anomaly",
    // round 7 (cont.): PSI drift (full-outer key join + 1-row broadcast
    // total), the interval-overlap join (a lost bin key would plan the
    // session cross product this gate exists to catch), and the Markov
    // transition matrix (user-keyed window + counts-frame normalizer)
    "q_cluster_drift", "q_interval_join", "q_transitions",
    // round 7 (cont.): skip-gram pairs (walk-id-keyed self-join over the
    // checkpointed walks) and negative-sampling weights (counts + 1-row
    // broadcast total)
    "q_skipgram", "q_negative_weights",
    // round 7 (cont.): corpus-health stats (token-count aggregate + heap
    // rank + two per-group aggregates, grp-keyed join)
    "q_zipf_entropy",
    // round 7 (cont.): windowed funnel (user-keyed join chain), Tukey outliers
    // (|types|-row broadcast bounds join)
    "q_funnel_windowed", "q_value_outliers",
    // round 7 (cont.): LOCF forward fill (one user-keyed running window)
    "q_forward_fill",
    // round 7 (final): degree histogram and the langid confusion matrix —
    // both join-free aggregates (the confusion window runs over the
    // |langs|² counts frame)
    "q_degree_hist", "q_langid_confusion",
    // round 7 (cont. session): property-anchored / prefix Cypher (typed
    // equi-joins like the other MATCH gates)
    "q_cypher_propmap", "q_cypher_startswith", "q_rerank_crossenc",
    // round 7 (cont. session): the OR / alternation / top-count Cypher
    // forms — still typed equi-joins (the OR is a residual filter, the
    // alternation a label-IN scan filter, the top count an agg+TakeOrdered)
    "q_cypher_or", "q_cypher_alttype", "q_cypher_topcount",
    // round 7 (cont. session): perceptual-hash image dedup — the near-dup
    // join must stay a band-key equi-join (a lost band key would plan the
    // image-corpus cross product)
    "q_image_phash", "q_image_neardup",
    // round 7 (cont. session): NFC normalization — a pure per-row column
    // program (the expression must stay inside codegen, no join/exchange)
    "q_nfc_normalize",
    // round 7 (cont. session): URL canonicalization (per-row regex
    // program + one canon-keyed window)
    "q_url_canonical",
    // round 7 (cont. session): count(v) Cypher — left-join + hash agg —
    // and the relationship-variable scan (one projected edge scan)
    "q_cypher_countvar", "q_cypher_reltype",
    // round 7 (cont. session): IS NULL anti-join — left join + null filter
    "q_cypher_isnull",
    // round 8: Cypher node-property access (one pruned left equi-join per
    // property-reading variable against the props frame) and the exact
    // tfidf diversity (term-keyed postings joins; a lost term key or a
    // lost prefix filter would surface as a cross product here)
    "q_cypher_props", "q_statement_diversity_tfidf",
    // round 8: numeric-threshold and grouped-aggregate Cypher — typed
    // equi-joins + props join + hash agg + TakeOrdered, like the others —
    // and the WITH pipeline (stage-1 plan + residual filter + projection)
    "q_cypher_numeric", "q_cypher_agg", "q_cypher_with",
    // round 8 (cont. session): collect() — grouped sort_array aggregate
    "q_cypher_collect",
    // round 8 (cont. session): WITH ... MATCH — stage-1 grouped plan
    // joined into the tail pattern's equi-join chain on the piped key —
    // and grouped count(DISTINCT): 2-hop equi-joins + distinct hash agg
    "q_cypher_with_match", "q_cypher_groupdistinct",
    // round 8 (cont. session): UNWIND — a literal one-column frame
    // equi-joined into the pattern chain (broadcastable seed list) —
    // and sampled betweenness: (seed, node)-keyed BFS joins + folds
    "q_cypher_unwind", "q_betweenness",
    // round 8 (cont. session): centroid silhouette — literal-centroid
    // distance folds per row, ONE per-cell aggregate, no join at all
    "q_cluster_silhouette")

  /** Bounded-by-construction BNLJ sites: scalar-aggregate thresholds
    * (prune), single-row tf-idf corpus stats, literal query vectors. */
  private val boundedBnlj = Set(
    "q_processor_chain", "q_full_chain",
    "q_prune_threshold", "q_tfidf_rerank", "q_vector_topk",
    "q_vector_diverse_topk", "q_ivf_topk_full_probe", "q_filtered_topk",
    "q_statement_diversity",
    // round 7: 1-row broadcast totals (2m scalar / corpus doc count /
    // drift totals / negative-sampling weight total)
    "q_modularity", "q_cooccurrence", "q_cluster_drift",
    "q_negative_weights",
    // round 8: the exact tfidf diversity's 1-row N-docs frame (the idf
    // numerator) crossed onto the per-term weight rows
    "q_statement_diversity_tfidf")
    // (q_hits no longer appears here: the end-normalization rewrite
    // collects both maxima as driver literals, so its plan must be
    // BNLJ-free like the rest — keeping the stale allowance would mask a
    // reintroduced cross normalizer)

  test("no CartesianProduct anywhere in the declarative inventory") {
    val offenders = declarative.flatMap { name =>
      val plan = SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.executedPlan.toString
      if (plan.contains("CartesianProduct")) Some(name) else None
    }
    assert(offenders.isEmpty, s"CartesianProduct in: $offenders")
  }

  test("BroadcastNestedLoopJoin only on bounded build sides") {
    val offenders = declarative.filterNot(boundedBnlj).flatMap { name =>
      val plan = SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.executedPlan.toString
      if (plan.contains("BroadcastNestedLoopJoin")) Some(name) else None
    }
    assert(offenders.isEmpty, s"unexpected BroadcastNestedLoopJoin in: $offenders")
  }

  test("filteredTopK pushes the metadata predicate into the parquet scan") {
    // the whole point of compiling FilterAst below the scoring projection:
    // the label predicate must reach PushedFilters (row-group pruning at
    // scale), not run as a post-scan Filter over scored rows
    val plan = SparkEntry.queries("q_filtered_topk")(spark, sfDir)
      .queryExecution.executedPlan.toString
    val scanLine = plan.linesIterator.find(_.contains("PushedFilters:"))
    assert(scanLine.isDefined, s"no PushedFilters in plan:\n$plan")
    assert(scanLine.get.contains("label"),
      s"label predicate not pushed to the scan: ${scanLine.get}")
  }

  test("Misra-Gries sketch pass plans as ObjectHashAggregate, the exact " +
    "recount as HashAggregate — no sort anywhere") {
    // the sketch is a TypedImperativeAggregate: it must ride the object
    // hash aggregate (map-side partials, O(capacity) state), not the
    // SortAggregate fallback that would sort every token row at 100 TB
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    graft.functions.WordGrams.register(spark)
    val sketch = docs
      .select(graft.functions.WordGrams.grams(col("text"), 1).as("toks"))
      .agg(org.apache.spark.sql.GraftSqlBridge.misraGries(col("toks"), 64))
    val sketchPlan = sketch.queryExecution.executedPlan.toString
    assert(sketchPlan.contains("ObjectHashAggregate"), s"\n$sketchPlan")
    assert(!sketchPlan.contains("SortAggregate"), s"\n$sketchPlan")
    val hh = graft.ops.TextAnalysis.heavyHitters(docs, "text", n = 1,
      phiNum = 1, phiDen = 10, capacity = 32)
    val hhPlan = hh.queryExecution.executedPlan.toString
    assert(!hhPlan.contains("SortAggregate"), s"\n$hhPlan")
    assert(!hhPlan.contains("Join"), s"candidate filter must be a pushed " +
      s"InSet predicate, not a join:\n$hhPlan")
  }

  test("label propagation rounds never sort: hash aggregates only") {
    // the int-id encoding exists precisely so no string reaches an
    // aggregation buffer — a SortAggregate here means the winner fold
    // regressed to the struct-min_by form that sorts the votes twice a
    // round
    val (und, nodes) = graft.queries.Tables.lpaLayout(spark, sfDir)
    val plan = graft.byokg.Traversal.labelPropagationIterate(und, nodes, 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SortAggregate"), s"sort aggregate in LPA:\n$plan")
    assert(plan.contains("HashAggregate"))
  }

  test("k-core peels and triangle counting join only by broadcast") {
    // both ops hinge on never re-shuffling the edge frame: survivors /
    // adjacency ride broadcasts, so a SortMergeJoin in either plan means a
    // full-width edge shuffle snuck back in
    // typed collect with AQE off (an AdaptiveSparkPlan wrapper has no
    // children to traverse): the cached layouts embed their one-off build
    // lineage (which legitimately merge-joins) inside InMemoryTableScan
    // leaves, where tree traversal stops — only per-query joins count
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      def smjCount(df: org.apache.spark.sql.DataFrame): Int =
        df.queryExecution.executedPlan.collect {
          case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
        }.size
      val (und, _) = graft.queries.Tables.lpaLayout(spark, sfDir)
      und.count()
      val kcore = graft.byokg.Traversal
        .kCorePeelFrom(und.toDF("src", "dst"), k = 2, rounds = 3)
      assert(smjCount(kcore) == 0, "SMJ in k-core peels")
      val tri = graft.queries.Tables.coPurchaseTriangleLayout(spark, sfDir)
      tri.count()
      val triangles = graft.byokg.Traversal.triangleCountsFrom(tri)
      assert(smjCount(triangles) == 0, "SMJ in triangle counting")
      assert(triangles.queryExecution.executedPlan.collect {
        case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
      }.nonEmpty)
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("unicode_normalize stays inside whole-stage codegen (no UDF " +
    "boundary, no fallback project)") {
    graft.GraftExtensions.registerAll(spark)
    val plan = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(graft.functions.UnicodeNormalize
        .unicodeNormalize(org.apache.spark.sql.functions.col("text")))
      .queryExecution.executedPlan.toString
    // the `*(n)` operator prefix is the WholeStageCodegen marker in the
    // compact plan string — the Project evaluating the expression must
    // carry it (a CodegenFallback expression would strip it)
    assert(plan.contains("*(1) Project"), s"no codegen span:\n$plan")
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"),
      s"UDF boundary:\n$plan")
  }

  test("prefix dedup is join-free: sorted-successor windows, no self-join") {
    // the round-7 plan bucketed on the first character and self-joined per
    // bucket — quadratic in bucket size. The sorted-successor plan must have
    // NO join node at all: one range sort + lead(), plus an O(partitions)
    // boundary window.
    val plan = SparkEntry.queries("q_prefix_dedup")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"join in prefix dedup:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cross product:\n$plan")
    assert(plan.contains("Window"), s"expected window plan:\n$plan")
  }

  test("embedding-interaction rerank is one narrow pass + bounded top-k") {
    val plan = new graft.byokg.EmbeddingInteractionReranker(dim = 8)
      .rerankTopK("q", spark.read.parquet(s"$sfDir/documents.parquet"),
        "text", 10, "doc_id")
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"no top-k merge:\n$plan")
    assert(!plan.contains("Join"), s"join in rerank scan:\n$plan")
  }

  test("corpus rollup is one grouping-sets pass: Expand + hash aggregate") {
    val plan = graft.ops.TextAnalysis.corpusRollup(
        spark.read.parquet(s"$sfDir/documents.parquet"), "text", "source")
      .queryExecution.executedPlan.toString
    assert(plan.contains("Expand"), s"no grouping-sets Expand:\n$plan")
    assert(!plan.contains("SortAggregate"), s"sort aggregate:\n$plan")
  }

  test("PQ ADC top-k is a join-free scan + TakeOrderedAndProject") {
    val (encoded, cbs) = graft.queries.Tables.pqIndex(spark, sfDir)
    val plan = graft.ops.MlAnn.pqTopK(encoded, cbs,
        Seq.fill(64)(0.1), k = 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"no top-k:\n$plan")
    assert(!plan.contains("Join"), s"join in ADC scan:\n$plan")
  }

  test("parquet scans prune columns: no q_* scan reads the full lineitem row") {
    // column pruning must reach the file scan (required schema strictly
    // narrower than the table) for the agg/window inventory entries over
    // lineitem. AQE off so the scan nodes are reachable in the plan tree.
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      for (name <- Seq("q_agg_sums", "q_cumsum_budget", "q_window_topn")) {
        val reads = SparkEntry.queries(name)(spark, sfDir)
          .queryExecution.executedPlan.collect {
            case f: org.apache.spark.sql.execution.FileSourceScanExec =>
              f.requiredSchema.fieldNames.toSeq
          }
        assert(reads.nonEmpty, s"$name: no file scan found")
        // full lineitem is 16 columns; every scan in these plans needs < 10
        assert(reads.forall(_.length < 10),
          s"$name reads too many columns: $reads")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }
}
