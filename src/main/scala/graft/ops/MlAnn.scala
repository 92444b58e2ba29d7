package graft.ops

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.feature.BucketedRandomProjectionLSH
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{CosineSimilarity, VectorFunctions => V}

/**
 * MLlib-backed approximate-nearest-neighbor paths (SURVEY.md §2.3 scale
 * variants; reference vector stores use OpenSearch knn / pgvector ivfflat —
 * these are the in-engine equivalents):
 *
 *  - IVF: KMeans centroids partition the index into `nlist` cells; a query
 *    scans only the `nprobe` cells whose centroids are nearest. The
 *    hand-rolled hash-bucket variant lives in [[Similarity]]; this one
 *    learns real centroids, which is what keeps recall at scale.
 *  - LSH: MLlib BucketedRandomProjectionLSH over L2-normalized vectors
 *    (Euclidean NN on normalized vectors = cosine NN).
 *
 * Both are deterministic given the seed.
 */
object MlAnn {

  private def toVec(embCol: Column): Column =
    array_to_vector(embCol.cast("array<double>"))

  /** Assign every row to a KMeans cell. Returns (assigned frame with
    * `ivf_cell`, centroid arrays indexed by cell id). */
  def kmeansIvf(index: DataFrame, embCol: String, idCol: String,
                nlist: Int, seed: Long = 7L): (DataFrame, Array[Array[Double]]) = {
    val vecs = index.select(col(idCol).as("id"),
      V.toDouble(col(embCol)).as("emb"),
      toVec(col(embCol)).as("features"))
    val model = new KMeans().setK(nlist).setSeed(seed).setFeaturesCol("features")
      .fit(vecs)
    val assigned = model.transform(vecs)
      .select(col("id"), col("emb"), col("prediction").as("ivf_cell"))
    (assigned, model.clusterCenters.map(_.toArray))
  }

  /** Deterministic Lloyd's KMeans for the IVF index. Unlike [[kmeansIvf]],
    * whose k-means|| init draws from MLlib-internal RNG streams, every step
    * here is engine-replayable arithmetic:
    *
    *  - init: the centroids are the embeddings of the `nlist` smallest ids;
    *  - assignment: argmin of squared distance, computed as a sequential
    *    left fold in array-index order, ties to the lower cell index;
    *  - update: per-cell mean via an id-ordered elementwise fold (so the
    *    summation order never depends on partitioning), empty cells keep
    *    their previous centroid.
    *
    * The same iterations unroll into ANSI SQL with ordered list folds, which
    * is what lets q_ivf_kmeans carry a full hash oracle instead of a
    * rows-only gate. Each iteration collects only the `nlist` centroid sums
    * driver-side (O(nlist*dim)); the per-cell collect_list bounds training
    * to an ingest-time sample at scale — which is how IVF indexes are
    * trained anyway (probing stays fully distributed).
    * Reference contract: vector-store ivfflat indexing
    * (pgvector ivfflat / OpenSearch knn in graphrag-toolkit
    * lexical-graph storage backends). */
  def detKmeansIvf(index: DataFrame, embCol: String, idCol: String,
                   nlist: Int, iters: Int = 2): (DataFrame, Array[Array[Double]]) = {
    require(nlist >= 1 && iters >= 0, s"need nlist>=1, iters>=0; got $nlist/$iters")
    val base = index.select(col(idCol).as("id"), V.toDouble(col(embCol)).as("emb"))
    var centers: Array[Array[Double]] = base.orderBy("id").limit(nlist)
      .select("emb").collect().map(_.getSeq[Double](0).toArray)
    require(centers.length == nlist, s"index has fewer than $nlist rows")
    val dim = centers.head.length
    val zero = typedlit(Seq.fill(dim)(0.0))
    for (_ <- 1 to iters) {
      val sums = base.withColumn("cell", nearestCell(col("emb"), centers))
        .groupBy("cell").agg(count(lit(1)).as("n"),
          aggregate(array_sort(collect_list(struct(col("id"), col("emb")))),
            zero, (acc, m) => zip_with(acc, m.getField("emb"), _ + _)).as("s"))
        .collect()
      val next = centers.map(_.clone()) // empty cells keep their centroid
      sums.foreach { r =>
        val n = r.getLong(1).toDouble
        next(r.getInt(0)) = r.getSeq[Double](2).map(_ / n).toArray
      }
      centers = next
    }
    val assigned = base.select(col("id"), col("emb"),
      nearestCell(col("emb"), centers).as("ivf_cell"))
    (assigned, centers)
  }

  /** Argmin-of-sqdist cell id as a single codegen'd expression: the
    * centroids ride along as one array<array<double>> literal, each sqdist
    * is an ordered fold evaluated exactly once, and
    * array_position(_, array_min(_)) takes the FIRST minimum — ties to the
    * lower cell index, matching the oracle's `ORDER BY dist, cell` rank.
    * (sqdists are sums of non-negative products, so -0.0 can never appear
    * and the position lookup's value equality is safe.) */
  private def nearestCell(emb: Column, centers: Array[Array[Double]]): Column = {
    val cArr = typedlit(centers.map(_.toSeq).toSeq)
    val dists = transform(cArr, c =>
      aggregate(zip_with(emb, c, (a, b) => (a - b) * (a - b)),
        lit(0.0), (acc, x) => acc + x))
    (array_position(dists, array_min(dists)) - 1).cast("int")
  }

  /** Stateless cell assignment against a FROZEN codebook — the same argmin
    * expression training/probing use, exposed so incremental ingest (batch
    * appends or a structured stream) can route new vectors into the index
    * without retraining: a pure codegen'd select, no shuffle, no state.
    * See [[graft.streaming.StreamingVectors]]. */
  def assignCells(index: DataFrame, embCol: String, idCol: String,
                  centers: Array[Array[Double]]): DataFrame =
    index.select(col(idCol).as("id"), V.toDouble(col(embCol)).as("emb"))
      .withColumn("ivf_cell", nearestCell(col("emb"), centers))

  /** IVF probe: scan the `nprobe` cells nearest the query (centroid ranking
    * happens driver-side over the tiny centroid array), cosine top-k inside.
    * Recall contract: EXACT (the brute-force cosine ranking, same tie
    * resolution) at nprobe = nlist — AnnRecallSpec pins it; measured
    * recall@10 at partial probes is committed in ANN_RECALL.md (measured
    * by the since-removed `Profile annrecall` at `2d80cd5`; AnnRecallSpec
    * pins the contracts), the table to size nprobe from at scale. */
  def ivfTopK(assigned: DataFrame, centers: Array[Array[Double]],
              query: Seq[Double], k: Int, nprobe: Int): DataFrame = {
    CosineSimilarity.register(assigned.sparkSession)
    val q = Vectors.dense(query.toArray)
    val probeCells = centers.zipWithIndex
      .map { case (c, i) => (i, Vectors.sqdist(Vectors.dense(c), q)) }
      .sortBy { case (i, d) => (d, i) }
      .take(nprobe).map(_._1)
    assigned
      .filter(col("ivf_cell").isin(probeCells.toIndexedSeq: _*))
      .select(col("id"),
        CosineSimilarity.cosine(col("emb"), typedLit(query)).as("score"))
      .orderBy(desc("score"), col("id"))
      .limit(k)
  }

  /**
   * Per-cluster corpus profile over an IVF/KMeans assignment — the balance
   * diagnostic a curation pipeline runs after clustering (cluster sizes and
   * mean vector norm per cell; badly skewed cells mean the index needs
   * retraining, and near-empty cells waste probes). One hash aggregate over
   * the assignment frame: counts and min-ids combine map-side, and with
   * `deterministic = false` (the scale path) the norm sum is a plain
   * `sum()` — fully map-side combinable. `deterministic = true` folds the
   * per-row norms in id order (collect_list bounded by the largest cell,
   * same bound [[detKmeansIvf]] already accepts), making the double sum
   * partition-independent so the query carries a bit-exact hash oracle —
   * the same two-mode contract as [[graft.byokg.Traversal.pageRank]].
   */
  def clusterProfile(assigned: DataFrame,
                     deterministic: Boolean = false): DataFrame = {
    val rowNorm = V.norm(col("emb"))
    val base = assigned.select(col("ivf_cell").as("cell"), col("id"),
      rowNorm.as("nrm"))
    val normSum =
      if (deterministic)
        aggregate(array_sort(collect_list(struct(col("id"), col("nrm")))),
          lit(0.0), (acc, m) => acc + m.getField("nrm"))
      else sum(col("nrm"))
    base.groupBy(col("cell"))
      .agg(count(lit(1)).as("n"), min(col("id")).as("min_id"),
        normSum.as("_ns"))
      .select(col("cell"), col("n"), col("min_id"),
        round(col("_ns") / col("n"), 6).as("mean_norm"))
  }

  /**
   * Centroid silhouette over an IVF/KMeans assignment — the standard
   * cluster-quality score (Rousseeuw 1987) in its centroid form (the
   * "simplified silhouette": a = distance to the OWN centroid, b = the
   * nearest OTHER centroid, s = (b-a)/max(a,b)), which is the variant
   * that scales: exact silhouette is all-pairs within and across
   * clusters; the centroid form is |centers| codegen-able distance folds
   * per ROW, no join, no shuffle before the per-cell aggregate. Scores
   * near 1 = compact well-separated cells; near 0 = boundary points;
   * negative = points closer to another centroid than their own (a
   * misassignment smell — for deterministic-KMeans output only possible
   * after drift, so a negative mean flags a stale index).
   *
   * `deterministic = true` folds each cell's scores in id order (same
   * two-mode contract as [[clusterProfile]]) so the mean replays
   * bit-exactly in SQL; the scale path is a plain map-side-combined sum.
   * Degenerate points equal to every centroid score 0 by definition.
   */
  def centroidSilhouette(assigned: DataFrame,
                         centers: Array[Array[Double]],
                         deterministic: Boolean = false): DataFrame = {
    require(centers.length >= 2, "silhouette needs >= 2 clusters")
    val dists = centers.map { c =>
      sqrt(aggregate(
        zip_with(col("emb"), typedLit(c.toSeq), (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, e) => acc + e))
    }
    val base = assigned
      .select(col("id"), col("ivf_cell").cast("int").as("cell"),
        col("emb"))
      .withColumn("_d", array(dists.toIndexedSeq: _*))
      .withColumn("_a", element_at(col("_d"), col("cell") + 1))
      // every centroid except the own one: the two slices around `cell`
      .withColumn("_b", array_min(concat(
        slice(col("_d"), lit(1), col("cell")),
        slice(col("_d"), col("cell") + lit(2), lit(centers.length)))))
      .withColumn("_s",
        when(greatest(col("_a"), col("_b")) === 0.0, lit(0.0))
          .otherwise((col("_b") - col("_a")) /
            greatest(col("_a"), col("_b"))))
    val sSum =
      if (deterministic)
        aggregate(array_sort(collect_list(struct(col("id"),
          col("_s").as("v")))),
          lit(0.0), (acc, m) => acc + m.getField("v"))
      else sum(col("_s"))
    base.groupBy(col("cell"))
      .agg(count(lit(1)).as("n"), sSum.as("_ss"))
      .select(col("cell"), col("n"),
        round(col("_ss") / col("n"), 6).as("mean_silhouette"))
  }

  /**
   * Cell-bounded k-nearest-neighbor GRAPH over an assigned index frame
   * (`id`, `emb`, `ivf_cell` — the [[detKmeansIvf]]/[[kmeansIvf]] output):
   * for every row, its top-`k` cosine neighbors drawn from the row's OWN
   * cluster. This is the standard input to graph-based corpus clustering
   * (connected components / LPA over the similarity graph) and the
   * SemDeDup scaling argument applied to graph construction: the quadratic
   * term is bounded by the largest cell, never the corpus, and the join
   * keys on the cell — one shuffle, no crossJoin. The per-source top-k is
   * the [[graft.functions.TopKAgg]] heap (no sort of the scored pairs);
   * ties break to the lower neighbor id, so the graph replays exactly.
   * `mutual = true` keeps only edges whose reverse also survived — the
   * mutual-kNN graph that sharpens cluster boundaries — via one
   * self-semi-join on the (already ≤ k·|V|-row) edge set.
   *
   * Boundary contract (documented, same as [[graft.ops.Dedup.semanticDedup]]):
   * neighbors in OTHER cells are invisible, so an edge across a cell
   * boundary is never produced; raise nlist quality (or probe neighboring
   * cells) before trusting the graph near boundaries.
   */
  def knnGraph(assigned: DataFrame, k: Int,
               mutual: Boolean = false): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    CosineSimilarity.register(assigned.sparkSession)
    val a = assigned.select(col("ivf_cell").as("cell"),
      col("id").as("src"), col("emb").as("ea"))
    val b = assigned.select(col("ivf_cell").as("cell"),
      col("id").as("dst"), col("emb").as("eb"))
    val scored = a.join(b, Seq("cell"))
      .filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst"),
        CosineSimilarity.cosine(col("ea"), col("eb")).as("cos"))
    val top = graft.functions.TopKAgg.topKPerKeyRanked(scored, Seq("src"),
      Seq(negate(col("cos")), col("dst")), k, "rk")
    if (!mutual) top
    else top.join(
      top.select(col("src").as("dst"), col("dst").as("src")),
      Seq("src", "dst"), "left_semi")
  }

  /**
   * Product-quantization codebooks: the embedding is split into `m`
   * contiguous subspaces and each gets its own deterministic-KMeans codebook
   * of `codes` centroids (same replayable trainer as [[detKmeansIvf]] —
   * smallest-id init, argmin assign with ties to the lower code, id-ordered
   * fold means). With m=8 / codes=256 a 1024-dim float vector compresses to
   * 8 bytes — the storage path that makes a 100 TB vector corpus scannable:
   * the PQ codes table is ~500× smaller than the raw embeddings, and a query
   * touches only it plus an m×codes distance table built driver-side.
   * Training cost is m small KMeans runs over ingest-time data.
   *
   * Reference contract: the pgvector/OpenSearch PQ index options behind the
   * lexical-graph vector stores (storage/vector/vector_index.py:49-128 —
   * index configuration is backend-delegated there; this is the in-engine
   * equivalent).
   */
  def pqTrain(index: DataFrame, embCol: String, idCol: String, dim: Int,
              m: Int, codes: Int, iters: Int = 1): Array[Array[Array[Double]]] = {
    require(m >= 1 && dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    val subDim = dim / m
    Array.tabulate(m) { s =>
      val sub = index.select(col(idCol).as("id"),
        slice(V.toDouble(col(embCol)), s * subDim + 1, subDim).as("sub"))
      detKmeansIvf(sub, "sub", "id", codes, iters)._2
    }
  }

  /** Encode every vector as `m` code ids (one scan, one codegen'd select —
    * all m argmins evaluate in a single pass over the row; the binary-sized
    * codes column is what downstream shuffles, never the raw vector). */
  def pqEncode(index: DataFrame, embCol: String, idCol: String,
               codebooks: Array[Array[Array[Double]]]): DataFrame = {
    val subDim = codebooks.head.head.length
    val codeCols = codebooks.zipWithIndex.map { case (cb, s) =>
      nearestCell(slice(V.toDouble(col(embCol)), s * subDim + 1, subDim), cb)
    }
    index.select(col(idCol).as("id"), array(codeCols.toIndexedSeq: _*).as("codes"))
  }

  /**
   * PQ asymmetric-distance top-k: the query builds an m×codes table of
   * subspace squared distances driver-side (tiny — the only non-distributed
   * step), and the scan scores each row as `Σ_s table[s][codes[s]]` — two
   * array lookups and an add per row inside whole-stage codegen, then
   * TakeOrderedAndProject. No join, no shuffle, never touches the raw
   * embeddings. Subspace folds run in index order so the arithmetic replays
   * bit-exactly in an ordered-fold SQL oracle.
   *
   * Recall is capped by m × codes (quantization loses precision, not just
   * candidates — no probing knob recovers it): measured recall@10 per
   * config is committed in ANN_RECALL.md (measured by the since-removed
   * `Profile annrecall` at `2d80cd5`; AnnRecallSpec pins the contracts); size
   * m/codes from that table against the actual corpus, not the defaults.
   */
  def pqTopK(encoded: DataFrame, codebooks: Array[Array[Array[Double]]],
             query: Seq[Double], k: Int): DataFrame =
    encoded.select(col("id"), adcDistance(codebooks, query).as("adist"))
      .orderBy(col("adist"), col("id")).limit(k)

  /** The ADC scoring Column over a `codes` array: per subspace, a lookup
    * into the driver-built query↔centroid distance table, summed in
    * subspace order (sequential left folds, same order as the oracle). */
  private def adcDistance(codebooks: Array[Array[Array[Double]]],
                          query: Seq[Double]): Column =
    adcLookup(adcTable(codebooks, query))

  /** m×codes table of subspace squared distances from `query` to every
    * codebook centroid — the tiny driver-side half of ADC. */
  private def adcTable(codebooks: Array[Array[Array[Double]]],
                       query: Seq[Double]): Array[Array[Double]] = {
    val subDim = codebooks.head.head.length
    codebooks.zipWithIndex.map { case (cb, s) =>
      cb.map { cent =>
        var acc = 0.0
        var i = 0
        while (i < subDim) {
          val d = query(s * subDim + i) - cent(i)
          acc += d * d
          i += 1
        }
        acc
      }
    }
  }

  private def adcLookup(table: Array[Array[Double]]): Column =
    table.zipWithIndex.map { case (t, s) =>
      element_at(typedlit(t.toSeq), col("codes").getItem(s) + 1)
    }.reduceLeft(_ + _)

  /** Residual view of a coarse IVF assignment: `(id, ivf_cell, resid)`
    * with resid = vector − coarse centroid of its cell — the input
    * RESIDUAL product quantization trains and encodes on. */
  def ivfResiduals(assigned: DataFrame,
                   centers: Array[Array[Double]]): DataFrame = {
    val cLit = typedlit(centers.map(_.toSeq).toSeq)
    assigned.select(col("id"), col("ivf_cell"),
      zip_with(col("emb"), element_at(cLit, col("ivf_cell") + 1),
        (a, b) => a - b).as("resid"))
  }

  /** Train PQ codebooks over the coarse-assignment RESIDUALS — the FAISS
    * IndexIVFPQ discipline, and the difference that matters on clustered
    * corpora: raw-vector PQ spends its m×codes budget separating cluster
    * CENTERS (on tight clusters the whole cluster collapses into a few
    * codes and within-cluster ranking dies — measured recall@10 0.29 on
    * the planted-cluster probe vs 0.47 isotropic at m=16×32); residuals
    * subtract the coarse structure first, so the same budget quantizes
    * the small within-cell displacements (same probe: 0.9+). See
    * ANN_RECALL.md's clustered table. */
  def pqTrainResidual(assigned: DataFrame, centers: Array[Array[Double]],
                      dim: Int, m: Int, codes: Int,
                      iters: Int = 1): Array[Array[Array[Double]]] =
    pqTrain(ivfResiduals(assigned, centers), "resid", "id", dim, m, codes,
      iters)

  /** Encode residuals as `m` code ids, keeping the coarse cell beside the
    * codes (ADC needs it: the query's distance table is per-cell). */
  def pqEncodeResidual(assigned: DataFrame, centers: Array[Array[Double]],
                       codebooks: Array[Array[Array[Double]]]): DataFrame = {
    val subDim = codebooks.head.head.length
    val codeCols = codebooks.zipWithIndex.map { case (cb, s) =>
      nearestCell(slice(col("resid"), s * subDim + 1, subDim), cb)
    }
    ivfResiduals(assigned, centers).select(col("id"), col("ivf_cell"),
      array(codeCols.toIndexedSeq: _*).as("codes"))
  }

  /**
   * Residual IVF-PQ top-k: probe `nprobe` coarse cells, score ONLY their
   * codes with a PER-CELL ADC table built from the query's residual
   * against that cell's centroid (q − c_cell) — nprobe tiny tables on
   * the driver, one `when`-chained lookup column on the scan. Same scan
   * shape and pruning as [[ivfPqTopK]] (cell-partitioned codes table,
   * never the raw vectors); the encoding is the part that changed.
   */
  def ivfPqResidualTopK(encoded: DataFrame, centers: Array[Array[Double]],
                        codebooks: Array[Array[Array[Double]]],
                        query: Seq[Double], k: Int,
                        nprobe: Int): DataFrame = {
    require(k >= 1 && nprobe >= 1, s"need k>=1, nprobe>=1; got $k/$nprobe")
    val q = Vectors.dense(query.toArray)
    val probeCells = centers.zipWithIndex
      .map { case (c, i) => (i, Vectors.sqdist(Vectors.dense(c), q)) }
      .sortBy { case (i, d) => (d, i) }
      .take(nprobe).map(_._1)
    val perCell = probeCells.map { cell =>
      val qr = query.indices.map(i => query(i) - centers(cell)(i))
      cell -> adcLookup(adcTable(codebooks, qr))
    }
    val scoreCol = perCell.tail.foldLeft(
      when(col("ivf_cell") === perCell.head._1, perCell.head._2)) {
      case (acc, (cell, e)) => acc.when(col("ivf_cell") === cell, e)
    }
    encoded.filter(col("ivf_cell").isin(probeCells.toIndexedSeq: _*))
      .select(col("id"), scoreCol.as("adist"))
      .orderBy(col("adist"), col("id")).limit(k)
  }

  /**
   * Refined residual IVF-PQ top-k — the standard FAISS refine discipline
   * (IndexRefineFlat over IndexIVFPQ): the ADC pass over the probed
   * cells' codes returns `refine` candidates (R ≈ 4-8×k), and ONLY
   * those R rows re-read their exact vectors for an exact squared-L2
   * rerank to top-k. Compression errors that perturb the ADC ranking
   * inside the candidate set cost nothing — only a true neighbor
   * falling OUT of the top-R loses recall, so recall climbs steeply in
   * R at a fixed byte budget (measured: 0.650 → ≥0.9 at R=8k on the
   * planted-cluster corpus, ANN_RECALL.md).
   *
   * Scale: the candidate ids broadcast (R rows) and hash-join the
   * vector table — R exact-vector reads against an id-keyed layout, no
   * shuffle, no scan of unprobed cells. This is the missing half of the
   * codes-only layout: codes answer "roughly where", the R-bounded
   * exact reads answer "exactly which".
   */
  def ivfPqRefineTopK(encoded: DataFrame, assigned: DataFrame,
                      centers: Array[Array[Double]],
                      codebooks: Array[Array[Array[Double]]],
                      query: Seq[Double], k: Int, nprobe: Int,
                      refine: Int): DataFrame = {
    require(refine >= k, s"refine ($refine) must be >= k ($k)")
    val cands = ivfPqResidualTopK(encoded, centers, codebooks, query,
      refine, nprobe).select(col("id"))
    val qLit = typedlit(query)
    assigned.join(broadcast(cands), "id")
      .select(col("id"),
        aggregate(zip_with(col("emb"), qLit, (a, b) => (a - b) * (a - b)),
          lit(0.0), (acc, x) => acc + x).as("dist"))
      .orderBy(col("dist"), col("id")).limit(k)
  }

  /**
   * IVF-PQ top-k — the composed coarse-route + compressed-score layout
   * (the FAISS IndexIVFPQ shape; the standard 100 TB ANN design): the
   * driver picks `nprobe` cells from the coarse centroids it already
   * holds, the probed cells' row ids semi-join the PQ codes table, and
   * only those codes are ADC-scored. Both inputs are the SHARED ingest-
   * time layouts ([[detKmeansIvf]]/[[kmeansIvf]] assignment + [[pqEncode]]
   * codes), so the query touches the codes of the probed cells and
   * NOTHING else — never the raw embeddings, never the unprobed cells.
   * At warehouse scale the two frames are one table (codes stored beside
   * the cell id, partitioned by cell) and the semi-join disappears into
   * partition pruning; here they stay separate so the IVF and PQ indexes
   * keep their single source of truth.
   */
  def ivfPqTopK(assigned: DataFrame, centers: Array[Array[Double]],
                encoded: DataFrame, codebooks: Array[Array[Array[Double]]],
                query: Seq[Double], k: Int, nprobe: Int): DataFrame = {
    require(k >= 1 && nprobe >= 1, s"need k>=1, nprobe>=1; got $k/$nprobe")
    val q = Vectors.dense(query.toArray)
    val probeCells = centers.zipWithIndex
      .map { case (c, i) => (i, Vectors.sqdist(Vectors.dense(c), q)) }
      .sortBy { case (i, d) => (d, i) }
      .take(nprobe).map(_._1)
    val probedIds = assigned
      .filter(col("ivf_cell").isin(probeCells.toIndexedSeq: _*))
      .select("id")
    encoded.join(probedIds, Seq("id"), "left_semi")
      .select(col("id"), adcDistance(codebooks, query).as("adist"))
      .orderBy(col("adist"), col("id")).limit(k)
  }

  /** LSH approximate top-k by cosine: normalize, bucket with random
    * hyperplane projections, approxNearestNeighbors by Euclidean distance. */
  def lshTopK(index: DataFrame, embCol: String, idCol: String,
              query: Seq[Double], k: Int,
              bucketLength: Double = 1.0, numHashTables: Int = 3,
              seed: Long = 7L): DataFrame = {
    val norm = udfFreeNormalize(index, embCol, idCol)
    val lsh = new BucketedRandomProjectionLSH()
      .setBucketLength(bucketLength).setNumHashTables(numHashTables)
      .setSeed(seed).setInputCol("features").setOutputCol("hashes")
    val model = lsh.fit(norm)
    val qn = {
      val n = math.sqrt(query.map(x => x * x).sum)
      Vectors.dense(query.map(x => if (n == 0) 0.0 else x / n).toArray)
    }
    model.approxNearestNeighbors(norm, qn, k).toDF()
      .select(col("id"), (lit(1.0) - col("distCol") * col("distCol") / 2.0)
        .as("score")) // ||a-b||² = 2 - 2cos on unit vectors
      .orderBy(desc("score"), col("id"))
  }

  /** L2-normalize the embedding column into an MLlib vector — pure Column
    * math, no UDF. */
  /** Deterministic planted-cluster embedding corpus — the recall probe's
    * REALISTIC twin of the hash-derived testdata vectors (which are
    * near-isotropic, PQ's worst case; ANN_RECALL.md round 9 flagged
    * exactly this): `clusters` gaussian centers, each vector = its
    * center + `noise`·gaussian. Real sentence-embedding corpora are
    * cluster-structured, so PQ codebooks capture far more variance at
    * the same m × codes — the probe's second table quantifies that gap.
    * Driver-side generation (n × dim doubles, bounded probe sizes),
    * seeded per id: same corpus on every host, no RNG in any operator.
    * Returns (id LONG, embedding ARRAY<FLOAT>, cluster INT). */
  def plantedClusterCorpus(spark: org.apache.spark.sql.SparkSession,
                           n: Int, dim: Int, clusters: Int,
                           noise: Double = 0.15,
                           seed: Long = 0x5eedL): DataFrame = {
    import spark.implicits._
    val centers = Array.tabulate(clusters) { c =>
      val r = new scala.util.Random(seed * 7919 + c)
      Array.fill(dim)(r.nextGaussian())
    }
    (1 to n).map { i =>
      val c = i % clusters
      val r = new scala.util.Random(seed + i)
      val v = centers(c).map(x => (x + noise * r.nextGaussian()).toFloat)
      (i.toLong, v.toSeq, c)
    }.toDF("vec_id", "embedding", "cluster")
  }

  private def udfFreeNormalize(index: DataFrame, embCol: String,
                               idCol: String): DataFrame = {
    val emb = V.toDouble(col(embCol))
    val n = sqrt(aggregate(emb, lit(0.0), (acc, x) => acc + x * x))
    index.select(col(idCol).as("id"),
      toVec(transform(emb, x => when(n === 0.0, 0.0).otherwise(x / n)))
        .as("features"))
  }
}
