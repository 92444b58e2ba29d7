package graft

import org.apache.spark.sql.functions._
import graft.ops.{Dedup, Similarity}

class DedupSimilaritySpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "THE QUICK  BROWN FOX jumps over the lazy dog!!"), // same after norm
    (3L, "a completely different document about spark sql engines"),
    (4L, "the quick brown fox jumps over the lazy cat")) // near-dup of 1
    .toDF("doc_id", "text")

  test("minhash LSH finds the normalized duplicate with jaccard 1.0") {
    val pairs = Dedup.minhashLsh(docs, "text", "doc_id", 16, 8, 3)
      .as[(Long, Long, Double)].collect()
    val exact = pairs.find(p => p._1 == 1L && p._2 == 2L)
    assert(exact.isDefined && exact.get._3 == 1.0)
  }

  test("diversityFilter drops the later id of each too-similar pair") {
    val kept = Dedup.diversityFilter(docs, "text", "doc_id", threshold = 0.5)
      .as[Long].collect().sorted
    // 2 is an exact dup of 1 (jaccard 1.0); 4 is a near-dup above 0.5;
    // both drop, the earliest id and the distinct doc survive
    assert(kept.toSeq == Seq(1L, 3L))
    // at an unreachable threshold nothing drops
    val all = Dedup.diversityFilter(docs, "text", "doc_id", threshold = 1.1)
      .as[Long].collect().sorted
    assert(all.toSeq == Seq(1L, 2L, 3L, 4L))
  }

  test("diversityFilterTfidf matches sklearn-style brute force (exact " +
    "AllPairs prefix filter, NUM_/FLOAT_ placeholders, strict >)") {
    // near-identical pairs around the 0.975 default + numeric placeholder
    // behavior: "3.5" and "42" tokens map to FLOAT_/NUM_ terms
    val d = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta iota"), // near-dup of 1
      (3L, "alpha beta gamma delta epsilon zeta eta theta"), // exact dup of 1
      (4L, "completely different words about spark plans"),
      (5L, "price 3.5 and count 42 of items"),
      (6L, "price 3.5 and count 42 of items")) // exact dup of 5
      .toDF("doc_id", "text")
    // brute force twin (driver-side): same tokenization + tfidf math
    def toks(s: String): Seq[String] =
      raw"\d+\.\d+|[a-z0-9]+".r.findAllIn(s.toLowerCase).toSeq.map {
        case t if t.matches(raw"\d+\.\d+") => s"FLOAT_$t"
        case t if t.matches(raw"\d+") => s"NUM_$t"
        case t => t
      }
    val texts = d.collect().map(r => r.getLong(0) -> toks(r.getString(1)))
    val n = texts.length.toDouble
    val dfreq = texts.flatMap(_._2.distinct).groupBy(identity)
      .map { case (t, g) => t -> g.length.toDouble }
    def vecOf(ts: Seq[String]): Map[String, Double] = {
      val tf = ts.groupBy(identity).map { case (t, g) =>
        t -> g.length * (math.log((n + 1) / (dfreq(t) + 1)) + 1) }
      val nm = math.sqrt(tf.values.map(x => x * x).sum)
      tf.map { case (t, w) => t -> w / nm }
    }
    val vecs = texts.map { case (id, ts) => id -> vecOf(ts) }.toMap
    def cos(a: Long, b: Long): Double =
      vecs(a).keySet.intersect(vecs(b).keySet).toSeq
        .map(t => vecs(a)(t) * vecs(b)(t)).sum
    val ids = texts.map(_._1)
    val dominated = (for {
      a <- ids; b <- ids if a < b && cos(a, b) > 0.975
    } yield b).toSet
    val expect = ids.filterNot(dominated).toSet
    val kept = graft.ops.Dedup
      .diversityFilterTfidf(d, "text", "doc_id")
      .as[Long].collect().toSet
    assert(kept == expect, s"kept=$kept expect=$expect")
    assert(!kept.contains(3L) && !kept.contains(6L)) // exact dups drop
    assert(kept.contains(4L)) // the distinct doc survives
    // the near-dup pair 1/2 sits BELOW 0.975 (1 token of 8 differs) —
    // strict-threshold behavior, both kept
    assert(cos(1L, 2L) < 0.975 && kept.contains(2L))
  }

  test("diversityFilterTfidf: all four verify regimes agree (BNLJ semi, " +
    "dense candidates, sparse-map candidates, postings join)") {
    val d = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta iota"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta"),
      (4L, "completely different words about spark plans"),
      (5L, "price 3.5 and count 42 of items"),
      (6L, "price 3.5 and count 42 of items"))
      .toDF("doc_id", "text")
    def run(mapCap: Long = 200000, bnlCap: Long = 20000,
            vocabCap: Long = 1024): Set[Long] =
      Dedup.diversityFilterTfidf(d, "text", "doc_id",
          mapVerifyDocCap = mapCap, bnlDocCap = bnlCap,
          denseVocabCap = vocabCap)
        .as[Long].collect().toSet
    val bnl = run() // default caps: broadcast nested-loop semi regime
    assert(bnl == run(bnlCap = 0)) // dense candidate-join regime
    assert(bnl == run(bnlCap = 0, vocabCap = 0)) // sparse-map regime
    assert(bnl == run(mapCap = 0)) // per-term postings-join regime
    assert(bnl == Set(1L, 2L, 4L, 5L)) // exact dups 3/6 drop
  }

  test("diversityFilterTfidf is partition-order stable (the round-12 " +
    "Spread precondition: value-ordered norm fold + tidx-sorted maps)") {
    // enough docs with shared vocabulary that partial-agg merge order
    // actually varies across partitionings; near-dup pairs sit at the
    // threshold boundary's neighborhood
    val r = new scala.util.Random(3)
    val words = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa")
    val rows = (1L to 120L).map { i =>
      val base = r.shuffle(words).take(6)
      (i, (base :+ (if (i % 3 == 0) "common" else s"tail${i % 7}"))
        .mkString(" "))
    }
    val d = rows.toDF("doc_id", "text")
    def run(parts: Int, mapCap: Long = 200000, bnlCap: Long = 20000,
            vocabCap: Long = 1024): Set[Long] =
      graft.ops.Dedup.diversityFilterTfidf(d.repartition(parts),
          "text", "doc_id", mapVerifyDocCap = mapCap, bnlDocCap = bnlCap,
          denseVocabCap = vocabCap)
        .as[Long].collect().toSet
    val one = run(1)
    assert(one == run(7), "BNLJ regime drifted with partitioning")
    assert(one == run(32), "BNLJ regime drifted with partitioning")
    // the sparse-map regime folds map entries per pair — the tidx sort
    // must make it partitioning-independent too
    val sparse1 = run(1, bnlCap = 0, vocabCap = 0)
    assert(sparse1 == run(13, bnlCap = 0, vocabCap = 0),
      "sparse-map regime drifted with partitioning")
  }

  test("dropProperPrefixes matches brute force, incl. chains and boundaries") {
    // chain a < ab < abc (a, ab dominated), equal-after-distinct values,
    // a value that is a prefix of nothing ("b"), a null, and enough rows
    // that the range partitioner actually splits (partition-boundary lasts
    // exercise the boundary window, not just the in-partition lead)
    val vals = Seq("a", "ab", "abc", "b", "ba", "cat", "cat", "catalog",
      "dog", "do", "zz", null) ++ (0 until 200).map(i => f"pad$i%03d")
    val df = vals.toDF("v")
    val kept = Dedup.dropProperPrefixes(df, "v")
      .collect().map(_.getString(0)).toSet
    val distinct = vals.filter(_ != null).distinct
    val expect = distinct.filterNot(v =>
      distinct.exists(w => w != v && w.startsWith(v))).toSet + null
    assert(kept.map(Option(_).orNull) == expect.map(Option(_).orNull))
    assert(!kept.contains("a") && !kept.contains("ab") && kept.contains("abc"))
    assert(!kept.contains("do") && kept.contains("dog"))
    assert(!kept.contains("b") && kept.contains("ba")) // ba dominates b
  }

  test("ngram jaccard: identical=1.0, near-dup in (0,1)") {
    val pairs = Seq((1L, 2L), (1L, 4L)).toDF("id_a", "id_b")
    val out = Dedup.ngramJaccard(docs, pairs, "text", "doc_id", 3)
      .as[(Long, Long, Double)].collect().sortBy(_._2)
    assert(out(0)._3 == 1.0)
    assert(out(1)._3 > 0.3 && out(1)._3 < 1.0)
  }

  private lazy val vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f, 0.0f), 0),
    (1L, Array(0.9f, 0.1f, 0.0f, 0.0f), 0),
    (2L, Array(0.0f, 1.0f, 0.0f, 0.0f), 1),
    (3L, Array(0.0f, 0.9f, 0.1f, 0.0f), 1),
    (4L, Array(0.0f, 0.0f, 1.0f, 0.0f), 2),
    (5L, Array(-1.0f, 0.0f, 0.0f, 0.0f), 2))
    .toDF("vec_id", "embedding", "label")

  test("brute-force topK ranks by cosine") {
    val out = Similarity.topK(vecs.filter(col("vec_id") =!= 0), "embedding",
      "vec_id", Seq(1.0, 0.0, 0.0, 0.0), 2)
      .select("id").as[Long].collect()
    assert(out.toSeq == Seq(1L, 2L) || out.head == 1L)
  }

  test("diverseTopK round-robins across groups") {
    val out = Similarity.diverseTopK(vecs, "embedding", "vec_id", "label",
      Seq(1.0, 0.0, 0.0, 0.0), 3, 2)
      .select("grp").as[Int].collect()
    assert(out.toSet.size == 3) // one per label before any second pick
  }

  test("IVF with full probe equals brute force; partial probe is a subset") {
    val assigned = Similarity.ivfAssign(vecs, "embedding", 4, 4)
    val full = Similarity.ivfTopK(assigned, "embedding", "vec_id",
      Seq(1.0, 0.0, 0.0, 0.0), 3, 4, 4).select("id").as[Long].collect()
    val brute = Similarity.topK(vecs, "embedding", "vec_id",
      Seq(1.0, 0.0, 0.0, 0.0), 3).select("id").as[Long].collect()
    assert(full.toSeq == brute.toSeq)
    val partial = Similarity.ivfTopK(assigned, "embedding", "vec_id",
      Seq(1.0, 0.0, 0.0, 0.0), 3, 4, 2).select("id").as[Long].collect()
    assert(partial.toSet.subsetOf(vecs.select("vec_id").as[Long].collect().toSet))
  }

  test("ngramFrequencies counts every occurrence, ranks deterministically") {
    import graft.ops.TextAnalysis
    val docs = Seq("a b a b c", "a b x", "z").toDF("text")
      .withColumn("doc_id", monotonically_increasing_id())
    val uni = TextAnalysis.ngramFrequencies(docs, "text", n = 1, k = 10)
      .select("gram", "freq").as[(String, Long)].collect().toMap
    assert(uni("a") == 3 && uni("b") == 3 && uni("c") == 1 && uni("z") == 1)
    val bi = TextAnalysis.ngramFrequencies(docs, "text", n = 2, k = 10)
      .select("gram", "freq", "rank").as[(String, Long, Int)].collect()
    assert(bi.head == (("a b", 3L, 1))) // occurrences, not distinct-per-doc
    assert(bi.map(_._1).toSet.contains("b a"))
    // single-token doc contributes no bigrams; short docs don't blow up
    assert(!bi.map(_._1).exists(_.contains("z")))
  }

  test("embeddingNearDup with sign-plane buckets keeps true near-dups") {
    val exact = Dedup.embeddingNearDup(vecs, "embedding", "vec_id", 0.9, planes = 0)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact.contains((0L, 1L)) && exact.contains((2L, 3L)))
    val bucketed = Dedup.embeddingNearDup(vecs, "embedding", "vec_id", 0.9, planes = 2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(bucketed.subsetOf(exact))
  }

  test("quadratic exact modes refuse unbounded inputs (enforced contracts)") {
    // embeddingNearDup planes=0 trips its row cap before any cross join
    val e = intercept[IllegalArgumentException](
      Dedup.embeddingNearDup(vecs, "embedding", "vec_id", 0.9,
        planes = 0, exactModeCap = 2L))
    assert(e.getMessage.contains("quadratic"))
    // knnJoin trips its right-side cap
    val k = intercept[IllegalArgumentException](
      graft.ops.Similarity.knnJoin(vecs, vecs, "embedding", "vec_id",
        k = 2, maxRightRows = 2L))
    assert(k.getMessage.contains("quadratic"))
    // and both still work under the cap (the guard is a gate, not a break)
    assert(Dedup.embeddingNearDup(vecs, "embedding", "vec_id", 0.9,
      planes = 0).count() >= 2)
    assert(graft.ops.Similarity.knnJoin(vecs, vecs, "embedding", "vec_id",
      k = 2).count() > 0)
  }

  test("embeddingNearDup LSH: empty input keeps the caller's id type") {
    // string-id caller on an empty frame must get string id_a/id_b back
    // (a hardcoded LONG would break downstream unions with non-empty runs)
    val empty = Seq.empty[(String, Array[Double])].toDF("doc", "embedding")
    val out = Dedup.embeddingNearDup(empty, "embedding", "doc", 0.9, planes = 2)
    assert(out.count() == 0)
    assert(out.schema("id_a").dataType.typeName == "string")
    assert(out.schema("id_b").dataType.typeName == "string")
  }

  test("embeddingNearDup LSH enforces the fixed-dimension contract") {
    // ragged embeddings would silently fold only the first `dim` elements
    // of longer rows — refuse loudly instead. The guard rides the bucketing
    // scan (raise_error in the projection, not a separate precheck
    // aggregate), so it fires on execution, wrapped by the task failure.
    val ragged = Seq(
      (1L, Array(1.0, 0.0)), (2L, Array(1.0, 0.0, 0.5)))
      .toDF("vec_id", "embedding")
    val out = Dedup.embeddingNearDup(ragged, "embedding", "vec_id", 0.9,
      planes = 2)
    val e = intercept[Exception](out.count())
    val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
    assert(msgs.contains("fixed-dimension"))
  }

  test("semanticDedup drops higher-id in-cell near-dups, keeps cross-cell " +
    "twins and sub-threshold neighbors") {
    // cells are pre-assigned: ids 1/2/3 share cell 0 (1≈2 near-identical,
    // 3 orthogonal); id 4 duplicates 1 exactly but sits in cell 1, so the
    // cluster boundary must protect it (the documented approximation).
    val assigned = Seq(
      (1L, Array(1.0, 0.0, 0.0), 0),
      (2L, Array(0.999, 0.01, 0.0), 0),
      (3L, Array(0.0, 1.0, 0.0), 0),
      (4L, Array(1.0, 0.0, 0.0), 1))
      .toDF("id", "emb", "ivf_cell")
    val kept = Dedup.semanticDedup(assigned, threshold = 0.95)
      .select("id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 3L, 4L))
  }

  test("semanticDedup at threshold 1.0+ keeps everything") {
    val assigned = Seq(
      (1L, Array(1.0, 0.0), 0), (2L, Array(1.0, 0.0), 0))
      .toDF("id", "emb", "ivf_cell")
    // cosine of identical vectors is 1.0 — strict >= keeps only exact
    // duplicates out; a threshold above 1.0 disables the dedup entirely
    assert(Dedup.semanticDedup(assigned, 1.5).count() == 2)
    assert(Dedup.semanticDedup(assigned, 1.0).select("id").as[Long]
      .collect().toSeq == Seq(1L))
  }

  test("JL sign projection preserves pairwise cosine within the " +
    "distortion bound and is layout-independent") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val proj = graft.ops.Similarity.randomProject(emb, "embedding",
      "vec_id", dim = 64, outDim = 16, seed = "jl1")
      .filter(org.apache.spark.sql.functions.col("id") < 40)
    val pv = proj.as[(Long, Seq[Double])].collect().toMap
    val ev = emb.filter(org.apache.spark.sql.functions.col("vec_id") < 40)
      .as[(Long, Seq[Float], Int)].collect()
      .map(r => r._1 -> r._2.map(_.toDouble)).toMap
    def cos(a: Seq[Double], b: Seq[Double]) = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val errs = for (i <- pv.keys.toSeq.sorted; j <- pv.keys.toSeq.sorted
                    if i < j)
      yield math.abs(cos(pv(i), pv(j)) - cos(ev(i), ev(j)))
    // 16-dim sign projection: cosine estimator std ≈ 1/√16 = 0.25, so the
    // worst of ~780 pairs can reach ~3σ; the MEAN is the real gate — a
    // broken sign matrix or fold pushes it toward 0.5+
    assert(errs.max < 0.9, s"max distortion ${errs.max}")
    assert(errs.sum / errs.size < 0.2, s"mean distortion ${errs.sum / errs.size}")
    val again = graft.ops.Similarity.randomProject(emb.repartition(7),
      "embedding", "vec_id", dim = 64, outDim = 16, seed = "jl1")
      .filter(org.apache.spark.sql.functions.col("id") < 40)
      .as[(Long, Seq[Double])].collect().toMap
    assert(again == pv)
  }
}
