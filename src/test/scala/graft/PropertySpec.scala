package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import graft.filter.FilterAst
import graft.functions.{HashFunctions, MinhashSignature}
import graft.index.VersionManager

/** Property tests mirroring the reference's Hypothesis usage (SURVEY.md §5):
  * id/hash invariants, filter-compilation laws, SCD-2 interval invariants. */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private val textGen: Gen[String] = Gen.oneOf(
    Gen.asciiPrintableStr,
    Gen.listOf(Gen.oneOf(Gen.alphaNumStr, Gen.const("the"),
      Gen.const("naïve café"), Gen.const("…—…"), Gen.const("\t \n")))
      .map(_.mkString(" ")))

  test("compiled MinhashSignature == composed form on arbitrary strings") {
    MinhashSignature.register(spark)
    val samples = Gen.listOfN(60, textGen).sample.get.distinct
    val df = samples.toDF("text")
    val rows = df.select(
      MinhashSignature.signature(col("text"), 8, 3).as("native"),
      HashFunctions.minhashSignature(col("text"), 8, 3).as("composed"))
      .as[(Seq[Long], Seq[Long])].collect()
    rows.zip(samples).foreach { case ((n, c), s) =>
      assert(n == c, s"mismatch for input ${s.take(60).mkString}")
    }
  }

  test("minhash signature values stay within the affine field") {
    MinhashSignature.register(spark)
    val samples = Gen.listOfN(40, textGen).sample.get
    val sigs = samples.toDF("text")
      .select(MinhashSignature.signature(col("text"), 8, 3))
      .as[Seq[Long]].collect()
    sigs.foreach(sig =>
      sig.foreach(v => assert(v >= 0 && v < HashFunctions.MinhashPrime)))
  }

  test("filter compilation: De Morgan and double negation hold row-wise") {
    val df = (1 to 200).map(i => (i.toLong, s"name$i", i * 1.5))
      .toDF("id", "name", "score").cache()
    import FilterAst._
    val a: Filter = Pred("id", Gt, 50L)
    val b: Filter = Pred("name", TextMatch, "1")
    def rows(f: Filter): Set[Long] =
      df.filter(compile(f)).select("id").as[Long].collect().toSet
    assert(rows(Not(And.of(a, b))) == rows(Or.of(Not(a), Not(b))))
    assert(rows(Not(Or.of(a, b))) == rows(And.of(Not(a), Not(b))))
    assert(rows(Not(Not(a))) == rows(a))
  }

  test("SCD-2 intervals chain per key: valid_to = next valid_from, live = sentinel") {
    val versionsGen = Gen.listOfN(8,
      Gen.zip(Gen.choose(1L, 4L), Gen.choose(0L, 1000L)))
    (1 to 25).foreach { _ =>
      val vs = versionsGen.sample.getOrElse(Nil)
      if (vs.nonEmpty) {
        val df = vs.zipWithIndex
          .map { case ((k, t), i) => (s"k$k", t, f"p$i%03d") }
          .toDF("vid", "valid_from", "payload")
        val closed = VersionManager
          .mergeVersions(df, Seq("vid"), tieBreak = Seq("payload"))
          .select("vid", "valid_from", "payload", "valid_to")
          .as[(String, Long, String, Long)].collect()
          .groupBy(_._1)
        closed.foreach { case (_, rows) =>
          val sorted = rows.sortBy(r => (r._2, r._3))
          sorted.sliding(2).foreach {
            case Array((_, _, _, t1), (_, f2, _, _)) =>
              assert(t1 == f2, s"interval gap/overlap in ${sorted.mkString(",")}")
            case _ => ()
          }
          assert(sorted.last._4 == graft.model.Schemas.TimestampUpperBound)
        }
      }
    }
  }

  test("compiled WordShingles == composed HashFunctions.shingles") {
    graft.functions.WordShingles.register(spark)
    val samples = Gen.listOfN(60, textGen).sample.get.distinct
    val df = samples.toDF("t")
    val both = df.select(
      graft.functions.WordShingles.shingles(col("t"), 3).as("compiled"),
      graft.functions.HashFunctions.shingles(col("t"), 3).as("composed"))
      .as[(Seq[String], Seq[String])].collect()
    both.foreach { case (a, b) => assert(a == b) }
  }

  test("BeamScoring invariants: max-over-parents, cosine order, mode bounds") {
    import graft.retrieve.BeamScoring
    val vecGen = Gen.listOfN(4, Gen.choose(-1.0, 1.0))
    (1 to 10).foreach { _ =>
      val q = vecGen.sample.get
      val ids = ('a' to 'f').map(_.toString)
      val rows = for {
        id <- ids
        p <- Seq("p1", "p2")
      } yield (id, vecGen.sample.get.toArray, p, vecGen.sample.get.toArray)
      val pairs = rows.toDF("id", "embedding", "parent_id", "parent_embedding")
      // every mode yields exactly one score per id (max over parents)
      for (mode <- BeamScoring.Modes) {
        val out = BeamScoring.score(pairs, q, mode)
        assert(out.count() == ids.length)
        // and that score is >= any per-pair score of the same id computed by
        // re-scoring each pair alone
        if (mode == "cosine") {
          val single = BeamScoring.score(pairs.limit(1), q, mode)
            .as[(String, Double)].head()
          val merged = out.filter(col("id") === single._1)
            .as[(String, Double)].head()
          assert(merged._2 >= single._2 - 1e-12)
        }
      }
    }
  }

  test("diversityFilter output is a subset containing each dup-group's min id") {
    val docGen = Gen.oneOf(
      "the quick brown fox jumps over the lazy dog again and again",
      "the quick brown fox jumps over the lazy cat again and again",
      "an entirely different corpus sentence about query engines at scale",
      "spark shuffles partitions across the cluster during wide stages")
    (1 to 5).foreach { _ =>
      val docs = (1L to 12L).map(i => (i, docGen.sample.get)).toDF("doc_id", "text")
      val kept = graft.ops.Dedup.diversityFilter(docs, "text", "doc_id", 0.9)
        .as[Long].collect().toSet
      val all = docs.as[(Long, String)].collect()
      assert(kept.subsetOf(all.map(_._1).toSet))
      // exact duplicates: only the smallest id of each text group survives
      all.groupBy(_._2).values.foreach { grp =>
        val ids = grp.map(_._1).sorted
        assert(kept.contains(ids.head))
        ids.tail.foreach(id => assert(!kept.contains(id)))
      }
    }
  }

  test("GraphQuerySafety never passes a query containing a blocked keyword") {
    val kwGen = Gen.oneOf(graft.byokg.GraphQuerySafety.ModificationKeywords)
    val padGen = Gen.oneOf("", " ", "\n", "\t", "/* c */ ", "(", ")")
    (1 to 50).foreach { _ =>
      val kw = kwGen.sample.get
      val q = s"${padGen.sample.get}SELECT 1 ${padGen.sample.get}$kw${padGen.sample.get} x"
      assert(!graft.byokg.GraphQuerySafety.isQuerySafe(q), s"passed: $q")
      // lowercase and mixed case are equally blocked
      assert(!graft.byokg.GraphQuerySafety.isQuerySafe(q.toLowerCase))
    }
  }

  test("Misra-Gries invariants hold on arbitrary Zipf-ish streams, " +
    "capacities, and partitionings") {
    import org.apache.spark.sql.GraftSqlBridge
    val rnd = new scala.util.Random(11)
    for (trial <- 0 until 4) {
      // skewed stream: token id drawn as floor(u^3 * V) — few ids dominate
      val v = 200 + trial * 300
      val n = 3000 + trial * 2000
      val stream = Seq.fill(n) {
        val u = rnd.nextDouble()
        s"t${(u * u * u * v).toInt}"
      }
      val exact = stream.groupBy(identity).view.mapValues(_.size.toLong)
      val capacity = Seq(8, 31, 100)(trial % 3)
      val parts = Seq(1, 5, 32)(trial % 3)
      val sketch = stream.grouped(7).map(_.toArray).toSeq.toDF("toks")
        .repartition(parts)
        .agg(GraftSqlBridge.misraGries(col("toks"), capacity).as("s"))
        .head().getSeq[org.apache.spark.sql.Row](0)
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(sketch.size <= capacity)
      val bound = n.toDouble / (capacity + 1)
      exact.foreach { case (t, c) =>
        if (c > bound)
          assert(sketch.contains(t), s"trial $trial lost $t (count $c)")
      }
      sketch.foreach { case (t, c) =>
        val truth = exact(t)
        assert(c <= truth && truth - c <= bound,
          s"trial $trial count bound broken for $t: sketch $c true $truth")
      }
    }
  }

  test("intervalJoin == driver-side brute overlap join on random intervals " +
    "across bin sizes (one-meeting-bin dedup completeness)") {
    val ivGen = Gen.listOfN(10,
      Gen.zip(Gen.choose(0L, 200L), Gen.choose(0L, 60L)))
    (0 until 9).foreach { i =>
      val as = ivGen.sample.get.zipWithIndex
        .map { case ((s, len), j) => (j.toLong, s, s + len) }
      val bs = ivGen.sample.get.zipWithIndex
        .map { case ((s, len), j) => (j.toLong + 100, s, s + len) }
      val bin = Seq(7L, 10L, 64L)(i % 3)
      val got = graft.ops.TemporalJoins.intervalJoin(
          as.toDF("id", "s", "e"), bs.toDF("id", "s", "e"),
          "s", "e", None, bin)
        .select("a_id", "b_id", "overlap_us")
        .as[(Long, Long, Long)].collect().toSeq
      val expect = for {
        (ai, s1, e1) <- as; (bi, s2, e2) <- bs
        if s1 <= e2 && s2 <= e1
      } yield (ai, bi, math.min(e1, e2) - math.max(s1, s2))
      // set equality AND no duplicate pairs (the dedup-bin guarantee)
      assert(got.size == expect.size && got.toSet == expect.toSet,
        s"bin=$bin as=$as bs=$bs")
    }
  }

  test("multiSourceDistances slices == per-seed BFS on random graphs") {
    import graft.byokg.Traversal
    val edgeGen = Gen.listOfN(14,
      Gen.zip(Gen.choose(0L, 11L), Gen.choose(0L, 11L)))
    (1 to 6).foreach { _ =>
      val edges = edgeGen.sample.get.filter(e => e._1 != e._2).distinct
      if (edges.nonEmpty) {
        val eDf = edges.toDF("src", "dst")
        val seedIds = edges.map(_._1).distinct.take(3)
        val multi = Traversal.multiSourceDistances(eDf,
            seedIds.map(s => (s, s)).toDF("seed", "node"), 3)
          .as[(Long, Long, Int)].collect().toSet
        seedIds.foreach { s0 =>
          val single = Traversal.shortestDistances(eDf,
              Seq(s0).toDF("node"), 3)
            .as[(Long, Int)].collect().toSet
          assert(multi.filter(_._1 == s0).map(t => (t._2, t._3)) == single,
            s"seed=$s0 edges=$edges")
        }
      }
    }
  }

  test("jaccardLinks with a non-binding cap == driver-side exact Jaccard") {
    val edgeGen = Gen.listOfN(12,
      Gen.zip(Gen.choose(0L, 9L), Gen.choose(0L, 9L)))
    (1 to 8).foreach { _ =>
      val edges = edgeGen.sample.get.filter(e => e._1 != e._2)
        .map { case (a, b) => if (a < b) (a, b) else (b, a) }.distinct
      if (edges.nonEmpty) {
        val adj = scala.collection.mutable.Map.empty[Long, Set[Long]]
          .withDefaultValue(Set.empty)
        edges.foreach { case (a, b) =>
          adj(a) = adj(a) + b; adj(b) = adj(b) + a
        }
        val nodes = adj.keys.toSeq.sorted
        val expect = (for {
          a <- nodes; b <- nodes if a < b && !adj(a).contains(b)
          common = (adj(a) & adj(b)).size if common > 0
        } yield {
          val union = (adj(a) | adj(b)).size
          (a, b, common.toLong, union.toLong,
            math.round(1000000.0 * common / union))
        }).toSet
        val got = graft.ops.LinkPrediction.jaccardLinks(
            edges.toDF("src", "dst"), maxCenterDegree = 100)
          .as[(Long, Long, Long, Long, Long)].collect().toSet
        assert(got == expect, s"edges=$edges")
      }
    }
  }

  test("skipGramPairs == driver-side sentence model on random walk frames") {
    val stepGen = Gen.listOfN(6,
      Gen.zip(Gen.choose(0, 2), Gen.choose(1, 3), Gen.oneOf("a", "b", "c")))
    (1 to 8).foreach { _ =>
      // random (wid, step, node) triples → walks from one start, deduped
      // per (wid, step) and step-contiguous from 1 (a walk can't skip)
      val raw = stepGen.sample.get.distinct
        .groupBy(_._1).toSeq.flatMap { case (wid, rows) =>
          val byStep = rows.map(r => r._2 -> r._3).toMap
          (1 to 3).map(s => byStep.get(s).map(n => (wid, s, n)))
            .takeWhile(_.isDefined).flatten
        }
      if (raw.nonEmpty) {
        val walks = raw.map { case (w, s, n) => ("x", w, s, n) }
          .toDF("start", "wid", "step", "node")
        val window = 2
        val got = graft.ops.GraphFeatures.skipGramPairs(walks, window)
          .as[(String, String, Long)].collect()
          .map(r => (r._1, r._2) -> r._3).toMap
        // model: sentence per wid = start :: steps in order
        val expect = raw.groupBy(_._1).toSeq.flatMap { case (_, rows) =>
          val sent = "x" +: rows.sortBy(_._2).map(_._3)
          for {
            i <- sent.indices; j <- sent.indices
            if i != j && math.abs(i - j) <= window
          } yield (sent(i), sent(j))
        }.groupBy(identity).view.mapValues(_.size.toLong).toMap
        assert(got == expect, s"raw=$raw")
      }
    }
  }

  test("transitions == driver-side consecutive-pair model on random streams") {
    val evGen = Gen.listOfN(30,
      Gen.zip(Gen.choose(1L, 4L), Gen.choose(0L, 99L),
        Gen.oneOf("A", "B", "C")))
    (1 to 6).foreach { _ =>
      // unique (user, ts) so the window order is total
      val evs = evGen.sample.get
        .groupBy(e => (e._1, e._2)).values.map(_.head).toSeq
      val df = evs.toDF("user_id", "ts_us", "event_type")
        .withColumn("event_id", col("ts_us"))
      val got = graft.ops.EventAnalytics.transitions(df, "user_id", "ts_us",
          "event_type")
        .as[(String, String, Long, Long, Long)].collect()
        .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
      val pairs = evs.groupBy(_._1).toSeq.flatMap { case (_, rows) =>
        val ordered = rows.sortBy(_._2).map(_._3)
        ordered.zip(ordered.drop(1))
      }
      val n = pairs.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val nFrom = pairs.groupBy(_._1).view.mapValues(_.size.toLong).toMap
      val expect = n.map { case (p, c) =>
        p -> ((c, nFrom(p._1),
          math.round(1000000.0 * c / nFrom(p._1))))
      }
      assert(got == expect, s"evs=${evs.take(12)}...")
    }
  }

  test("occupancy == driver-side per-bucket containment count") {
    val ivGen = Gen.listOfN(12,
      Gen.zip(Gen.choose(0L, 300L), Gen.choose(0L, 80L)))
    (1 to 6).foreach { _ =>
      val ivs = ivGen.sample.get.map { case (s, len) => (s, s + len) }
      val got = graft.ops.EventAnalytics.occupancy(
          ivs.toDF("s", "e"), "s", "e", bucketMicros = 25L)
        .as[(Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      val expect = ivs.flatMap { case (s, e) => (s / 25L) to (e / 25L) }
        .groupBy(identity).map { case (b, hits) =>
          b -> ((hits.size.toLong, b * 25L))
        }
      // engine emits (bucket, active, bucket_start_us) — align fields
      val gotAligned = got.map { case (b, (active, start)) =>
        b -> ((active, start))
      }
      assert(gotAligned == expect, s"ivs=$ivs")
    }
  }

  test("forwardFill == driver-side LOCF model on random sparse series") {
    val rowGen = Gen.listOfN(30,
      Gen.zip(Gen.choose(1L, 4L), Gen.choose(0L, 99L),
        Gen.option(Gen.choose(1, 9).map(_.toDouble))))
    (1 to 6).foreach { _ =>
      // unique (key, ts) so the order is total without a tiebreak
      val rows = rowGen.sample.get
        .groupBy(r => (r._1, r._2)).values.map(_.head).toSeq
      val got = graft.ops.EventAnalytics.forwardFill(
          rows.toDF("k", "ts", "v"), "k", "ts", "v")
        .as[(Long, Long, Option[Double])].collect().toSet
      val expect = rows.groupBy(_._1).toSeq.flatMap { case (k, rs) =>
        var carry: Option[Double] = None
        rs.sortBy(_._2).map { case (_, ts, v) =>
          carry = v.orElse(carry); (k, ts, carry)
        }
      }.toSet
      assert(got == expect, s"rows=${rows.take(10)}...")
    }
  }

  test("windowed funnel == driver-side first-touch model with gap") {
    val evGen = Gen.listOfN(40,
      Gen.zip(Gen.choose(1L, 6L), Gen.choose(0L, 99L),
        Gen.oneOf("s1", "s2", "s3")))
    (1 to 6).foreach { _ =>
      val evs = evGen.sample.get
        .groupBy(e => (e._1, e._2)).values.map(_.head).toSeq
      val gap = 25L
      val got = graft.ops.EventAnalytics.funnel(
          evs.toDF("u", "ts", "t"), "u", "ts", "t",
          Seq("s1", "s2", "s3"), maxGapMicros = Some(gap))
        .orderBy("step_idx").collect().map(_.getLong(2)).toSeq
      // model: per user, earliest s1; then earliest s2 in (t1, t1+gap];
      // then earliest s3 in (t2, t2+gap]
      val byUser = evs.groupBy(_._1)
      val levels = Seq("s1", "s2", "s3").scanLeft(
        byUser.view.mapValues(_ => Option(Long.MinValue)).toMap: Map[Long, Option[Long]]) {
        case (prev, step) =>
          prev.flatMap { case (u, pt) => pt.flatMap { t0 =>
            val cands = byUser(u).filter(e => e._3 == step &&
              (t0 == Long.MinValue || (e._2 > t0 && e._2 <= t0 + gap)))
            if (cands.isEmpty) None else Some(u -> Some(cands.map(_._2).min))
          }}
      }.drop(1)
      assert(got == levels.map(_.size.toLong), s"evs=${evs.take(10)}...")
    }
  }

  test("rateAnomalies == driver-side trailing-stats model on random streams") {
    val evGen = Gen.listOfN(60,
      Gen.zip(Gen.oneOf("A", "B"), Gen.choose(0L, 499L)))
    (1 to 6).foreach { _ =>
      val evs = evGen.sample.get
      val got = graft.ops.EventAnalytics.rateAnomalies(
          evs.toDF("event_type", "ts_us"), "event_type", "ts_us",
          bucketMicros = 50L, trailing = 3, minPrev = 2)
        .collect()
        .map(r => (r.getAs[String]("type"), r.getAs[Long]("bucket")) ->
          (r.getAs[Long]("n_events"), r.getAs[Long]("n_prev"),
            if (r.isNullAt(r.fieldIndex("z_micro"))) None
            else Some(r.getAs[Long]("z_micro")))).toMap
      // driver model with the engine's exact double-op order
      val expect = evs.groupBy(e => (e._1, e._2 / 50L)).view
        .mapValues(_.size.toLong).toSeq
        .groupBy(_._1._1).flatMap { case (tp, rows) =>
          val ordered = rows.map { case ((_, b), n) => (b, n) }.sortBy(_._1)
          ordered.indices.flatMap { i =>
            val prev = ordered.slice(math.max(0, i - 3), i).map(_._2)
            val np = prev.size.toLong
            if (np < 2) None else {
              val s = prev.sum; val s2 = prev.map(x => x * x).sum
              val varNum = (np * s2 - s * s).toDouble
              val sigma = math.sqrt(varNum / (np.toDouble * np.toDouble))
              val mean = s.toDouble / np.toDouble
              val z = if (sigma > 0.0)
                Some(math.round(1000000.0 *
                  (ordered(i)._2.toDouble - mean) / sigma))
              else None
              Some((tp, ordered(i)._1) -> ((ordered(i)._2, np, z)))
            }
          }
        }
      assert(got == expect, s"evs=${evs.take(20)}...")
    }
  }

  test("canonicalUrl is idempotent and case/tracking/order-insensitive " +
    "on generated URLs") {
    val scheme = Gen.oneOf("http", "https", "HTTP", "HtTpS")
    val host = Gen.oneOf("Example.COM", "www.site.org", "A.b.C", "h.io:8443")
    val path = Gen.oneOf("", "/", "/a/b", "/a//b///c/", "/P/Q/")
    val params = Gen.someOf(Seq("a=1", "b=2", "utm_source=x", "gclid=9",
      "z", "ref=r")).map(_.toSeq)
    val frag = Gen.oneOf("", "#x", "#a b")
    val urlGen = for {
      s <- scheme; h <- host; p <- path; q <- params; f <- frag
    } yield s"$s://$h$p${if (q.isEmpty) "" else q.mkString("?", "&", "")}$f"
    val urls = Gen.listOfN(120, Gen.oneOf(urlGen,
      Gen.asciiPrintableStr.map("junk " + _))).sample.get
    val T = graft.functions.TextFunctions
    val once = urls.toDF("u").select(T.canonicalUrl(col("u")).as("c"))
    val twice = once.select(T.canonicalUrl(col("c")))
      .as[String].collect().toSeq
    assert(twice == once.as[String].collect().toSeq) // fixed point
    // permuting query params and flipping scheme/host case cannot change
    // the canonical form
    val variants = Seq(
      "https://EXAMPLE.com/x?b=2&a=1&utm_source=s#f",
      "HTTPS://www.example.COM:443/x/?a=1&gclid=1&b=2")
      .toDF("u").select(T.canonicalUrl(col("u"))).as[String]
      .collect().toSet
    assert(variants == Set("https://example.com/x?a=1&b=2"))
  }
}
