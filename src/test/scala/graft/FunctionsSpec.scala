package graft

import org.apache.spark.sql.functions._
import graft.functions.{CosineSimilarity, HashFunctions, TextFunctions, VectorFunctions}

class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("searchStr normalizes punctuation, whitespace, case") {
    val out = Seq("  Hello,   World!! ", "a.b-c", "")
      .toDF("s").select(TextFunctions.searchStr(col("s"))).as[String].collect()
    assert(out.toSeq == Seq("hello world", "a b c", ""))
  }

  test("labelFrom / relationshipName match the reference conventions") {
    val df = Seq("sold to", "works  AT").toDF("s")
    val labels = df.select(TextFunctions.labelFrom(col("s"))).as[String].collect()
    val rels = df.select(TextFunctions.relationshipName(col("s"))).as[String].collect()
    assert(labels.toSeq == Seq("SoldTo", "WorksAt"))
    assert(rels.toSeq == Seq("SOLD_TO", "WORKS_AT"))
  }

  test("tokenCount handles empty and multi-space text") {
    val out = Seq("", "  ", "one", "a  b c").toDF("s")
      .select(TextFunctions.tokenCount(col("s"))).as[Int].collect()
    assert(out.toSeq == Seq(0, 0, 1, 3))
  }

  test("registerOnce replaces a foreign binding, keeps graft's own") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.{ExpressionInfo, Literal}
    val reg = spark.sessionState.functionRegistry
    // simulate a user session that already bound its own cosine_sim
    reg.registerFunction(FunctionIdentifier("cosine_sim"),
      new ExpressionInfo("com.example.ForeignCosine", "cosine_sim"),
      _ => Literal(42.0))
    CosineSimilarity.register(spark)
    val out = spark.sql(
      "SELECT cosine_sim(array(1.0D, 0.0D), array(1.0D, 0.0D))")
      .head.getDouble(0)
    assert(out == 1.0, "graft's semantics must win over a foreign binding")
    // and graft's binding is not churned on repeat registration
    val info = reg.lookupFunction(FunctionIdentifier("cosine_sim")).get
    CosineSimilarity.register(spark)
    assert(reg.lookupFunction(FunctionIdentifier("cosine_sim")).get eq info)
  }

  test("langId votes by stopword hits with deterministic ties") {
    val out = Seq("the cat sat on the mat", "el gato y la casa", "xyzzy qwerty")
      .toDF("s").select(TextFunctions.langId(col("s"))).as[String].collect()
    assert(out.toSeq == Seq("en", "es", "und"))
  }

  test("hashEmbedding is deterministic and in [-1,1]") {
    val a = Seq("doc one").toDF("s")
      .select(VectorFunctions.hashEmbedding(col("s"), 16)).as[Seq[Double]].head()
    val b = Seq("doc one").toDF("s")
      .select(VectorFunctions.hashEmbedding(col("s"), 16)).as[Seq[Double]].head()
    assert(a == b)
    assert(a.forall(v => v >= -1.0 && v <= 1.0))
    assert(a.distinct.size > 1)
  }

  test("CosineSimilarity expression matches the composed fold bit-for-bit") {
    CosineSimilarity.register(spark)
    val df = Seq(
      (Array(1.0f, 2.0f, 3.0f), Array(3.0f, 2.0f, 1.0f)),
      (Array(0.5f, -0.25f, 0.125f), Array(-0.5f, 0.25f, 0.75f)))
      .toDF("a", "b")
    val rows = df.select(
      CosineSimilarity.cosine(col("a"), col("b")).as("native"),
      VectorFunctions.cosine(col("a"), col("b")).as("composed"))
      .as[(Double, Double)].collect()
    rows.foreach { case (n, c) => assert(n == c) }
  }

  test("CosineSimilarity handles zero vectors and works from SQL") {
    CosineSimilarity.register(spark)
    val z = Seq((Array(0.0f, 0.0f), Array(1.0f, 1.0f))).toDF("a", "b")
    assert(z.select(CosineSimilarity.cosine(col("a"), col("b")))
      .as[Double].head() == 0.0)
    z.createOrReplaceTempView("zv")
    assert(spark.sql("SELECT cosine_sim(a, b) FROM zv").as[Double].head() == 0.0)
  }

  test("MinhashSignature expression matches the composed-Column form exactly") {
    graft.functions.MinhashSignature.register(spark)
    val texts = Seq(
      "The quick brown fox, jumps over the lazy dog!",
      "a b",          // fewer tokens than the shingle size
      "",             // empty after normalization
      "  Punct.-only;;;   ",
      "repeat repeat repeat repeat repeat")
    val df = texts.toDF("text")
    val rows = df.select(
      graft.functions.MinhashSignature.signature(col("text"), 16, 3).as("native"),
      HashFunctions.minhashSignature(col("text"), 16, 3).as("composed"))
      .as[(Seq[Long], Seq[Long])].collect()
    rows.foreach { case (n, c) => assert(n == c) }
    // and via SQL
    df.createOrReplaceTempView("mh")
    val sql = spark.sql("SELECT minhash_sig(text, 16, 3) FROM mh")
      .as[Seq[Long]].collect()
    assert(sql.toSeq == rows.map(_._1).toSeq)
  }

  test("redactPii scrubs emails, phones, and long digit runs") {
    import graft.functions.TextFunctions
    def red(s: String): String =
      Seq(s).toDF("t").select(TextFunctions.redactPii(col("t")))
        .as[String].head()
    assert(red("mail a.b+c@ex-ample.co.uk now") == "mail <EMAIL> now")
    assert(red("call +1 (555) 123-4567 today") == "call <PHONE> today")
    assert(red("ssn-ish 123456789012 ok") == "ssn-ish <NUMBER> ok")
    // short numbers and plain words survive
    assert(red("version 4.1.2 port 8080") == "version 4.1.2 port 8080")
    assert(red("a@b") == "a@b") // not a full email
  }

  test("int8 quantization: bounds, zero vector, cosine within 1% of fp32") {
    import org.apache.spark.sql.functions._
    import graft.functions.{VectorFunctions => V}
    val r = new scala.util.Random(11)
    val vecs = (0 until 50).map(i =>
      (i, Seq.fill(64)(r.nextDouble() * 2 - 1))) :+ (99, Seq.fill(64)(0.0))
    val df = spark.createDataFrame(vecs).toDF("id", "v")
      .withColumn("qz", V.quantizeInt8(col("v")))
    // every quantized component in [-127, 127]
    val bounds = df.select(
      min(array_min(col("qz.q"))).as("lo"),
      max(array_max(col("qz.q"))).as("hi")).head()
    assert(bounds.getByte(0) >= -127 && bounds.getByte(1) <= 127)
    // zero vector: scale 1.0, all-zero q
    val z = df.filter(col("id") === 99)
      .select(col("qz.scale"), array_max(col("qz.q"))).head()
    assert(z.getDouble(0) == 1.0 && z.getByte(1) == 0)
    // quantized cosine tracks fp32 cosine within 1% absolute
    val q0 = df.filter(col("id") === 0)
      .select(col("v").as("v0"), col("qz.q").as("q0")).head()
    val err = df.filter(col("id") =!= 99 && col("id") =!= 0)
      .select(abs(
        V.cosine(col("v"), typedLit(q0.getSeq[Double](0))) -
          V.cosine(col("qz.q"), typedLit(q0.getSeq[Byte](1)))).as("e"))
      .agg(max("e")).head().getDouble(0)
    assert(err < 0.01, s"max |cos_fp32 - cos_int8| = $err")
    // round trip: dequantized values within half a quantization step
    val rt = df.filter(col("id") === 0).select(
      array_max(zip_with(col("v"), V.dequantizeInt8(col("qz")),
        (a, b) => abs(a - b))).as("d"),
      (lit(0.5) / col("qz.scale")).as("step")).head()
    assert(rt.getDouble(0) <= rt.getDouble(1) + 1e-12)
  }

  test("UnicodeNormalize: NFC composes, NFKC folds compatibility chars, " +
    "fast path returns already-normal input, codegen == interpreted") {
    graft.GraftExtensions.registerAll(spark)
    val U = graft.functions.UnicodeNormalize
    // decomposed a + COMBINING GRAVE -> precomposed U+00E0 under NFC
    val df = Seq("àb", "plain ascii", "ﬁne", null)
      .toDF("s")
    val nfc = df.select(U.unicodeNormalize(col("s"), "NFC").as("n"),
      length(col("s")).as("lr"), length(col("n")).as("ln"))
      .collect()
    assert(nfc(0).getString(0) == "àb" &&
      nfc(0).getInt(1) == 3 && nfc(0).getInt(2) == 2)
    assert(nfc(1).getString(0) == "plain ascii") // fast path, unchanged
    assert(nfc(2).getString(0) == "ﬁne")    // ligature survives NFC
    assert(nfc(3).isNullAt(0))                   // null passthrough
    // NFKC folds the fi ligature to "fi"
    val nfkc = df.select(U.unicodeNormalize(col("s"), "NFKC"))
      .collect()(2).getString(0)
    assert(nfkc == "fine")
    // codegen and interpreted agree (fold forces the interpreted path)
    val viaSql = spark.sql(
      "SELECT unicode_normalize('àb', 'NFC')").head().getString(0)
    assert(viaSql == "àb")
    val interp = graft.functions.UnicodeNormalize(
      org.apache.spark.sql.catalyst.expressions.Literal(
        org.apache.spark.unsafe.types.UTF8String.fromString("àb")),
      "NFC").eval(null).toString
    assert(interp == "àb")
    // bad form fails at CONSTRUCTION, not mid-task
    intercept[IllegalArgumentException] {
      graft.functions.UnicodeNormalize(
        org.apache.spark.sql.catalyst.expressions.Literal("x"), "NFX")
    }
  }

  test("canonicalUrl: case/www/port/slashes/tracking/order/fragment all " +
    "normalize; non-http passes through trimmed") {
    val T = graft.functions.TextFunctions
    val urls = Seq(
      "HTTPS://WWW.Example.COM:443/a//b/?utm_source=x&b=2&a=1#top",
      "https://example.com/a/b?a=1&b=2",
      "http://Site.ORG:80//p///q//?ref=abc",
      "http://site.org/p/q",
      "  ftp://keep.me/AS-IS?b=1&a=2  ",
      "mailto:x@y.z",
      "https://h.io:8443/x?z=1&utm=keepme") // :8443 kept; bare utm kept
    val out = urls.toDF("u").select(T.canonicalUrl(col("u"))).as[String]
      .collect().toSeq
    assert(out(0) == "https://example.com/a/b?a=1&b=2")
    assert(out(1) == out(0)) // the dedup collapse
    assert(out(2) == "http://site.org/p/q")
    assert(out(3) == out(2))
    assert(out(4) == "ftp://keep.me/AS-IS?b=1&a=2") // trimmed, untouched
    assert(out(5) == "mailto:x@y.z")
    assert(out(6) == "https://h.io:8443/x?utm=keepme&z=1")
    // root URL: trailing slash drops, query-only page keeps its params
    val extra = Seq("https://a.b/", "https://a.b/?gclid=1&x=2")
      .toDF("u").select(T.canonicalUrl(col("u"))).as[String].collect()
    assert(extra(0) == "https://a.b")
    assert(extra(1) == "https://a.b?x=2")
  }

  test("SortedSumAgg is bit-identical to aggregate(array_sort(" +
    "collect_list)) — nulls skipped, empty group = 0.0") {
    import org.apache.spark.sql.GraftSqlBridge
    val rnd = new scala.util.Random(42)
    val rows = (1 to 5000).map { i =>
      (i % 97, if (i % 31 == 0) null else
        java.lang.Double.valueOf(rnd.nextDouble() * math.pow(10, i % 17)))
    }
    val df = rows.toDF("k", "v").repartition(13)
    val native = df.groupBy("k")
      .agg(GraftSqlBridge.sortedSum(col("v")).as("s"))
      .as[(Int, Double)].collect().toMap
    val composed = df.groupBy("k")
      .agg(aggregate(array_sort(collect_list(col("v"))),
        lit(0.0), (acc, x) => acc + x).as("s"))
      .as[(Int, Double)].collect().toMap
    assert(native.size == 97)
    native.foreach { case (k, s) =>
      assert(java.lang.Double.doubleToLongBits(s) ==
        java.lang.Double.doubleToLongBits(composed(k)), s"key $k") }
    // all-null group folds to exactly 0.0
    val z = Seq((1, null.asInstanceOf[java.lang.Double]))
      .toDF("k", "v").groupBy("k")
      .agg(GraftSqlBridge.sortedSum(col("v")).as("s"))
      .as[(Int, Double)].head()
    assert(z._2 == 0.0)
    // non-double input fails analysis loudly
    intercept[org.apache.spark.sql.AnalysisException] {
      Seq((1, "x")).toDF("k", "v").groupBy("k")
        .agg(GraftSqlBridge.sortedSum(col("v"))).collect()
    }
  }
}
