package graft

import org.apache.spark.sql.functions._

class CorpusCleaningSpec extends SparkSpec {
  import spark.implicits._

  test("canonicalUrl and unicode_normalize run UNCHANGED on a stream " +
    "(stateless column exprs): streamed output equals the batch run") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    graft.GraftExtensions.registerAll(spark)
    val T = graft.functions.TextFunctions
    val U = graft.functions.UnicodeNormalize
    val rows = Seq(
      (1L, "HTTPS://WWW.Example.COM:443/a//b/?utm_source=x&b=2&a=1#top"),
      (2L, "plain cafe\u0301 text"),
      (3L, "http://Site.ORG:80/p?gclid=1"))
    val input = MemoryStream[(Long, String)]
    val out = input.toDS().toDF("id", "s").select(col("id"),
      T.canonicalUrl(col("s")).as("canon"),
      U.unicodeNormalize(col("s"), "NFC").as("nfc"))
    val q = out.writeStream.format("memory").queryName("urlnfc_out")
      .outputMode(OutputMode.Append()).start()
    input.addData(rows: _*); q.processAllAvailable(); q.stop()
    val batch = rows.toDF("id", "s").select(col("id"),
      T.canonicalUrl(col("s")).as("canon"),
      U.unicodeNormalize(col("s"), "NFC").as("nfc"))
      .collect().map(_.toSeq).toSet
    assert(spark.table("urlnfc_out").collect().map(_.toSeq).toSet == batch)
    // the NFC row really composed (é is one char after normalization)
    val nfc = spark.table("urlnfc_out").filter(col("id") === 2L)
      .select(length(col("nfc"))).head().getInt(0)
    assert(nfc == rows(1)._2.length - 1)
  }
}
