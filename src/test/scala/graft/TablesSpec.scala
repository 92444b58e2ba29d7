package graft

import java.lang.ref.WeakReference
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.Tables

class TablesSpec extends SparkSpec {

  test("the table memo keeps one entry per session and key, and an entry " +
    "of a dropped session becomes collectable") {
    val a = spark.range(3).toDF("x")
    assert(Tables.memo(spark, "memo-spec")(a) eq a)
    assert(Tables.memo[DataFrame](spark, "memo-spec")(fail("built twice")) eq a)
    // a session that never ran a job: Spark itself keeps no reference to it
    def dropped(): (WeakReference[SparkSession], WeakReference[DataFrame]) = {
      val s = spark.newSession()
      val df = Tables.memo(s, "memo-spec")(s.range(3).toDF("x"))
      assert(Tables.memo[DataFrame](s, "memo-spec")(fail("built twice")) eq df)
      assert(!(df eq a))
      (new WeakReference(s), new WeakReference(df))
    }
    val (session, entry) = dropped()
    var gcs = 0
    while ((session.get != null || entry.get != null) && gcs < 50) {
      System.gc(); Thread.sleep(20); gcs += 1
    }
    assert(entry.get == null && session.get == null, s"after $gcs GCs")
    assert(Tables.memo[DataFrame](spark, "memo-spec")(fail("built twice")) eq a)
  }
}
