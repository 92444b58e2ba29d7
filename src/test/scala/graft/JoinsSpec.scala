package graft

import graft.ops.Joins
import org.apache.spark.sql.functions._

class JoinsSpec extends SparkSpec {
  import spark.implicits._

  test("bloomAntiJoin equals the plain left_anti, keeps null keys, " +
    "tolerates duplicate exclusion keys") {
    val big = Seq((1L, Some("a")), (2L, Some("b")), (3L, Some("c")),
      (4L, None), (5L, Some("b")))
      .toDF("id", "key")
    val excl = Seq("b", "b", "x").toDF("excl_key")
    val got = Joins.bloomAntiJoin(big, "key", excl, "excl_key", 100)
      .select("id").as[Long].collect().sorted
    val want = big.join(excl, big("key") === excl("excl_key"), "left_anti")
      .select("id").as[Long].collect().sorted
    assert(got.toSeq == want.toSeq && got.toSeq == Seq(1L, 3L, 4L))
  }

  test("bloomAntiJoin long keys: exact under a deliberately tiny filter " +
    "(every false positive must be re-checked away)") {
    val big = spark.range(0, 1000).select(col("id"))
    val excl = spark.range(0, 1000, 3).select(col("id").as("k"))
    // expectedItems=10 on 334 inserts forces a saturated, FP-heavy filter:
    // correctness must come from the exact candidate anti-join, not the fpp
    val got = Joins.bloomAntiJoin(big, "id", excl, "k", expectedItems = 10)
      .as[Long].collect().sorted
    assert(got.toSeq == (0L until 1000L).filter(_ % 3 != 0))
  }

  test("bloomAntiJoin refuses unsupported key types") {
    val big = Seq((1.5, "x")).toDF("key", "v")
    val excl = Seq(2.5).toDF("k")
    val e = intercept[IllegalArgumentException](
      Joins.bloomAntiJoin(big, "key", excl, "k", 10))
    assert(e.getMessage.contains("STRING/LONG/INT"))
  }

  test("boundedLoop runs one body per session at a time, nests, and " +
    "restores the session confs also when its body throws") {
    val aqe = "spark.sql.adaptive.enabled"
    assert(spark.conf.get(aqe) == "true", "precondition: AQE on")
    val inFirst = new java.util.concurrent.CountDownLatch(1)
    val releaseFirst = new java.util.concurrent.CountDownLatch(1)
    val secondEntered = new java.util.concurrent.atomic.AtomicBoolean(false)
    val first = new Thread(() =>
      Joins.boundedLoop(spark) { inFirst.countDown(); releaseFirst.await() })
    first.start()
    inFirst.await()
    assert(spark.conf.get(aqe) == "false", "loop confs in effect")
    val second = new Thread(() =>
      Joins.boundedLoop(spark) { secondEntered.set(true) })
    second.start()
    Thread.sleep(300)
    assert(!secondEntered.get(), "the second body waits for the first")
    releaseFirst.countDown()
    first.join(); second.join()
    assert(secondEntered.get())
    assert(spark.conf.get(aqe) == "true")
    // re-entrant: a nested loop runs inline, the outer restore wins
    assert(Joins.boundedLoop(spark)(Joins.boundedLoop(spark)(
      spark.conf.get(aqe))) == "false")
    assert(spark.conf.get(aqe) == "true")
    intercept[IllegalStateException](
      Joins.boundedLoop(spark)(throw new IllegalStateException("boom")))
    assert(spark.conf.get(aqe) == "true")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
  }
}
