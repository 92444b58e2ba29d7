package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}

/**
 * Timing-INDEPENDENT plan-regression detection: a per-query census of
 * {jobs, stages, tasks, shuffle-map stages} under a fixed config (the
 * test-suite session: local[4], 4 shuffle partitions, sf0.001).
 * Wall-clock on the build hosts swings 2-3x with ambient noise, so bench
 * timings alone cannot adjudicate small plan regressions — this census
 * can: a broadcast subtree that starts re-executing its lineage shows up
 * as extra jobs re-running the same stages (q_full_chain's chain-head
 * checkpoint was worth 42→28 jobs / 567→286 tasks), an accidental extra
 * exchange shows up as an extra shuffle-map stage, a lost broadcast as a
 * shuffle join's extra stages — and none of these numbers move with host
 * load.
 *
 * All four counts come from the SCHEDULER (SparkListener, drained through
 * GraftSparkBridge before reading) — runtime truth, not plan-string
 * parsing: the post-AQE plan string reprints shared subtrees in
 * materialization-dependent ways and is NOT run-stable (measured: its
 * BroadcastExchange line count differed 44 vs 54 between two identical
 * runs), while two full scheduler censuses of 196 queries agreed exactly
 * on 195 and within one job on the last (ContextCleaner races can let a
 * warm run's still-registered shuffle output skip one stage; AQE
 * partition coalescing reacts to in-JVM memory state, drifting task
 * counts up to ~18% on deep beam plans across JVMs). Hence
 * PlanCensusSpec's slack: ±1 job, ±2 stages/shuffles, ±max(8, 30%)
 * tasks — still an order of magnitude tighter than any real regression
 * seen (the q_full_chain one was 2x tasks).
 *
 * Protocol per query (mirrors the bench's warm-median convention): evict
 * every persistent RDD outside the warmed store layouts, run the query
 * once untimed (its plan-matched caches persist), then census the SECOND
 * execution. Regenerate the committed snapshot after intentional plan
 * changes with:
 *
 *   sbt "runMain graft.tools.PlanCensus"
 */
object PlanCensus {

  final case class Census(jobs: Int, stages: Int, tasks: Long,
                          shuffles: Int, shuffleReadB: Long = 0L,
                          shuffleWriteB: Long = 0L) {
    def render: String =
      s"""{"jobs":$jobs,"stages":$stages,"tasks":$tasks,""" +
        s""""shuffles":$shuffles,"shuffle_read_b":$shuffleReadB,""" +
        s""""shuffle_write_b":$shuffleWriteB}"""
  }

  /** Census one query's WARM second execution; the caller owns eviction
    * discipline between queries. `shuffles` counts executed shuffle-map
    * stages (StageInfo.shuffleDepId defined) — the runtime twin of
    * "exchanges in the plan". */
  def measure(spark: SparkSession, sfDir: String,
              fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
  : Census = {
    fn(spark, sfDir).count() // warm run: operator caches persist
    // drain the async bus BEFORE registering: a late-added listener
    // receives still-queued warm-run events, which would leak warm
    // stages/tasks into the censused second execution (round-9 ADVICE)
    org.apache.spark.GraftSparkBridge
      .drainListenerBus(spark.sparkContext)
    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0L
    @volatile var shuffles = 0
    @volatile var shufReadB = 0L
    @volatile var shufWriteB = 0L
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages += 1
        tasks += s.stageInfo.numTasks
        if (org.apache.spark.GraftSparkBridge
            .isShuffleMapStage(s.stageInfo)) shuffles += 1
        // payload-width census: task/job counts cannot see a column that
        // doubled the exchange payload (the round-9 suffix-dedup
        // hex-vs-binary class); shuffle BYTES are timing-independent at
        // fixed sf (same data, same codec) up to per-partition
        // compression-framing jitter, which the spec's slack covers
        val tm = s.stageInfo.taskMetrics
        if (tm != null) {
          shufReadB += tm.shuffleReadMetrics.totalBytesRead
          shufWriteB += tm.shuffleWriteMetrics.bytesWritten
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      fn(spark, sfDir).count()
      org.apache.spark.GraftSparkBridge
        .drainListenerBus(spark.sparkContext)
      Census(jobs, stages, tasks, shuffles, shufReadB, shufWriteB)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Census every SparkEntry query (sorted); between queries every
    * persistent RDD outside `warmedRddIds` is evicted, exactly like the
    * bench loop. */
  def censusAll(spark: SparkSession, sfDir: String,
                warmedRddIds: Set[Int],
                only: Option[Set[String]] = None): Seq[(String, Census)] = {
    def evictTransient(): Unit = {
      spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!warmedRddIds.contains(id)) rdd.unpersist(blocking = false)
      }
      System.gc()
    }
    graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
        evictTransient()
        name -> measure(spark, sfDir, fn)
      }
  }

  def renderJson(sfDir: String, partitions: String,
                 rows: Seq[(String, Census)]): String =
    s"""{"sf":"$sfDir","shuffle_partitions":$partitions,"queries":{""" +
      rows.map { case (n, c) => "\"" + n + "\":" + c.render }
        .mkString(",") + "}}"

  /** Parse a census JSON (the committed snapshot) without a JSON library
    * (none on the unmanaged classpath). */
  def parseJson(txt: String): Map[String, Census] =
    ("\"([^\"]+)\"\\s*:\\s*\\{\"jobs\":(\\d+),\"stages\":(\\d+)," +
      "\"tasks\":(\\d+),\"shuffles\":(\\d+)" +
      "(?:,\"shuffle_read_b\":(\\d+),\"shuffle_write_b\":(\\d+))?\\}").r
      .findAllMatchIn(txt)
      .map(m => m.group(1) -> Census(m.group(2).toInt, m.group(3).toInt,
        m.group(4).toLong, m.group(5).toInt,
        Option(m.group(6)).map(_.toLong).getOrElse(0L),
        Option(m.group(7)).map(_.toLong).getOrElse(0L)))
      .toMap

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = if (args.length > 1) args(1) else "PLAN_CENSUS.json"
    // EXACTLY the test-suite session config (SparkSpec): the committed
    // census and the spec's recomputation must see identical plans
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.GraftExtensions.registerAll(spark)
    graft.queries.Warmup.warmAll(spark, sfDir)
    val warmed = spark.sparkContext.getPersistentRDDs.keySet.toSet
    // optional arg 3: comma-separated subset for A/B iteration — pass an
    // EXPLICIT out path too; a subset snapshot would fail the spec's
    // coverage check if it replaced the committed full census
    val only = if (args.length > 2) Some(args(2).split(",").toSet) else None
    if (only.isDefined && out == "PLAN_CENSUS.json")
      sys.error("subset census would overwrite the committed full census " +
        "— pass an explicit output path (arg 2)")
    val rows = censusAll(spark, sfDir, warmed, only)
    val json = renderJson(sfDir, "4", rows)
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(s"[census] wrote ${rows.size} queries to $out")
    spark.stop()
  }
}
