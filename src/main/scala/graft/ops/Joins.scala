package graft.ops

import java.util.concurrent.locks.ReentrantLock

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.broadcast

/**
 * Join-strategy helpers shared by the driver-loop operators (BFS, beams,
 * k-hop). A broadcast hint is only safe when the frame is provably small;
 * loop frontiers grow with the data, so each hop gates the hint on the
 * frontier's materialized row count instead of hinting unconditionally.
 */
object Joins {

  /** Rows above which a frontier stops being broadcast and the join falls
    * back to AQE's choice (shuffle join, or a runtime broadcast conversion
    * if the measured bytes allow). ~1M ids is well under the default 8GB
    * broadcast-table hard cap but large enough that real frontiers at test
    * scale always take the fast path. */
  val BroadcastRowCap: Long = 1000000L

  /** Broadcast `f` only when its known row count is under `cap`. Callers
    * count a localCheckpoint'd frame, so the count is a cheap cached scan. */
  def gatedBroadcast(f: DataFrame, rows: Long,
                     cap: Long = BroadcastRowCap): DataFrame =
    if (rows <= cap) broadcast(f) else f

  /** Materialize a flat-lineage local checkpoint AND count it in ONE job:
    * the lazy checkpoint persists while the count action computes, where
    * `localCheckpoint(true)` pays a separate materialization job before
    * the count. In per-depth frontier loops the layers are tiny, so those
    * scheduling round-trips — not the data — dominate; fusing them halves
    * the driver jobs per depth. Rows and caching are identical to the
    * eager form. */
  def checkpointCount(df: DataFrame): (DataFrame, Long) = {
    val out = df.localCheckpoint(false)
    (out, out.count())
  }

  /** Materializes a bounded frame as a driver-local relation. A broadcast
    * join whose build side is a LocalRelation is assembled directly from
    * the driver rows — no cluster job, no task launch — so a
    * width-bounded beam loop pays exactly one distributed action per
    * depth (the collect itself) instead of one per broadcast hint. Only
    * call this on frames bounded by construction (beam width, top-k
    * limits): the rows live on the driver, like the reference engine's
    * per-depth frontier list. */
  def localize(df: DataFrame): DataFrame = {
    val rows = df.collect()
    df.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), df.schema)
  }

  /**
   * Bloom-filter pre-filtered anti-join — the shuffle-free scale path for
   * "drop corpus rows whose key appears in this exclusion set" (checkpoint
   * anti-joins, decontamination sweeps, delete cascades). Result is EXACT:
   * the Bloom filter only routes rows.
   *
   * A plain `left_anti` against a non-broadcastable exclusion set shuffles
   * the WHOLE corpus on the key. Here the exclusion keys build one compact
   * Bloom sketch (`stat.bloomFilter` — a distributed aggregate; only the
   * bit-array comes to the driver), which broadcasts to every task:
   *
   *  - rows whose key the filter rejects are DEFINITELY clean → kept with
   *    zero shuffle (at 1% fpp that is ~99% of a mostly-clean corpus);
   *  - the small might-contain remainder alone pays the exact anti-join,
   *    and a candidate set this size typically broadcasts under AQE.
   *
   * The corpus is scanned twice (both branches prune to the key + payload
   * columns) — at 100 TB two column-pruned scans are far cheaper than one
   * full-corpus shuffle. Spark's own runtime-filter rule makes the same
   * trade for equi-joins; this makes it explicit for anti-joins, which the
   * rule does not cover.
   */
  def bloomAntiJoin(big: DataFrame, bigKey: String,
                    excl: DataFrame, exclKey: String,
                    expectedItems: Long, fpp: Double = 0.01): DataFrame = {
    import org.apache.spark.sql.functions.{col, udf}
    require(expectedItems > 0, s"expectedItems must be > 0, got $expectedItems")
    import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
    // validate the key type BEFORE the sketch aggregate runs, so unsupported
    // types fail with this contract message, not a sketch internal
    val keyType = big.schema(bigKey).dataType
    if (!Seq(StringType, LongType, IntegerType).contains(keyType))
      throw new IllegalArgumentException(
        s"bloomAntiJoin key must be STRING/LONG/INT, got $keyType")
    val exclKeys = excl.select(col(exclKey)).na.drop()
    val bf = exclKeys.stat.bloomFilter(exclKey, expectedItems, fpp)
    val bfB = big.sparkSession.sparkContext.broadcast(bf)
    val might = keyType match {
      case StringType =>
        udf((k: String) => k != null && bfB.value.mightContainString(k))
      case LongType =>
        udf((k: java.lang.Long) => k != null && bfB.value.mightContainLong(k))
      case _ =>
        udf((k: java.lang.Integer) =>
          k != null && bfB.value.mightContainLong(k.longValue()))
    }
    // null keys never match an equi-anti-join → they are kept, both here
    // (mightContain=false routes them to the definite-keep branch) and in
    // the plain left_anti this replaces.
    val definiteKeep = big.filter(!might(col(bigKey)))
    val candidates = big.filter(might(col(bigKey)))
      .join(exclKeys, big(bigKey) === exclKeys(exclKey), "left_anti")
    definiteKeep.union(candidates)
  }

  /** Execution confs of [[boundedLoop]]: plain planning over 4 shuffle
    * partitions. Stats degrade through union/distinct chains: without AQE
    * a bounded candidate frame can over-estimate past the 10MB default
    * broadcast threshold and fall into a sort-merge join; inside the loop
    * a larger cap is always safe. */
  private val LoopConfs = Seq(
    "spark.sql.adaptive.enabled" -> "false",
    "spark.sql.shuffle.partitions" -> "4",
    "spark.sql.autoBroadcastJoinThreshold" -> (64 << 20).toString)

  /** One re-entrant lock per session; weak keys, so a stopped session is
    * not kept alive by this map. */
  private val loopLocks = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, ReentrantLock]())

  /** Runs a bounded-frontier driver loop under loop-sized execution confs.
    *
    * Beam/context loops plan dozens of tiny exchanges per depth over
    * frontier-derived frames that are bounded by beam width × per-node caps
    * — independent of corpus size — so wide-query defaults (32+ shuffle
    * partitions, AQE's per-stage scheduling) cost more in task overhead
    * than the data itself. Scoping the loop to a few plain partitions cut
    * the beam queries ~40% at sf0.1. Session confs are restored on exit, so
    * plans built afterwards (including the caller's final action on the
    * returned frame) execute under the normal adaptive config.
    *
    * The confs are the shared session's, so loop bodies on one session run
    * one at a time (a re-entrant lock: a nested loop runs inline), and each
    * restores what it saved. Other queries on the session still plan under
    * the loop confs while a loop runs; their results are unaffected, only
    * their plan shape. */
  def boundedLoop[T](spark: SparkSession)(body: => T): T = {
    val lock = loopLocks.computeIfAbsent(spark, _ => new ReentrantLock())
    lock.lock()
    try {
      val saved = LoopConfs.map { case (k, _) => k -> spark.conf.get(k) }
      try {
        LoopConfs.foreach { case (k, v) => spark.conf.set(k, v) }
        body
      } finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
    } finally lock.unlock()
  }
}
