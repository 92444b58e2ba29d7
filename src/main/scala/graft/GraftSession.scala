package graft

import org.apache.spark.sql.SparkSession

/**
 * THE session configuration of `graft.Verify` and of perfbench: one
 * builder, so the configuration that is CORRECTNESS-verified is
 * byte-for-byte the configuration that is benchmarked.
 *
 * Core count comes from $SPARK_GRAFT_CPUS (a run at a lower core count
 * measures scaling, so the master is never hard-coded); callers pass their
 * own default.
 */
object GraftSession {

  def builder(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      // Deep chain/beam plans carry >100 whole-stage-codegen segments, so
      // the default 100-entry generated-class cache THRASHES: q_full_chain
      // re-compiled ~86 janino classes on EVERY rep (~0.85 s/rep measured
      // via CodegenMetrics) — steady-state cost, not warmup. Any
      // long-lived multi-query engine (the deployment shape of this
      // library) wants the cache sized to its working set; metaspace cost
      // at 2000 entries is tens of MB. Static conf: set before the
      // session exists.
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      // ObjectHashAggregate (CollectTopK heaps, SortedSumAgg folds,
      // Misra-Gries sketches) falls back to SORT-based aggregation after
      // 128 distinct in-memory keys by default — re-introducing exactly
      // the map- and reduce-side sorts those operators exist to avoid.
      // 2^14 is the measured sweet spot of a 3-way sweep (128 / 16k / 1M):
      // the few-k-group iterative sortedSum rounds (6.5k node groups) stay
      // hash-based, while the 100k+-group-per-partition heap aggregates
      // (CollectTopK at 150k groups) KEEP the streaming sort fallback,
      // which measured faster than holding 150k live heap buffers
      // (q_topk_per_key 2.54 s hash-capped vs 3.11 s at 1M). Memory is the
      // easy part (16k × ~100 B ≈ 2 MB/task); the cap exists because the
      // fallback WINS at very high group counts, not because hash mode
      // would not fit.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        (1 << 14).toString)
      // Partition sizing for the TEST scale factors (the 100 TB rule "size
      // maxPartitionBytes so partitions fit memory and cores stay busy",
      // applied downward): the sf0.1 tables are 0.5-11 MB files, so the
      // 128 MB default plans 1-3 scan tasks and the md5/tokenize-heavy
      // base projections run on 3 of $cpus cores. 1 MB splits the biggest
      // table across the box; the small ones still fit one task.
      .config("spark.sql.files.maxPartitionBytes", (1 << 20).toString)
      .config("spark.sql.files.openCostInBytes", (1 << 18).toString)
      // Shuffle/spill files on tmpfs when one with headroom exists: the
      // build VMs intermittently stall threads in disk writeback (load
      // high, CPUs idle) and test-scale shuffle data is MBs — RAM-backed
      // local dirs take the whole pathology out of the timed path. Real
      // clusters point this at executor-local NVMe instead.
      .config("spark.local.dir", {
        val shm = new java.io.File("/dev/shm")
        if (shm.isDirectory && shm.getUsableSpace > (20L << 30))
          "/dev/shm/graft-spark-local"
        else System.getProperty("java.io.tmpdir", "/tmp")
      })
      .config("spark.ui.enabled", "false")
}
