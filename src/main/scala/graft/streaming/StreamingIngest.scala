package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/**
 * Incremental JSONL document ingestion as a Structured Streaming file source
 * — the Spark-native form of the reference's StreamingJSONLReaderProvider
 * (reference: indexing/load/readers/providers/streaming_jsonl_reader_provider.py:24-198:
 * line-batched reading for constant memory) and its restart-safe Checkpoint
 * dedup (indexing/build/checkpoint.py; wiring build_pipeline.py:213-240).
 *
 * The reference's `batch_size` knob becomes `maxFilesPerTrigger`; its
 * explicit checkpoint file becomes the engine checkpoint dir plus an
 * anti-join against the already-built id set, so re-delivered files never
 * double-build. At 100 TB this is the only ingestion shape that works: the
 * file listing is incremental, each micro-batch is a bounded job, and the
 * build inside foreachBatch is the same deterministic batch pipeline.
 */
object StreamingIngest {

  /** Open a JSONL directory as a micro-batched stream. */
  def jsonlStream(spark: SparkSession, dir: String, schema: StructType,
                  filesPerTrigger: Int = 1): DataFrame =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", filesPerTrigger)
      .json(dir)

  /**
   * Run the ingest: each micro-batch is checkpoint-deduped (anti-join on
   * `idCol` against `processedIds`) then handed to `onBatch` — typically
   * LexicalGraphBuilder.fromDocuments + table append. Returns the running
   * query; callers stop it or `processAllAvailable()` it.
   */
  def ingest(stream: DataFrame, processedIds: DataFrame, idCol: String,
             checkpointDir: String)
            (onBatch: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // the one checkpoint filter (broadcast anti-join on distinct ids) —
        // not a hand-rolled twin that would plan a full shuffle anti-join
        val fresh = graft.index.Checkpoint.filterNew(batch, processedIds, idCol)
        onBatch(fresh, batchId)
      }
      .start()

  /** Streaming exact dedup: watermark-bounded dedup on the id ALONE — a
    * re-delivered document inside the watermark window emits once even
    * when the producer restamps its event time on retry
    * (dropDuplicates(id, ts) would treat the restamp as a new key and
    * emit twice). `dropDuplicatesWithinWatermark` keeps state only within
    * the watermark window, so state stays bounded by the window's arrival
    * volume (the streaming requirement the batch dedup doesn't have). */
  def dedupStream(stream: DataFrame, idCol: String,
                  eventTimeCol: String, watermark: String = "10 minutes"): DataFrame =
    stream.withWatermark(eventTimeCol, watermark)
      .dropDuplicatesWithinWatermark(idCol)
}
