package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

/** Structured-Streaming analog of the reference's bounded pipeline
  * (SURVEY §2.10): the reference's producer/consumer chunking
  * (`tasks/full_dump.rs:47-110`) maps to micro-batches; backpressure
  * (its depth-1 channel) maps to one in-flight batch per trigger.
  * `corpus stream` builds its query from these operators.
  */
object StreamingPipeline {

  /** Streaming exact dedup — J3 as a continuous operator: duplicates
    * arriving within the watermark horizon of the first copy are
    * dropped; state is bounded by the horizon (eviction at watermark),
    * so it runs forever on unbounded input. The batch J3
    * (`Subset.dedupByKey`) remains the semantics oracle over any
    * bounded slice.
    */
  def dedupStream(
      df: DataFrame,
      keyCols: Seq[String],
      tsCol: String = "ts",
      watermark: String = "2 hours"): DataFrame =
    df.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Streaming corpus admission — the continuous form of
    * `Dedup.incrementalExactDedup`: docs arriving on the stream are
    * dropped when their normalized fingerprint already exists in the
    * static, already-ingested corpus, and in-stream duplicates within
    * the watermark horizon collapse to the first arrival. The corpus
    * side is a bounded stream-static LEFT-ANTI join against the skinny
    * fingerprint projection (at 100 TB: a persisted artifact of prior
    * ingests, re-read per micro-batch only as parquet metadata allows —
    * never the corpus text); in-stream state is watermark-bounded.
    */
  def admitStream(
      docs: DataFrame,
      corpus: DataFrame,
      text: org.apache.spark.sql.Column,
      tsCol: String = "ts",
      watermark: String = "2 hours"): DataFrame = {
    val corpusFps = corpus
      .select(graft.ops.TextAnalysis.fingerprint(text).as("fp")).distinct()
    docs
      .withColumn("fp", graft.ops.TextAnalysis.fingerprint(text))
      .join(corpusFps, Seq("fp"), "left_anti")
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(Seq("fp"))
      .drop("fp")
  }

  /** Write a transformed stream to parquet under the given trigger —
    * `Trigger.AvailableNow()` processes everything present then stops;
    * a `ProcessingTime` trigger keeps the same checkpointed query alive
    * as a continuous watcher.
    */
  def sink(df: DataFrame, outDir: String, checkpointDir: String,
           trigger: Trigger): DataStreamWriter[org.apache.spark.sql.Row] =
    df.writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
}
