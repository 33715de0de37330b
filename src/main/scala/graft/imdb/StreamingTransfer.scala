package graft.imdb

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Continuous `transfer`: the reference's batch-only TSV ingest
  * (command.py:179-195) as a Structured Streaming pipeline — drop new
  * .tsv files into a folder and they land typed and deduplicated in
  * the sink, exactly-once via checkpointing.
  *
  * Dedup note: the batch reader's *first-occurrence-wins within the
  * file* (common.py:238-255) becomes *first-arrival-wins across the
  * stream* via `dropDuplicates` on the dataset key — state-store
  * backed, O(1) per key, the semantics a continuously-fed copy
  * actually wants.
  */
object StreamingTransfer {

  /** Raw header-named all-string schema (csv stream sources need an
    * explicit schema). */
  private def rawSchema(dataset: ImdbDataset): StructType =
    StructType(dataset.schema.fieldNames.map(StructField(_, StringType, nullable = true)))

  /** Typed, deduplicated stream of one dataset from a folder of TSVs. */
  def stream(spark: SparkSession, folder: String, dataset: ImdbDataset): DataFrame =
    spark.readStream
      .schema(rawSchema(dataset))
      .option("sep", "\t")
      .option("header", "true")
      .option("quote", "")
      .option("nullValue", "\\N")
      .csv(folder)
      .select(dataset.schema.fields.map(TsvReader.decode).toIndexedSeq: _*)
      .dropDuplicates(dataset.keyColumns.head, dataset.keyColumns.tail: _*)

  /** Run the ingest until current files are drained (AvailableNow),
    * appending parquet at `outPath` with checkpointed progress. */
  def runOnce(
      spark: SparkSession, folder: String, dataset: ImdbDataset,
      outPath: String, checkpoint: String): StreamingQuery =
    graft.streaming.EventStreams.drain(stream(spark, folder, dataset).writeStream
      .format("parquet")
      .option("path", outPath)
      .option("checkpointLocation", checkpoint)
      .outputMode("append"))
}
