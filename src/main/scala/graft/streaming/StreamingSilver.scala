package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, Trigger}
import org.apache.spark.sql.Row

import graft.fred.Schemas
import graft.fred.ops.{Clean, MonthlyAgg}

/** Streaming form of the bronze→silver transform (SURVEY §2.J).
  *
  * The reference's incremental semantics are an Airflow `@monthly`
  * schedule with `catchup=True` (`dags/fred_historical_backfill.py:58-59`)
  * — a sequence of idempotent micro-batches, each re-aggregating one
  * month and overwriting/upserting downstream. Structured Streaming
  * expresses exactly that: a file source over the bronze root discovers
  * new month-partitions as they land, a streaming aggregation maintains
  * the monthly grain, and `foreachBatch` applies the keyed upsert the
  * reference does with `INSERT … ON CONFLICT` (`load_fred_data.py:49-59`).
  *
  * Scale notes: the aggregation state is one row per
  * (indicator, year, month) — bounded and tiny relative to input, so
  * state never becomes the bottleneck; `Trigger.AvailableNow` gives the
  * batch-catchup behavior (process everything present, then stop) with
  * checkpointed exactly-once progress.
  */
object StreamingSilver {

  /** Streaming read of the bronze lake root (JSON-lines, Hive
    * partitioned). Explicit schema — streaming sources cannot infer,
    * which the reference's per-file re-inference made a bug farm anyway
    * (SURVEY §7.4.4). */
  def readBronzeStream(spark: SparkSession, root: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val dataFields = org.apache.spark.sql.types.StructType(
      Schemas.bronze.fields.filterNot(f =>
        graft.fred.io.LakeIO.PartitionCols.contains(f.name)))
    val r = spark.readStream.schema(dataFields)
    maxFilesPerTrigger.fold(r)(n => r.option("maxFilesPerTrigger", n)).json(root)
  }

  /** Clean + cast + monthly aggregate on a streaming bronze frame.
    * Identical operator chain to the batch silver path — the same
    * `Clean`/`MonthlyAgg` functions compose unchanged over a streaming
    * DataFrame, which is the point of declaring operators as pure
    * DataFrame => DataFrame transforms. */
  def monthlySilver(bronze: DataFrame): DataFrame = {
    val cleaned = Clean.cleanValues(bronze)
      .withColumn("observation_year", col("observation_year").cast("int"))
      .withColumn("observation_month", col("observation_month").cast("int"))
    MonthlyAgg.aggregate(cleaned)
  }

  /** Incremental silver writer: every micro-batch upserts its updated
    * monthly rows into the silver parquet lake by partition replacement
    * ([[graft.fred.io.LakeIO.writeParquet]]) — the streaming twin of the reference's per-month
    * `replace=True` write (`transform_fred_data.py:150-175`).
    *
    * Update output mode ⇒ each batch carries only groups that changed;
    * the write replaces exactly those (indicator, year, month)
    * partitions. Idempotent under replay, checkpoint-resumable.
    */
  def writeSilverIncremental(silver: DataFrame, root: String,
      checkpoint: String): DataStreamWriter[Row] =
    silver.writeStream
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          // stamp processed_at like the batch path (MonthlyAgg.toSilver)
          // so stream- and batch-written silver share Schemas.silver and
          // readSilverTyped works on either
          graft.fred.io.LakeIO.writeParquet(
            batch
              .withColumn("processed_at",
                date_format(current_timestamp(), Schemas.IsoMicrosUtc))
              .select(Schemas.silver.fieldNames.map(col).toSeq: _*),
            root)
        }
      }
}
