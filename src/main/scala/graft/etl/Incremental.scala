package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Incremental/streaming wrapper (SURVEY §2 rows 33-37).
  *
  * The reference's orchestration is: S3 event → transform Lambda → second
  * Lambda loads to Redshift (`lambda_s3/lambda_function_s3.py:15-28`), or
  * Snowpipe auto-ingest → STREAM → scheduled TASK chain
  * (`ETL-load to snowflake/snow pipe.sql:35-79,96-97`). All of that is a
  * file-arrival-driven incremental pipeline with idempotent at-least-once
  * semantics (no watermarks anywhere — dedup is by anti-join/MERGE on natural
  * keys, SURVEY §2 row 37).
  *
  * Spark restatement: a Structured Streaming file source discovers new files
  * (the S3-event / Snowpipe role), `foreachBatch` runs the same batch core
  * transform→merge (the task-chaining role, row 36), and the checkpoint
  * replaces the Snowflake STREAM offset (row 34). The reference's 60-minute
  * task cadence (`snow pipe.sql:78`) maps to `Trigger.ProcessingTime`;
  * `Trigger.AvailableNow` gives the batch-like drain used in tests.
  */
object Incremental {

  /** Stream raw CSVs from `stageDir` into the star at `storeRoot`.
    *
    * @param cadence None → `Trigger.AvailableNow` (drain and stop);
    *                Some(interval) → `Trigger.ProcessingTime` (the
    *                reference's `schedule='60 minute'`, `snow pipe.sql:78`;
    *                `system$stream_has_data` gating is implicit — empty
    *                micro-batches are near-free).
    * @param extras  raw columns to carry into the fact beyond the
    *                reference's derived set — [[StarStore.runBatch]]'s
    *                add-only/widen-only schema evolution, reaching the
    *                CONTINUOUS pipeline: an evolved feed names its new
    *                columns here and supplies the matching `rawSchema`;
    *                earlier publishes stay readable (reads null-fill).
    * @param rawSchema the stage-file schema ([[RawSchemas.raw]] unless the
    *                feed evolved — a file source cannot infer mid-stream).
    */
  def run(spark: SparkSession, stageDir: String, storeRoot: String,
          checkpointDir: String, cadence: Option[String] = None,
          extras: Seq[String] = Nil,
          rawSchema: org.apache.spark.sql.types.StructType = RawSchemas.raw)
      : StreamingQuery = {
    val raw = spark.readStream
      .schema(rawSchema)
      .options(Sources.CsvReadOptions)
      .csv(stageDir)

    val store = StarStore(spark, storeRoot)
    val trigger = cadence.map(Trigger.ProcessingTime(_)).getOrElse(Trigger.AvailableNow())

    // Replay protection must be per-STREAM: micro-batch ids start at 0 in
    // every checkpoint, so two streams feeding one store (an evolved feed
    // restarted on a fresh checkpoint, a backfill beside the live ingest)
    // would read each other's early batches as replays — silently dropped.
    // The standard idempotent-sink convention is a (txnAppId, txnVersion)
    // pair; here the app id derives from the checkpoint location, which IS
    // the stream's identity: stable across restarts of the same stream, and
    // a new checkpoint is a new stream whose batches must all apply. (A
    // store published by the pre-appId format sees one boundary batch as
    // non-replay after an in-flight upgrade — drain the stream before
    // upgrading.)
    val appId = f"${scala.util.hashing.MurmurHash3.stringHash(
      new org.apache.hadoop.fs.Path(checkpointDir).toUri.getPath)}%08x"

    raw.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // Transform → merge chained inside one micro-batch (SURVEY §2 row 36);
        // anti-join upserts make replays idempotent (row 37).
        store.runBatch(batch, s"$appId-$batchId", extras): Unit
      }
      .start()
  }
}
