package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Readers/writers with the reference's CSV semantics.
  *
  * The reference reads raw CSV with `quotechar='"'`, `escapechar='\\'`
  * (`lambda_s3/lambda_function_s3.py:65`) and writes its five outputs with
  * header + `escapechar='\\'` (`lambda_function_s3.py:114-118`). The raw
  * sample (`lambda_s3/raw_data _sample.pdf`, decoded) has spaces after commas
  * before quoted fields, so `ignoreLeadingWhiteSpace` must be on for the
  * quoted `events` list to parse as one field.
  *
  * All readers take explicit schemas: inference is a full extra pass over the
  * data and is non-deterministic across file sets — unacceptable at scale.
  */
object Sources {

  /** The reference's CSV read semantics, shared by the batch scan
    * ([[csv]]) and the streaming stage reader ([[Incremental.run]]). */
  private[etl] val CsvReadOptions: Map[String, String] = Map(
    "header" -> "true",
    "quote" -> "\"",
    "escape" -> "\\",
    "ignoreLeadingWhiteSpace" -> "true",
    "mode" -> "PERMISSIVE")

  /** CSV scan with the reference's quote/escape semantics
    * (SURVEY §2 row 1). */
  def csv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).options(CsvReadOptions).csv(path)

  /** Raw video-events CSV (`lambda_function_s3.py:65`). */
  def rawCsv(spark: SparkSession, path: String): DataFrame =
    csv(spark, path, RawSchemas.raw)

  /** Parquet scan — the reference offered the same raw data as gzip parquet
    * (SURVEY §2 row 2; `source data/video_data.gz.parquet`). */
  def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** JSONL (JSON-lines) scan — the format LLM training corpora actually
    * ship in (one JSON document per line, nested metadata), read with an
    * EXPLICIT schema (inference is an extra full pass and non-deterministic
    * across file sets) and a corrupt-record QUARANTINE column: a malformed
    * line surfaces as one row with every data column null and `corruptCol`
    * holding the raw line — it must flow through the pipeline as data (to
    * be counted, sampled, reported), never fail the job. One-line-per-doc
    * framing means the scan is splittable (no multiLine), so a 100 TB
    * corpus parallelizes by file block like CSV/parquet.
    *
    * Built as text-scan + `from_json` rather than the native `.json()`
    * reader: the native reader REFUSES any query whose required columns
    * are only the corrupt column (UNSUPPORTED_FEATURE.QUERY_ONLY_
    * CORRUPT_RECORD_COLUMN) — and "list the quarantined lines" is exactly
    * such a query, the first one a curation pipeline runs. Nothing is
    * lost at scale: a quarantine-aware scan must fully parse every line
    * to DETECT corruption, so the native reader's parse-pruning advantage
    * is void here, and Catalyst still prunes `from_json`'s target schema
    * for queries that touch few fields (OptimizeJsonExprs). */
  def jsonl(spark: SparkSession, path: String, schema: StructType,
            corruptCol: String = "_corrupt_record"): DataFrame = {
    require(!schema.fieldNames.contains(corruptCol),
      s"pass the data schema only; $corruptCol is appended here")
    import org.apache.spark.sql.functions.{col, from_json}
    val full = schema.add(corruptCol, org.apache.spark.sql.types.StringType)
    spark.read.text(path)
      .select(from_json(col("value"), full, java.util.Map.of(
        "mode", "PERMISSIVE", "columnNameOfCorruptRecord", corruptCol)).as("j"))
      .select(col("j.*"))
  }

  /** JSONL sink — one JSON object per line, the hand-off format a
    * downstream trainer consumes. */
  def writeJsonl(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** Continuous-ingest twin of [[jsonl]] (the Warc.readStream pattern):
    * JSONL files landing under `path` stream through the SAME
    * explicit-schema + quarantine parse — corpus drops land as files, the
    * file-stream source discovers them per micro-batch with exactly-once
    * checkpointed tracking, and parse semantics are byte-identical to the
    * batch scan (JsonlSpec pins streamed == batch, quarantine included).
    * Combine with `Trigger.AvailableNow` for catch-up runs or a
    * processing-time trigger for a live tail. */
  def jsonlStream(spark: SparkSession, path: String, schema: StructType,
                  corruptCol: String = "_corrupt_record",
                  maxFilesPerTrigger: Int = 16): DataFrame = {
    require(!schema.fieldNames.contains(corruptCol),
      s"pass the data schema only; $corruptCol is appended here")
    import org.apache.spark.sql.functions.{col, from_json}
    val full = schema.add(corruptCol, org.apache.spark.sql.types.StringType)
    spark.readStream.format("text")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .load(path)
      .select(from_json(col("value"), full, java.util.Map.of(
        "mode", "PERMISSIVE", "columnNameOfCorruptRecord", corruptCol)).as("j"))
      .select(col("j.*"))
  }

  /** Driver-testdata table loader: `<sfDir>/<name>.parquet`. */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** CSV sink matching `lambda_function_s3.py:114-118` (header on,
    * backslash escape). SURVEY §2 row 3. */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write
      .option("header", "true")
      .option("quote", "\"")
      .option("escape", "\\")
      .mode("overwrite")
      .csv(path)

  /** Parquet sink, optionally partitioned (fact tables partition by a date
    * column so partition pruning works at scale). */
  def writeParquet(df: DataFrame, path: String, partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }

  /** Bucketed + sorted managed table: two tables bucketed the same way on
    * their join key equi-join WITHOUT any shuffle exchange (and without a
    * sort, thanks to sortBy) — the pre-partitioned co-located join that
    * makes repeated big-to-big joins affordable at scale. Requires
    * `saveAsTable` (bucket metadata lives in the catalog). BucketingSpec
    * asserts the exchange-free plan. */
  def writeBucketed(df: DataFrame, table: String, keyCol: String,
                    numBuckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(numBuckets, keyCol)
      .sortBy(keyCol)
      .format("parquet")
      .saveAsTable(table)
}
