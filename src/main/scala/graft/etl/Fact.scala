package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fact assembly: SKEY resolution via multi-way broadcast left join
  * (SURVEY §2 row 29).
  *
  * Reference: staging LEFT JOIN DIMDATE, DIMTITLE, DIMSITE, DIMPLATFORM on
  * natural keys → project the four SKEYs → append to FACTVIDEOSTART
  * (`lambda_redshift/lambda_function_redishift.py:152-162`;
  * `populate_dimension_fact_tables.sql:85-91`).
  *
  * Scale: the fact side is the 100 TB side and must NOT shuffle for these
  * joins — every dim is broadcast, so SKEY resolution is a single narrow
  * map-side stage over the cleaned events. NULL natural keys (site) are
  * resolved to the designated "(none)" member first so the join is total
  * (SURVEY §7.4 item 6).
  */
object Fact {

  /** Designated member for NULL sites, so fact rows never carry an orphan
    * NULL SITE_SKEY (the reference's quiet hole: `lambda_function_s3.py:61`
    * yields NULL into a `NOT NULL` column, `lambda_function_redishift.py:81`). */
  val NoneMember = "(none)"

  /** Resolve the four SKEYs for cleaned rows. `cleaned` is the output of
    * [[Transform.clean]]; dims carry (SKEY, naturalKey). The `day` column
    * (yyyyMMdd prefix of the minute key) rides along as the fact's physical
    * partition key — time-range queries then prune whole partition dirs at
    * the scan (SURVEY §4 "partition pruning"). */
  def resolveSkeys(cleaned: DataFrame, dimDate: DataFrame, dimPlatform: DataFrame,
                   dimSite: DataFrame, dimTitle: DataFrame,
                   extras: Seq[String] = Nil): DataFrame =
    cleaned
      .withColumn("SITE", coalesce(col("SITE"), lit(NoneMember)))
      .join(broadcast(dimDate), Seq("DATETIME"), "left")
      .join(broadcast(dimPlatform), Seq("PLATFORM"), "left")
      .join(broadcast(dimSite), Seq("SITE"), "left")
      .join(broadcast(dimTitle), Seq("TITLE"), "left")
      .select(Seq(substring(col("DATETIME"), 1, 8).as("day"),
              col("DATETIME_SKEY"), col("PLATFORM_SKEY"), col("SITE_SKEY"),
              col("TITLE_SKEY")) ++ extras.map(col): _*)

  /** Scale path for factid assignment: `zipWithIndex` computes contiguous
    * ids with one lightweight count job and NO single-partition bottleneck
    * (per-partition offsets, all partitions written in parallel). Id VALUES
    * depend on partitioning and are non-contractual — exactly the contract
    * `identity(0,1)` gives (uniqueness + contiguity, nothing more). */
  def withFactIdsScalable(resolved: DataFrame, existingMax: Long = 0L): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val spark = resolved.sparkSession
    val schema = StructType(
      StructField("factid", LongType, nullable = false) +: resolved.schema.fields)
    val rdd = resolved.rdd.zipWithIndex().map { case (r, i) =>
      Row.fromSeq((existingMax + i + 1L) +: r.toSeq)
    }
    spark.createDataFrame(rdd, schema)
  }
}
