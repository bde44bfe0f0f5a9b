package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dimension maintenance: distinct extraction, anti-join upsert, surrogate
  * keys (SURVEY §2 rows 25, 28, 31).
  *
  * The reference's dim upsert is `INSERT INTO dim SELECT … FROM delta t LEFT
  * JOIN dim d ON t.k = d.k WHERE d.k IS NULL` ×4 dims
  * (`lambda_redshift/lambda_function_redishift.py:130-150`,
  * `ETL-load to snowflake/populate_dimension_fact_tables.sql:60-82`), with
  * engine-assigned `identity(0,1)` / `autoincrement` surrogate keys.
  *
  * SKEY policy (SURVEY §7.4): identity *values* are non-contractual; what
  * must hold is uniqueness, stability across batches, and FK integrity. We
  * assign `existingMax + row_number() over (order by naturalKey)` —
  * deterministic and oracle-reproducible. The unpartitioned Window is safe
  * ONLY because it runs over new *distinct dimension members* (cardinality ~
  * |distinct platforms|, |distinct sites|…), never over fact rows; at 100 TB
  * the dims stay tiny while the fact does not.
  */
object Dims {

  /** Distinct dimension extraction — `Series.unique()` / `GROUP BY` with no
    * aggregates (`lambda_function_s3.py:80,92,96,100`;
    * `populate_dimension_fact_tables.sql:46-57`). Null members are excluded:
    * the reference quietly lets NULL sites flow into dim_site and then
    * NULL≠NULL-misses them in the fact join (SURVEY §7.4 item 6); we keep
    * them out of the dim and resolve them to a designated member instead. */
  def distinctDim(df: DataFrame, naturalKey: String): DataFrame =
    df.select(col(naturalKey)).where(col(naturalKey).isNotNull).distinct()

  /** New-members-only anti-join (SURVEY §2 rows 14+28): delta rows whose
    * natural key is absent from the existing dim. `left_anti` is the
    * fused form of `LEFT JOIN … WHERE d.k IS NULL`; the existing dim side
    * is broadcast (dims are small by construction). */
  def newMembers(delta: DataFrame, existing: DataFrame, naturalKey: String): DataFrame =
    delta.join(broadcast(existing.select(naturalKey)), Seq(naturalKey), "left_anti")

  /** Assign surrogate keys to new members: `offset + row_number() over
    * (order by naturalKey)` (SURVEY §2 row 31). Deterministic; rejected
    * `monotonically_increasing_id` (non-contiguous, partition-dependent).
    *
    * The unpartitioned Window moves ALL new members through one partition —
    * fine for classic dims (platform, site, minute: bounded, small), NOT for
    * user-like high-cardinality dims, whose distinct-member count grows with
    * the corpus. No dim here takes that path: a dim that did would need the
    * `zipWithIndex` form of [[graft.etl.Fact.withFactIdsScalable]] — the
    * same determinism contract when sorted first, no single-partition
    * bottleneck. */
  def withSkeys(newDim: DataFrame, naturalKey: String, skeyCol: String,
                offset: Long = 0L): DataFrame =
    newDim.select(
      (row_number().over(Window.orderBy(col(naturalKey))) + lit(offset)).cast("long").as(skeyCol),
      col(naturalKey)
    )

  /** Full idempotent upsert: existing dim + newly-keyed absent members.
    * Running the same delta twice is a no-op (the anti-join contract,
    * SURVEY §2 row 28 / §5 item 3). */
  def upsert(existing: DataFrame, delta: DataFrame, naturalKey: String,
             skeyCol: String): DataFrame = {
    val fresh = newMembers(distinctDim(delta, naturalKey), existing, naturalKey)
    val maxSkey = existing.agg(coalesce(max(col(skeyCol)), lit(0L))).head.getLong(0)
    existing.unionByName(withSkeys(fresh, naturalKey, skeyCol, maxSkey))
  }

  /** Build a dim from scratch (first batch): distinct members + SKEYs. */
  def build(delta: DataFrame, naturalKey: String, skeyCol: String): DataFrame =
    withSkeys(distinctDim(delta, naturalKey), naturalKey, skeyCol)

  /** EARLY-ARRIVING FACTS — a fact batch referencing natural keys the dim
    * has never seen must not drop rows or stall the load (the Kimball
    * "late-arriving dimension" pattern): unknown members are inserted as
    * INFERRED rows — real surrogate key, null attributes,
    * `is_inferred = true` — so FK integrity holds immediately and the
    * facts resolve like any other batch. When the dimension source
    * eventually delivers the member, [[enrich]] fills the attributes IN
    * PLACE (the SKEY never changes, so no fact rewrite — the whole point
    * of the pattern). `existing` must carry an `is_inferred` boolean and
    * the natural-key/SKEY columns; any other column is nulled on the
    * inferred rows at its existing type. */
  def upsertInferred(existing: DataFrame, factDelta: DataFrame,
                     naturalKey: String, skeyCol: String): DataFrame = {
    require(existing.columns.contains("is_inferred"),
      "upsertInferred needs an is_inferred boolean on the dim")
    val fresh = newMembers(distinctDim(factDelta, naturalKey), existing, naturalKey)
    val maxSkey = existing.agg(coalesce(max(col(skeyCol)), lit(0L))).head.getLong(0)
    val keyed = withSkeys(fresh, naturalKey, skeyCol, maxSkey)
    val widened = existing.columns.foldLeft(keyed) { (acc, c) =>
      if (acc.columns.contains(c)) acc
      else if (c == "is_inferred") acc.withColumn(c, lit(true))
      else acc.withColumn(c, lit(null).cast(existing.schema(c).dataType))
    }
    existing.unionByName(widened.select(existing.columns.map(col): _*))
  }

  /** LATE-ARRIVING DIMENSION delivery: adopt `attrCols` from `dimDelta`
    * onto the INFERRED rows whose natural key it covers, flipping
    * `is_inferred` to false — an update-only merge (a delta member absent
    * from the dim is ignored; route genuinely new members through
    * [[upsert]]/[[upsertInferred]]). Rows already enriched keep their
    * attributes (first delivery wins — re-delivery must be idempotent).
    * SKEYs are untouched. The delta is broadcast (dim deltas are
    * dim-sized). */
  def enrich(existing: DataFrame, dimDelta: DataFrame, naturalKey: String,
             attrCols: Seq[String]): DataFrame = {
    require(attrCols.nonEmpty, "enrich: no attribute columns")
    val delta = dimDelta.select((naturalKey +: attrCols).map(col): _*)
    // a delta carrying the same member twice would MULTIPLY dim rows
    // through the join and pick an arbitrary delivery — refuse loudly
    // (dedupe upstream with an explicit rule instead); the check is one
    // cheap job over a dim-sized frame. count(col) vs count(*): null
    // natural keys are harmless to the join (null matches nothing) and
    // must not read as phantom duplicates
    val (nKeyed, nKeys) = {
      val r = delta.agg(count(col(naturalKey)), count_distinct(col(naturalKey))).head
      (r.getLong(0), r.getLong(1))
    }
    require(nKeyed == nKeys,
      s"enrich: delta has duplicate '$naturalKey' members ($nKeyed keyed " +
        s"rows, $nKeys keys) — deduplicate the delivery first")
    val renamed = attrCols.foldLeft(delta) {
      (a, c) => a.withColumnRenamed(c, s"__new_$c")
    }.withColumn("__matched", lit(true))
    val joined = existing.join(broadcast(renamed), Seq(naturalKey), "left")
    val adopt = col("is_inferred") && col("__matched")
    attrCols.foldLeft(joined) { (a, c) =>
        a.withColumn(c, when(adopt, col(s"__new_$c")).otherwise(col(c)))
      }
      .withColumn("is_inferred",
        when(adopt, lit(false)).otherwise(col("is_inferred")))
      .drop("__matched")
      .drop(attrCols.map(c => s"__new_$c"): _*)
      .select(existing.columns.map(col): _*)
  }
}
