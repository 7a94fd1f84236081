package graft.agg

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.Reshape

/** Dashboard query set (SURVEY §2.4 A2–A8, §2.5 R2, §2.7 T1–T5).
  *
  * Each chart in `/root/reference/streamlit_app.py:108-152` is a small
  * group-sum (plus top-k / pivot) over the shared filtered tidy frame.
  * Here each is a lazy plan; the caller decides what to collect. Results
  * are tiny (≤ cardinality of the grouped dims), so `collect()` on them is
  * driver-safe at any input scale.
  *
  * Sort discipline: every chart ends in an explicit total ordering (ties
  * broken by key). A chart's rows are a tiny aggregate, so it is sorted in
  * one partition ([[sorted]]), not by `orderBy`: a global sort plans a
  * range exchange whose sampling is a Spark job of its own.
  */
object Charts {

  private def sumMeasure(measure: String): Column =
    sum(col(measure)).as(measure)

  /** A tiny aggregate ordered by `keys` (ascending, nulls first) in one
    * partition: the same rows in the same order as `orderBy(keys)`.
    */
  private def sorted(df: DataFrame, keys: String*): DataFrame =
    df.coalesce(1).sortWithinPartitions(keys.map(col): _*)

  /** A2: totals by one dimension (bar chart, `streamlit_app.py:112`). */
  def totalsBy(df: DataFrame, key: String, measure: String): DataFrame =
    sorted(df.groupBy(col(key)).agg(sumMeasure(measure)), key)

  /** A3/A5: totals by two dimensions (trend lines `streamlit_app.py:120`,
    * heatmap input `streamlit_app.py:138`).
    */
  def totalsBy2(df: DataFrame, k1: String, k2: String, measure: String): DataFrame =
    sorted(df.groupBy(col(k1), col(k2)).agg(sumMeasure(measure)), k1, k2)

  /** T1/T2: top-k groups by summed measure (pie `streamlit_app.py:129`,
    * top-state insight `streamlit_app.py:82-84`). Catalyst plans
    * TakeOrderedAndProject: each partition keeps its local top-k, the
    * driver merges k·partitions rows — no global sort at any scale.
    * Ties broken by key for determinism.
    */
  def topKBy(df: DataFrame, key: String, measure: String, k: Int): DataFrame =
    df.groupBy(col(key)).agg(sumMeasure(measure))
      .orderBy(col(measure).desc, col(key))
      .limit(k)

  /** R2: heatmap matrix (`streamlit_app.py:139`) — one aggregate over the
    * explicit state list ([[Reshape.pivotSum]]).
    */
  def heatmap(df: DataFrame, index: String, pivotCol: String,
              pivotValues: Seq[String], measure: String): DataFrame =
    sorted(Reshape.pivotSum(df, Seq(index), pivotCol, pivotValues, measure), index)

  /** A7: sorted distinct non-null values of a column — the sidebar filter
    * domain (`streamlit_app.py:57,60,68`).
    */
  def distinctDomain(df: DataFrame, c: String): DataFrame =
    sorted(df.select(col(c)).na.drop().distinct(), c)

  /** A8: distinct-count gate (`streamlit_app.py:69,98`). Exact here;
    * `approx_count_distinct` is the 100 TB variant when ±2% is fine.
    */
  def distinctCount(df: DataFrame, c: String): Long =
    df.agg(countDistinct(col(c))).head().getLong(0)

  /** T5: head/preview (`streamlit_app.py:167`) — deterministic variant:
    * order by key then limit.
    */
  def preview(df: DataFrame, orderCols: Seq[String], n: Int): DataFrame =
    df.orderBy(orderCols.map(col): _*).limit(n)

  /** Choropleth prep — the README's map visual (`README.md:15`): the
    * per-state totals (A2) enriched with a state→(lat, lon, population)
    * lookup and a per-capita rate. The geo dim is a handful of rows, so
    * it joins as an explicit `broadcast` — no shuffle of the fact side;
    * at 100 TB the plan is one partial-agged group-by plus a map-side
    * hash join. The rate is `total * 1000.0 / population` — one
    * multiply then one divide, both exact-rounded IEEE ops, so the
    * value is bit-identical on any IEEE engine (hash-parity contract).
    */
  def choroplethPrep(df: DataFrame, stateCol: String, measure: String,
                     geo: DataFrame): DataFrame =
    totalsBy(df, stateCol, measure)
      .join(broadcast(geo), Seq(stateCol))
      .withColumn("rate_per_1000",
        col(measure) * 1000.0 / col("population"))
      .orderBy(col(stateCol))
}
