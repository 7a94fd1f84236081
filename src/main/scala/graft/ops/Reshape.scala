package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Reshaping + set ops (SURVEY §2.5 R1/R2, §2.6 U1).
  *
  * R1 melt: `/root/reference/main.py:126-128` — pandas
  * `melt(...).dropna(subset=["separations"])`. Spark's `unpivot` keeps
  * null measure values, so the composed semantics need an explicit
  * not-null filter on the value column (codegen'd, fused into the same
  * stage — no extra pass over the data).
  *
  * R2 pivot: `/root/reference/streamlit_app.py:139`. The pivot values are
  * always an explicit list, so no distinct-collect pre-job scans the input.
  * Each value's column is a conditional sum in one hash aggregate: Spark's
  * own `pivot` plans two aggregates (by index and pivot value, then by
  * index) and so two shuffles.
  *
  * U1 union: `/root/reference/main.py:149` — `pd.concat` aligns by column
  * name and null-fills gaps; `unionByName(allowMissingColumns = true)` is
  * the exact Spark equivalent. Union is a zero-shuffle operator (plan
  * concatenation), so heterogeneous inputs cost nothing extra.
  */
object Reshape {

  /** R1: wide→long. `ids` stay, each column of `values` becomes a row
    * `(varName, valueName)`; null measures are dropped (pandas
    * melt+dropna semantics).
    */
  def melt(df: DataFrame, ids: Seq[String], values: Seq[String],
           varName: String, valueName: String): DataFrame =
    df.unpivot(ids.map(col).toArray, values.map(col).toArray, varName, valueName)
      .filter(col(valueName).isNotNull)

  /** R2: long→wide with an explicit pivot-value list and a single SUM
    * measure, the reference's only pivot shape. Column `v` sums `valueCol`
    * over the rows whose `pivotCol` is `v`; a cell without rows is null,
    * as with `pivot(pivotCol, pivotValues).sum(valueCol)`.
    */
  def pivotSum(df: DataFrame, index: Seq[String], pivotCol: String,
               pivotValues: Seq[String], valueCol: String): DataFrame = {
    require(pivotValues.nonEmpty, "pivotSum needs at least one pivot value")
    val cells = pivotValues.map(v =>
      sum(when(col(pivotCol) === lit(v), col(valueCol))).as(v))
    df.groupBy(index.map(col): _*).agg(cells.head, cells.tail: _*)
  }

  /** U1: schema-aligning union-all by name across frames with
    * heterogeneous column sets; missing columns null-fill.
    */
  def unionAligned(frames: Seq[DataFrame]): DataFrame = {
    require(frames.nonEmpty, "no frames parsed") // main.py:147-148 guard
    frames.reduce(_.unionByName(_, allowMissingColumns = true))
  }
}
