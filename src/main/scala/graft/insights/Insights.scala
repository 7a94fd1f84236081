package graft.insights

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** §2.12: `generate_insights` (`/root/reference/streamlit_app.py:78-104`) —
  * a text summary from one aggregate. A single `groupingSets` query sums
  * the measure per state, per category (when the column exists) and per
  * year: one scan, one shuffle, a result of a few dozen rows that the
  * driver turns into lines. Mirrors the reference's guards: empty frame →
  * empty summary, YoY line only when more than one year is present.
  *
  * The top state and top category follow `Charts.topKBy`'s order (sum
  * descending, then key ascending with nulls first); the YoY line compares
  * the totals of the first and last non-null years.
  */
object Insights {

  def generate(df: DataFrame, stateCol: String = "state",
               categoryCol: String = "category", yearCol: String = "year",
               measure: String = "separations"): Seq[String] = {
    val hasCategory = df.columns.contains(categoryCol)
    val keys = Seq(stateCol) ++ Option.when(hasCategory)(categoryCol) :+ yearCol
    val n = keys.length
    // row: the n keys, Σ measure (index n), grouping_id (index n + 1)
    val rows = df.groupingSets(keys.map(k => Seq(col(k))), keys.map(col): _*)
      .agg(sum(col(measure)), grouping_id())
      .collect().toSeq
    // grouping_id sets the bit of every key a row is not grouped by, the
    // first key's bit highest
    def totals(k: Int): Seq[Row] = {
      val gid = (1L << n) - 1 - (1L << (n - 1 - k))
      rows.filter(_.getLong(n + 1) == gid)
    }
    // Charts.topKBy's order: Σ descending (nulls last), then key ascending
    def top(k: Int): Option[Row] = totals(k).sortWith { (a, b) =>
      val bySum = compareSql(b.get(n), a.get(n))
      (if (bySum != 0) bySum else compareSql(a.get(k), b.get(k))) < 0
    }.headOption

    val lines = Seq.newBuilder[String]
    top(0).foreach { r =>
      lines += f"**${r.getString(0)}** recorded the highest separations (${r.getDouble(n)}%,.0f)."
    }
    if (hasCategory) top(1).foreach { r =>
      lines += s"Top category: **${r.getString(1)}**."
    }
    val y = n - 1
    val years = totals(y).filterNot(_.isNullAt(y)).sortWith((a, b) => compareSql(a.get(y), b.get(y)) < 0)
    if (years.length > 1) {
      val (first, last) = (years.head, years.last)
      val pct = (last.getDouble(n) - first.getDouble(n)) / first.getDouble(n) * 100
      val dir = if (pct >= 0) "increased" else "decreased"
      lines += f"Separations $dir ${math.abs(pct)}%.1f%% between ${first.get(y)} and ${last.get(y)}."
    }
    lines.result()
  }

  /** Spark's ascending order with nulls first: strings by their UTF-8
    * bytes, doubles with -0.0 equal to 0.0 and NaN above every number.
    */
  private def compareSql(a: Any, b: Any): Int = (a, b) match {
    case (null, null) => 0
    case (null, _) => -1
    case (_, null) => 1
    case (x: String, y: String) =>
      UTF8String.fromString(x).binaryCompare(UTF8String.fromString(y))
    case (x: Double, y: Double) => if (x == y) 0 else java.lang.Double.compare(x, y)
    case (x: Comparable[_], y) => x.asInstanceOf[Comparable[Any]].compareTo(y)
  }
}
