package graft.agg

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.SparkTestBase
import graft.insights.Insights

/** The exact rows and row order of the dashboard charts
  * (`streamlit_app.py:108-152`): a change of physical plan must not change
  * what a chart shows. Keys sort ascending with nulls first; top-k sorts by
  * the summed measure descending, ties broken by key.
  */
class ChartsSpec extends SparkTestBase {
  import spark.implicits._

  // (year, state, category, separations); spread over 3 partitions
  private lazy val tidy = Seq(
    (Some(2023), Some("VIC"), Some("Injury"), 7.0),
    (Some(2022), Some("NSW"), Some("Mental health"), 10.0),
    (Some(2023), Some("NSW"), Some("Injury"), 20.0),
    (Some(2022), None, Some("Injury"), 1.0),
    (Some(2022), Some("QLD"), None, 7.0),
    (Some(2023), Some("VIC"), Some("Mental health"), 15.0),
    (None, Some("QLD"), Some("Mental health"), 3.0),
    (Some(2023), Some("ACT"), Some("Respiratory"), 2.0)
  ).toDF("year", "state", "category", "separations").repartition(3)

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Row] =
    df.collect().toSeq

  test("totalsBy: one row per key, keys ascending with null first") {
    assert(rows(Charts.totalsBy(tidy, "state", "separations")) == Seq(
      Row(null, 1.0), Row("ACT", 2.0), Row("NSW", 30.0), Row("QLD", 10.0),
      Row("VIC", 22.0)))
  }

  test("totalsBy2: ordered by the first key, then the second") {
    assert(rows(Charts.totalsBy2(tidy, "year", "state", "separations")) == Seq(
      Row(null, "QLD", 3.0),
      Row(2022, null, 1.0), Row(2022, "NSW", 10.0), Row(2022, "QLD", 7.0),
      Row(2023, "ACT", 2.0), Row(2023, "NSW", 20.0), Row(2023, "VIC", 22.0)))
  }

  test("topKBy: sum descending, a tie broken by key") {
    // Injury and Mental health both sum to 28
    assert(rows(Charts.topKBy(tidy, "category", "separations", 10)) == Seq(
      Row("Injury", 28.0), Row("Mental health", 28.0), Row(null, 7.0),
      Row("Respiratory", 2.0)))
    assert(rows(Charts.topKBy(tidy, "category", "separations", 1)) ==
      Seq(Row("Injury", 28.0)))
  }

  test("heatmap: one column per pivot value, an empty cell stays null") {
    val h = Charts.heatmap(tidy, "category", "state",
      Seq("NSW", "QLD", "VIC", "TAS"), "separations")
    assert(h.columns.toSeq == Seq("category", "NSW", "QLD", "VIC", "TAS"))
    assert(h.schema.fields.tail.forall(_.dataType == DoubleType))
    assert(rows(h) == Seq(
      Row(null, null, 7.0, null, null),
      Row("Injury", 20.0, null, 7.0, null),
      Row("Mental health", 10.0, 3.0, 15.0, null),
      // only ACT, which is not a pivot value: a row of empty cells
      Row("Respiratory", null, null, null, null)))
  }

  test("distinctDomain: sorted distinct values, nulls dropped") {
    assert(rows(Charts.distinctDomain(tidy, "state")) ==
      Seq(Row("ACT"), Row("NSW"), Row("QLD"), Row("VIC")))
    assert(rows(Charts.distinctDomain(tidy, "year")) == Seq(Row(2022), Row(2023)))
  }

  /** Spark jobs that `body` starts on this thread's job group. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"jobs-${System.nanoTime}"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    ListenerBusAccess.drain(sc)
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try { body; ListenerBusAccess.drain(sc) }
    finally { sc.clearJobGroup(); sc.removeSparkListener(listener) }
    jobs.get
  }

  test("a rerun's insights and re-sorted charts start at most 2 jobs each") {
    // 4 scan partitions, no shuffle below the charts' own aggregate
    val df = spark.range(0, 4000, 1, 4).select(
      (lit(2018) + col("id") % 5).cast("int").as("year"),
      concat(lit("S"), (col("id") % 7).cast("string")).as("state"),
      concat(lit("C"), (col("id") % 11).cast("string")).as("category"),
      (col("id") % 13).cast("double").as("separations"))
    val m = "separations"
    val counts = Seq(
      "insights" -> jobsOf(Insights.generate(df)),
      "totalsBy" -> jobsOf(Charts.totalsBy(df, "state", m).collect()),
      "totalsBy2" -> jobsOf(Charts.totalsBy2(df, "year", "state", m).collect()),
      "heatmap" -> jobsOf(Charts.heatmap(df, "category", "state",
        (0 until 7).map(i => s"S$i"), m).collect()),
      "distinctDomain" -> jobsOf(Charts.distinctDomain(df, "state").collect()))
    assert(counts.forall(_._2 >= 1), counts)
    assert(counts.forall(_._2 <= 2), counts)
  }
}
