package graft.insights

import graft.SparkTestBase

class InsightsSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val tidy = Seq(
    (2022, "NSW", "Mental health", 100.0),
    (2022, "VIC", "Injury", 50.0),
    (2023, "NSW", "Mental health", 200.0),
    (2023, "VIC", "Injury", 50.0)
  ).toDF("year", "state", "category", "separations")

  test("insights: top state, top category, YoY direction") {
    val lines = Insights.generate(tidy)
    assert(lines.length == 3)
    assert(lines(0).contains("NSW"), lines(0))     // 300 vs 100
    assert(lines(1).contains("Mental health"))     // 300 vs 100
    assert(lines(2).contains("increased") && lines(2).contains("66.7"),
      lines(2))                                    // 150 -> 250 = +66.7%
  }

  test("insights guards: empty frame -> no lines; single year -> no YoY") {
    assert(Insights.generate(tidy.limit(0)).isEmpty)
    val oneYear = tidy.filter($"year" === 2022)
    val lines = Insights.generate(oneYear)
    assert(lines.length == 2, lines.mkString("|"))
    assert(!lines.exists(_.contains("%")), "no YoY line for a single year")
  }

  // (year, state, category, separations): exact lines, so the ordering,
  // guards and rounding of each line are pinned
  private def frame(rows: (Option[Int], String, String, Double)*) =
    rows.toDF("year", "state", "category", "separations").repartition(3)

  test("insights: a tie for the top state and category goes to the lower key") {
    val lines = Insights.generate(frame(
      (Some(2022), "VIC", "B", 60.0), (Some(2023), "VIC", "A", 40.0),
      (Some(2022), "NSW", "A", 60.0), (Some(2023), "NSW", "B", 40.0)))
    assert(lines == Seq(
      "**NSW** recorded the highest separations (100).",
      "Top category: **A**.",
      "Separations decreased 33.3% between 2022 and 2023."))
  }

  test("insights: a frame without category has no category line") {
    val lines = Insights.generate(frame(
      (Some(2021), "NSW", "A", 10.0), (Some(2022), "QLD", "A", 30.0))
      .drop("category"))
    assert(lines == Seq(
      "**QLD** recorded the highest separations (30).",
      "Separations increased 200.0% between 2021 and 2022."))
  }

  test("insights: null-year rows count for states, not for the YoY line") {
    val f = frame(
      (Some(2022), "NSW", "A", 10.0), (Some(2024), "NSW", "A", 30.0),
      (None, "VIC", "B", 100.0))
    assert(Insights.generate(f) == Seq(
      "**VIC** recorded the highest separations (100).",
      "Top category: **B**.",
      "Separations increased 200.0% between 2022 and 2024."))
    // one non-null year beside the null one: no YoY line
    assert(Insights.generate(f.filter($"year".isNull || $"year" === 2022)) == Seq(
      "**VIC** recorded the highest separations (100).",
      "Top category: **B**."))
  }

  test("insights: YoY compares the first and last years, not their neighbours") {
    val lines = Insights.generate(frame(
      (Some(2023), "NSW", "A", 50.0), (Some(2021), "NSW", "A", 200.0),
      (Some(2022), "VIC", "B", 500.0)))
    assert(lines == Seq(
      "**VIC** recorded the highest separations (500).",
      "Top category: **B**.",
      "Separations decreased 75.0% between 2021 and 2023."))
  }
}
