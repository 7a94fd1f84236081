package graft.ingest

import graft.SparkTestBase
import graft.Pipeline
import org.apache.spark.sql.functions._

/** Golden end-to-end fixtures (FIXTURES.md §A): AIHW-shaped raw grids
  * pushed through compileAll/runEtl, asserting tidy and clean
  * outputs row-for-row against hand-traced reference semantics.
  */
class SheetParserSpec extends SparkTestBase {

  private val N = null: String

  // A1-shaped grid: junk rows, unnamed first two headers, a total column,
  // a duplicate header, messy cells.
  private val grid: Seq[Seq[String]] = Seq(
    Seq("Admitted patient care", N, N, N, N, N),
    Seq("Some footnote", N, N, N, N, N),
    Seq(N, N, "NSW", "Vic", "Total", "NSW"),        // header (dup NSW)
    Seq("Mental health", "(\"F00-F99\", 1.0)", "1,234", "5", "9", "777"),
    Seq(N, "G00", "2", "n.p.", "9", "8"),            // null category row → dropped
    Seq("Injury", N, "3.5", "4", "9", "6")           // null diag cell → "nan"
  )

  test("T6 headerRow finds first row with ≥2 state codes") {
    assert(SheetParser.headerRow(grid).contains(2))
    assert(SheetParser.headerRow(Seq(Seq("a", "b"), Seq("c", "d"))).isEmpty)
  }

  test("resolveHeader: P1 dedup, P2 normalize, P3 positional, P4 total-drop") {
    val h = SheetParser.resolveHeader(grid(2))
    assert(h.colNames == Seq("category", "principal_diagnosis", "NSW", "VIC"))
    assert(h.idCols == Seq("category", "principal_diagnosis"))
    assert(h.stateCols == Seq("NSW", "VIC"))
    assert(h.keep == Seq(0, 1, 2, 3)) // total (4) and dup NSW (5) dropped
  }

  test("compileAll golden: tidy rows match hand-traced reference semantics") {
    val tidy = SheetParser.compileAll(spark, Seq((grid, 2023)))
    assert(tidy.columns.toSeq ==
      Seq("category", "principal_diagnosis", "state", "separations", "year"))
    val got = tidy.orderBy("category", "state").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
                 r.getDouble(3), r.getInt(4))).toSeq
    // "1,234" is not numeric for to_numeric → null → dropped by melt;
    // row with null category dropped (P5); null diag cell → "nan" (astype);
    // "(\"F00-F99\", 1.0)" cleaned to F00-F99.
    assert(got == Seq(
      ("Injury", "nan", "NSW", 3.5, 2023),
      ("Injury", "nan", "VIC", 4.0, 2023),
      ("Mental health", "F00-F99", "VIC", 5.0, 2023)))
  }

  test("header guards: <2 states or no id cols → None") {
    assert(SheetParser.header(grid).map(_._1).contains(2))
    val oneState = Seq(Seq("cat", "NSW"), Seq("x", "1"))
    assert(SheetParser.header(oneState).isEmpty)
    val noIds = Seq(Seq("NSW", "VIC"), Seq("1", "2"))
    assert(SheetParser.header(noIds).isEmpty)
    val noHeader = Seq.fill(45)(Seq("a", "b"))
    assert(SheetParser.header(noHeader).isEmpty)
    // compileAll skips every such sheet, and raises when none is left
    // (main.py:147-148)
    assert(SheetParser.compileAll(spark,
      Seq((oneState, 2023), (grid, 2023))).count() == 3)
    intercept[IllegalArgumentException] {
      SheetParser.compileAll(spark,
        Seq((oneState, 2023), (noIds, 2023), (noHeader, 2023)))
    }
  }

  test("compileAll + runEtl golden: union null-fill, clean aggregate invariant") {
    // second sheet has a different dimension column (care_type, no diag)
    val grid2: Seq[Seq[String]] = Seq(
      Seq(N, "Care type", "NSW", "VIC"),
      Seq("Mental health", "Acute", "10", "20"),
      Seq("Mental health", "Acute", "1", "2"))
    val tidy = SheetParser.compileAll(spark, Seq((grid, 2023), (grid2, 2024)))
    // one schema rule with the graft-sheet source: every id column in
    // first-appearance order, then state, separations, year
    assert(tidy.columns.toSeq ==
      Seq("category", "principal_diagnosis", "care_type", "state",
          "separations", "year"))
    // column-level missing dims are null after union
    assert(tidy.filter(col("year") === 2024 &&
      col("principal_diagnosis").isNull).count() == 4)

    val out = java.nio.file.Files.createTempDirectory("etl").toString
    val (staging, clean) = Pipeline.runEtl(tidy, out)
    // invariant (FIXTURES A4): totals preserved per (year, state)
    val s = staging.groupBy("year", "state").agg(sum("separations").as("t"))
    val c = clean.groupBy("year", "state").agg(sum("separations").as("t"))
    assert(s.exceptAll(c).isEmpty && c.exceptAll(s).isEmpty)
    // clean: null dims filled to "" (2024 rows had null principal_diagnosis)
    assert(clean.filter(col("principal_diagnosis") === "").count() > 0)

    // dashboard load path (S5→P11→P12→P6) returns the clean rows
    val loaded = Pipeline.loadForDashboard(spark, out)
    assert(loaded.count() == clean.count())
  }

  test("S7 fallback: empty clean → re-aggregate staging") {
    val out = java.nio.file.Files.createTempDirectory("etl2").toString
    val tidy = SheetParser.compileAll(spark, Seq((grid, 2023)))
    graft.io.Tables.save(tidy, out, "staging_admissions")
    graft.io.Tables.save(tidy.limit(0), out, "clean_admissions")
    val loaded = Pipeline.loadForDashboard(spark, out)
    // all 3 tidy rows have distinct (state, category, diag) keys
    assert(loaded.count() == 3)
  }
}
