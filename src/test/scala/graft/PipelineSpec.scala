package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions.col

import graft.io.Tables
import graft.ops.CleanText
import graft.sources.TextWorkbook

class PipelineSpec extends SparkTestBase {
  import spark.implicits._

  test("loadForDashboard: a typed clean table loads as through the string round trip") {
    val out = java.nio.file.Files.createTempDirectory("typed").toString
    val clean = Seq(
      (Some(2022), "NSW", "A", Some(1.5)),
      (Some(2023), "NSW", "A", Some(Double.NaN)),
      (Some(2023), "VIC", "B", Some(-0.0)),
      (Some(2024), "VIC", "B", Some(Double.PositiveInfinity)),
      (Some(2024), "QLD", "A", Some(1e-300)),
      (None, "QLD", "B", Some(2.0)),
      (Some(2022), "QLD", "B", None)
    ).toDF("year", "state", "category", "separations")
    Tables.save(clean, out, "clean_admissions")
    Tables.save(clean, out, "staging_admissions")

    // the load as written before typed columns skipped the coercions
    val expected = Tables.load(spark, out, "clean_admissions")
      .withColumn("year", CleanText.coerceInt(col("year")))
      .withColumn("separations", CleanText.coerceDouble(col("separations")))
      .na.drop(Seq("year", "state", "separations"))
    val got = Pipeline.loadForDashboard(spark, out)
    assert(got.schema == expected.schema)
    // bit patterns, so NaN and -0.0 compare exactly
    def bits(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        java.lang.Double.doubleToRawLongBits(r.getDouble(3)))).toSet
    assert(bits(got) == bits(expected))
    // na.drop takes the null-year, null- and NaN-separations rows
    assert(bits(got).size == 4)
  }

  private def workbook(sheets: (String, Seq[String])*): Array[Byte] =
    TextWorkbook.encode(sheets.map { case (n, rows) => n -> rows.map(_.split("\t", -1).toSeq) })

  /** A refresh from `in` must fail naming `message` and leave the rows of
    * an earlier good publish loadable (main.py:147-148 raises before any
    * write). `in` is read with and without a user-supplied schema.
    */
  private def assertRefreshFailsAndKeeps(in: Path, message: String): Unit = {
    val good = Files.createTempDirectory("good")
    Files.write(good.resolve("apc-2022-23-tables-access.txt"), workbook(
      "Table 4.1" -> Seq("cat\tNSW\tVIC", "Injury\t1\t2", "Burns\t3\t4")))
    val out = Files.createTempDirectory("published").toString
    val goodRead = spark.read.format("graft-sheet").load(good.toString)
    Pipeline.runEtl(goodRead, out)
    val before = Pipeline.loadForDashboard(spark, out).collect().toSet
    assert(before.size == 4)
    val reads = Seq(
      () => spark.read.format("graft-sheet").load(in.toString),
      () => spark.read.format("graft-sheet").schema(goodRead.schema).load(in.toString))
    for (read <- reads) {
      val e = intercept[IllegalArgumentException](Pipeline.runEtl(read(), out))
      assert(e.getMessage.contains(message), e.getMessage)
      assert(Pipeline.loadForDashboard(spark, out).collect().toSet == before)
    }
  }

  test("a refresh over an empty directory fails and publishes nothing") {
    val in = Files.createTempDirectory("empty")
    assertRefreshFailsAndKeeps(in, s"no frames parsed in $in")
  }

  test("a refresh whose only sheet has no header fails and publishes nothing") {
    val in = Files.createTempDirectory("headerless")
    Files.write(in.resolve("apc-2023-24-tables-access.txt"), workbook(
      "Table 4.1" -> Seq("cat\tNSW", "Injury\t1")))
    assertRefreshFailsAndKeeps(in, s"no frames parsed in $in")
  }

  test("a refresh over a corrupt xlsx fails naming the workbook and publishes nothing") {
    val in = Files.createTempDirectory("corrupt")
    Files.write(in.resolve("apc-2023-24-tables-access.xlsx"),
      "not a zip archive".getBytes("UTF-8"))
    assertRefreshFailsAndKeeps(in, "apc-2023-24-tables-access.xlsx")
  }
}
