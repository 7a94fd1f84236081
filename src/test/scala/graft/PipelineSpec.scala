package graft

import org.apache.spark.sql.functions.col

import graft.io.Tables
import graft.ops.CleanText

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
}
