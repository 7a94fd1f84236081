package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType}

import graft.io.Tables
import graft.ops.{CleanText, Tidy}

/** End-to-end ETL + dashboard-load composition (SURVEY §3.1/§3.2).
  *
  * `runEtl` = the reference's `load()` (`/root/reference/main.py:155-165`):
  * write staging, derive clean from the staged rows via A9 dim-selection +
  * P8 null-fill + A1 group-sum, write clean. Like the reference, clean is
  * aggregated from what staging holds, so the source is scanned once.
  * `loadForDashboard` = `load_data()`
  * (`/root/reference/streamlit_app.py:26-50`): scan clean, fall back to
  * re-aggregating staging, compat renames, coercions, final dropna.
  */
object Pipeline {

  /** `load()` — staging + clean writes. Returns (staging, clean) plans. */
  def runEtl(tidy: DataFrame, outDir: String): (DataFrame, DataFrame) = {
    Tables.save(tidy, outDir, "staging_admissions")
    val staged = Tables.load(tidy.sparkSession, outDir, "staging_admissions")
    val dims = Tidy.nonEmptyDimensions(staged, Tidy.dimensions(staged))
    val clean = Tidy.cleanAggregate(staged, dims)
    Tables.save(clean, outDir, "clean_admissions")
    (staged, clean)
  }

  /** P11 (`streamlit_app.py:39-44`): compat renames applied only when the
    * target column is absent.
    */
  def compatRenames(df: DataFrame): DataFrame = {
    val renames = Seq("diagnosis" -> "principal_diagnosis",
                      "icd_chapter" -> "category")
    renames.foldLeft(df) { case (d, (from, to)) =>
      if (d.columns.contains(from) && !d.columns.contains(to))
        d.withColumnRenamed(from, to)
      else d
    }
  }

  /** `load_data()` — S5 scan → S7 fallback(A1) → P11 → P12 casts → P6.
    * A P12 cast goes through a string (`CleanText.coerce*`), so a column
    * already of the target type is left as it is: the cast is the
    * identity there, NaN and -0.0 included.
    */
  def loadForDashboard(spark: SparkSession, dir: String): DataFrame = {
    val primary = Tables.load(spark, dir, "clean_admissions")
    val df = Tables.withFallback(primary) {
      val staging = Tables.load(spark, dir, "staging_admissions")
      Tidy.cleanAggregate(staging,
        Tidy.nonEmptyDimensions(staging, Tidy.dimensions(staging)))
    }
    def coerce(d: DataFrame, c: String, to: DataType, f: Column => Column) =
      if (d.select(c).schema.head.dataType == to) d else d.withColumn(c, f(col(c)))
    val typed = coerce(coerce(compatRenames(df), "year", IntegerType, CleanText.coerceInt),
      "separations", DoubleType, CleanText.coerceDouble)
    typed.na.drop(Seq("year", "state", "separations"))
  }
}
