package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import graft.SparkTestBase
import graft.ingest.{Fetcher, Ingest, SheetParser}
import org.apache.spark.sql.types.StructType

/** DataSource V2 source: the workbook-directory read must (1) equal the
  * seam-based `compileWorkbooks` lifecycle row-for-row and column-for-
  * column, (2) prune columns at the scan, (3) prune whole sheet
  * partitions on pushed `year` filters, (4) plan once per `load()`.
  */
class SheetSourceSpec extends SparkTestBase {

  import spark.implicits._

  private def sheet(name: String, rows: Seq[String]): String =
    (s"== $name ==" +: rows).mkString("\n")

  private val wb2023 = Seq(
    sheet("Contents", Seq("ignore me")),
    sheet("Table 4.1", Seq(
      "junk\t\t",
      "cat\tNSW\tVIC",
      "Injury\t1\t2",
      "Mental health\t3\t4")),
    sheet("Table S2", Seq(
      "cat\tprincipal diagnosis\tNSW\tVIC\tQLD",
      "Injury\tBurns\t5\t6\tn.p.")),
    sheet("Table 9", Seq(
      "cat\tNSW\tVIC",
      "ShouldNotAppear\t7\t8"))).mkString("\n")

  private val wb2024 = Seq(
    sheet("Table 5", Seq(
      "cat\tNSW\tVIC",
      "(\"Poisoning, 1.0)\t9\t10"))).mkString("\n")

  private lazy val dir: String = {
    val d = Files.createTempDirectory("sheets")
    Files.writeString(d.resolve("apc-2022-23-tables-access.txt"), wb2023)
    Files.writeString(d.resolve("apc-2023-24-tables-access.txt"), wb2024)
    d.toString
  }

  private lazy val ds = spark.read.format("graft-sheet").load(dir)

  test("reads both workbooks; rows equal the seam-based lifecycle") {
    val fileFetcher = new Fetcher {
      def fetch(url: String): Array[Byte] = Files.readAllBytes(
        java.nio.file.Paths.get(url.stripPrefix("file:")))
    }
    val expected = Ingest.compileWorkbooks(spark,
      Seq(s"$dir/apc-2022-23-tables-access.txt",
        s"$dir/apc-2023-24-tables-access.txt"),
      fileFetcher, TextWorkbook)
    // one schema rule: same columns in the same order, same types
    assert(ds.schema == expected.schema, ds.schema.treeString)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map(String.valueOf))
        .sortBy(_.mkString("|")).toSeq
    assert(canon(ds) == canon(expected))
  }

  test("a REAL .xlsx workbook in the directory reads identically to " +
    "its text-encoded twin (decode dispatch by extension)") {
    val d = Files.createTempDirectory("sheets_xlsx")
    // same content, two encodings, two years so rows stay distinct
    Files.writeString(d.resolve("apc-2022-23-tables-access.txt"), wb2023)
    Files.write(d.resolve("apc-2023-24-tables-access.xlsx"),
      XlsxWorkbook.encode(TextWorkbook.decode(wb2023.getBytes(UTF_8))))
    val both = spark.read.format("graft-sheet").load(d.toString)
    val years = both.groupBy($"year").count()
      .as[(Int, Long)].collect().toMap
    assert(years.keySet == Set(2023, 2024), years.toString)
    assert(years(2023) == years(2024),
      "the xlsx twin must parse to the same row count")
    val mism = both.filter($"year" === 2023).drop("year")
      .exceptAll(both.filter($"year" === 2024).drop("year")).count()
    assert(mism == 0, "xlsx rows must equal the text-encoded rows")
  }

  test("reference parse semantics ride through: clean_text, nan, coerce") {
    val rows = ds.filter($"year" === 2024).collect()
    assert(rows.map(_.getAs[String]("cat")).distinct.toSeq == Seq("Poisoning"),
      "tuple artifact stripped by clean_text")
    val np = ds.filter($"state" === "QLD" && $"year" === 2023).count()
    assert(np == 0, "n.p. coerces to null and null separations drop (main.py:128)")
    val pd = ds.filter($"year" === 2023 && $"principal_diagnosis".isNotNull)
      .select("principal_diagnosis").distinct().as[String].collect().toSeq
    assert(pd == Seq("Burns"), "second sheet's extra id column unioned in")
  }

  test("NaN cells are missing in compileAll and graft-sheet alike") {
    // pd.to_numeric turns NaN/nan into NaN and dropna removes the row
    // (main.py:123-129), like the unparseable n.p. and 1,234. The edge
    // rows put one NSW cell each through the same coercion; the expected
    // values are what pandas 2.2.2 gives: inf spellings stay ±inf, Java's
    // type suffixes and hex floats are not numbers, overflow is NaN
    val inf = Double.PositiveInfinity
    val edges = Seq(
      "inf" -> Some(inf), "+inf" -> Some(inf), "-inf" -> Some(-inf),
      "INF" -> Some(inf), "infinity" -> Some(inf), "-Infinity" -> Some(-inf),
      "1d" -> None, "1f" -> None, "0x1p3" -> None, "1e400" -> None,
      "NaN" -> None, "nan" -> None, "n.p." -> None, "1,234" -> None,
      "1\u00a0234" -> None, ".5" -> Some(0.5), "5." -> Some(5.0),
      "+5" -> Some(5.0), "1.5E-3" -> Some(0.0015))
    val wb = sheet("Table 4", Seq(
      "cat\tNSW\tVIC\tQLD\tSA\tWA",
      "Injury\tNaN\tnan\tn.p.\t1,234\t5") ++
      edges.indices.map(i => s"e$i\t${edges(i)._1}\t\t\t\t"))
    val want = (("Injury", "WA", 5.0, 2023) +: edges.indices.collect {
      case i if edges(i)._2.nonEmpty => (s"e$i", "NSW", edges(i)._2.get, 2023)
    }).sortBy(_._1)
    val d = Files.createTempDirectory("sheets_nan")
    Files.writeString(d.resolve("apc-2022-23-tables-access.txt"), wb)
    val viaSource = spark.read.format("graft-sheet").load(d.toString)
    val viaCompile = SheetParser.compileAll(spark,
      TextWorkbook.decode(wb.getBytes(UTF_8)).map { case (_, g) => (g, 2023) })
    for (df <- Seq(viaSource, viaCompile)) {
      val got = df.select("cat", "state", "separations", "year")
        .as[(String, String, Double, Int)].collect().toSeq.sortBy(_._1)
      assert(got == want, got.toString)
    }
  }

  test("column pruning reaches the scan") {
    val pruned = ds.select("state", "separations")
    val scan = pruned.queryExecution.executedPlan.collectLeaves().head
    assert(scan.output.map(_.name) == Seq("state", "separations"),
      scan.output.map(_.name).toString)
  }

  test("year filters prune whole sheet partitions at planning") {
    val (schema, parts) = SheetPlanning.plan(dir)
    assert(parts.size == 3, "three gated+recognizable sheets")
    val sb = new SheetScanBuilder(schema, parts)
    val residual = sb.pushFilters(Array(
      org.apache.spark.sql.sources.EqualTo("year", 2024),
      org.apache.spark.sql.sources.EqualTo("state", "NSW")))
    assert(residual.map(_.toString).toSeq
      == Seq("EqualTo(state,NSW)"), "year handled, state residual")
    val batch = sb.build().toBatch
    assert(batch.planInputPartitions().length == 1,
      "only the 2024 workbook's single sheet remains")
    // end-to-end: pushed filter still yields correct rows
    assert(ds.filter($"year" === 2024).count() == 2)
  }

  test("empty-result pushdown and schema stay consistent") {
    assert(ds.filter($"year" === 1900).count() == 0)
    assert(ds.schema == spark.read.format("graft-sheet").load(dir).schema)
    assert(ds.schema.isInstanceOf[StructType])
  }

  test("load() plans once: scans reuse the plan schema inference built") {
    val d = Files.createTempDirectory("sheets_once")
    Files.writeString(d.resolve("apc-2022-23-tables-access.txt"), wb2023)
    val inferred = spark.read.format("graft-sheet").load(d.toString)
    val supplied = spark.read.format("graft-sheet")
      .schema(inferred.schema).load(d.toString)
    // a workbook written after load(): the inferring load scans the plan
    // it already built, a user-schema load plans at its first scan
    Files.writeString(d.resolve("apc-2023-24-tables-access.txt"), wb2024)
    assert(inferred.filter($"year" === 2024).count() == 0)
    assert(inferred.count() == 6)
    assert(supplied.filter($"year" === 2024).count() == 2)
  }

  test("user-supplied schema skips inference and projects by name") {
    // production path at crawl scale: the known tidy schema is passed
    // in, so the driver never pre-reads workbooks for inference
    val supplied = spark.read.format("graft-sheet")
      .schema(ds.schema).load(dir)
    assert(supplied.schema == ds.schema)
    assert(supplied.count() == ds.count())
  }
}
