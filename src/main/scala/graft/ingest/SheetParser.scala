package graft.ingest

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericRow
import org.apache.spark.sql.graft.CleanTextExpr
import org.apache.spark.sql.types.{DoubleType, IntegerType, StringType, StructField, StructType}

import graft.ops.CleanText

/** Ingest layer (SURVEY §2.1 S1–S3, §2.2 P1–P7, §2.7 T6): the
  * `parse_sheet` semantics of `/root/reference/main.py:72-131` over a raw
  * all-string grid — the one implementation both entry points use.
  *
  * Design split (SURVEY §7.3): header detection is ordinal — "first of the
  * top ≤40 rows with ≥2 state codes" (`main.py:48-53`) — which has no
  * distributed meaning, so it runs driver-side over at most 40 rows
  * ([[header]]). The data path ([[tidyRows]]) is a pure row function: the
  * `graft-sheet` source runs it per sheet partition on executors, the
  * distributed read; [[compileAll]] runs it driver-side over in-memory
  * grids into a local DataFrame.
  */
object SheetParser {

  /** T6 (`main.py:48-53`): first row index (≤40) with ≥2 state codes. */
  def headerRow(rows: Seq[Seq[Any]]): Option[Int] = {
    def isState(v: Any): Boolean = v != null &&
      CleanText.StateCodes.contains(
        v.toString.toUpperCase.replaceAll("[^A-Z]", ""))
    rows.take(40).zipWithIndex
      .collectFirst { case (r, i) if r.count(isState) >= 2 => i }
  }

  private def normStateName(name: String): Option[String] = {
    val s = Option(name).getOrElse("").toUpperCase.replaceAll("[^A-Z]", "")
    Option.when(CleanText.StateCodes.contains(s))(s)
  }

  /** Parsed header: resolved id/state column names, in grid order.
    * Mirrors `main.py:81-113`: P1 dedup keep-first, P2 rename/normalize,
    * P3 positional unnamed→category/principal_diagnosis/dimension_i,
    * P4 drop `total`.
    */
  case class Header(colNames: Seq[String], idCols: Seq[String],
                    stateCols: Seq[String], keep: Seq[Int])

  private[graft] def resolveHeader(cells: Seq[Any]): Header = {
    // pandas read_excel names empty header cells "Unnamed: <i>"
    val raw = cells.zipWithIndex.map { case (c, i) =>
      if (c == null || c.toString.trim.isEmpty) s"Unnamed: $i" else c.toString
    }
    // P2: state-normalize or snake-case
    var named = raw.map(n =>
      normStateName(n).getOrElse(CleanText.snakeCase(n)))
    // P1: keep first occurrence of each duplicate name
    val seen = scala.collection.mutable.Set[String]()
    val keep = named.zipWithIndex.collect {
      case (n, i) if seen.add(n) => i
    }
    named = keep.map(named)
    val isStateAt = named.map(n => CleanText.StateCodes.contains(n))

    // P3: positional renames of unnamed id columns
    var ids = named.zip(isStateAt).collect { case (n, false) => n }
    if (ids.nonEmpty && ids.head.startsWith("unnamed")) {
      named = named.map(n => if (n == ids.head) "category" else n)
      ids = ids.updated(0, "category")
    }
    var havePrincipal = named.contains("principal_diagnosis")
    ids.zipWithIndex.drop(1).foreach { case (n, idx) =>
      if (n.startsWith("unnamed")) {
        val nn = if (!havePrincipal) { havePrincipal = true; "principal_diagnosis" }
                 else s"dimension_$idx"
        named = named.map(m => if (m == n) nn else m)
        ids = ids.updated(idx, nn)
      }
    }
    // P4: drop helper column `total`
    val keepNoTotal = keep.zip(named).filter(_._2 != "total")
    val finalNames = keepNoTotal.map(_._2)
    Header(
      colNames = finalNames,
      idCols = finalNames.filterNot(CleanText.StateCodes.contains),
      stateCols = finalNames.filter(CleanText.StateCodes.contains),
      keep = keepNoTotal.map(_._1))
  }

  /** T6 + P1–P4 + the recognisable-sheet guard (`main.py:75-76,115-116`):
    * header row index and resolution, or None when the top 40 rows hold
    * no header or it lacks 2 state columns or an id column.
    */
  def header(grid: Seq[Seq[String]]): Option[(Int, Header)] =
    headerRow(grid).map(i => i -> resolveHeader(grid(i)))
      .filter { case (_, h) => h.stateCols.size >= 2 && h.idCols.nonEmpty }

  /** A recognisable sheet: its grid, the year its rows carry (P7), its [[header]]. */
  case class Sheet(grid: Seq[Seq[String]], year: Int, headerIdx: Int, header: Header)

  /** The tidy schema: every sheet's id columns in first-appearance order
    * (null where a sheet lacks one), then `state`, `separations`, `year`.
    */
  def tidySchema(idCols: Seq[String]): StructType =
    StructType(idCols.distinct.map(StructField(_, StringType)) ++ Seq(
      StructField("state", StringType), StructField("separations", DoubleType),
      StructField("year", IntegerType, nullable = false)))

  private val DecimalText = java.util.regex.Pattern.compile(
    "[ \\t\\n\\x0B\\f\\r]*[+-]?(\\d+\\.?\\d*|\\.\\d+)([eE][+-]?\\d+)?[ \\t\\n\\x0B\\f\\r]*")
  private val InfText = java.util.regex.Pattern.compile(
    "[+-]?inf(inity)?", java.util.regex.Pattern.CASE_INSENSITIVE)

  /** P12 for one cell, as `pd.to_numeric(errors="coerce")` (pandas 2.2)
    * reads it, with NaN as missing: a decimal or exponent form, with
    * surrounding ASCII whitespace, parses unless it overflows; `inf` and
    * `infinity` in any case, signed and unpadded, are ±inf; anything else
    * (`NaN`, `n.p.`, `1,234`, Java's `1d` and hex floats) is null.
    */
  private def toNumeric(s: String): java.lang.Double =
    if (DecimalText.matcher(s).matches()) {
      val d = s.trim.toDouble
      if (d.isInfinite) null else Double.box(d)
    } else if (InfText.matcher(s).matches())
      Double.box(if (s.charAt(0) == '-') Double.NegativeInfinity else Double.PositiveInfinity)
    else null

  /** `parse_sheet`'s data path (`main.py:117-130`) over one [[Sheet]]: P5
    * drop rows whose first id cell is empty; F1 clean id cells, a missing
    * one becoming the literal "nan" (the reference's `astype(str)`); P12
    * coerce state cells like `pd.to_numeric(errors="coerce")`, NaN
    * included; R1 melt dropping null separations; P7 the sheet's year.
    * Each tidy row is laid out as `fields` (null for an id column this
    * sheet lacks), strings encoded by `str`, so it wraps as a `Row` or an
    * `InternalRow` as is.
    */
  def tidyRows(sheet: Sheet, fields: Seq[String],
               str: String => AnyRef): Iterator[Array[Any]] = {
    val h = sheet.header
    val at = h.colNames.zip(h.keep).toMap
    val (idAt, stateAt) = (h.idCols.map(at).toArray, h.stateCols.map(at).toArray)
    val stateNames = h.stateCols.map(str).toArray
    // a tidy row is built as ids ++ (state, separations, year, null);
    // each output field picks one of those slots
    val n = idAt.size
    val slot = (h.idCols ++ Seq("state", "separations", "year")).zipWithIndex.toMap
    val slots = fields.map(slot.getOrElse(_, n + 3)).toArray
    def cell(r: Seq[String], i: Int): String =
      if (i < r.length && r(i) != null && r(i).nonEmpty) r(i) else null
    sheet.grid.iterator.drop(sheet.headerIdx + 1)
      .filter(cell(_, idAt.head) != null) // P5
      .flatMap { r =>
        val vals = new Array[Any](n + 4)
        idAt.indices.foreach { k =>
          val v = cell(r, idAt(k))
          vals(k) = str(if (v == null) "nan" else CleanTextExpr.clean(v))
        }
        vals(n + 2) = sheet.year
        stateAt.indices.iterator.flatMap { k =>
          val v = cell(r, stateAt(k))
          vals(n + 1) = if (v == null) null else toNumeric(v)
          vals(n) = stateNames(k)
          if (vals(n + 1) == null) None else Some(slots.map(vals(_)))
        }
      }
  }

  /** `compile_all`'s parse + union (`main.py:135-151`): every recognisable
    * (grid, year) as tidy rows in [[tidySchema]]; error if none
    * (`main.py:147-148`).
    */
  def compileAll(spark: SparkSession, sheets: Seq[(Seq[Seq[String]], Int)]): DataFrame =
    toFrame(spark, for {
      (grid, year) <- sheets
      (headerIdx, h) <- header(grid)
    } yield Sheet(grid, year, headerIdx, h))

  /** Recognisable sheets → one local DataFrame of their tidy rows. */
  private[ingest] def toFrame(spark: SparkSession, sheets: Seq[Sheet]): DataFrame = {
    require(sheets.nonEmpty, "no frames parsed") // main.py:147-148
    val schema = tidySchema(sheets.flatMap(_.header.idCols))
    val rows = sheets.flatMap(tidyRows(_, schema.fieldNames.toSeq, identity))
    spark.createDataFrame(rows.map(new GenericRow(_): Row).asJava, schema)
  }
}
