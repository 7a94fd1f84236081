package perfbench

import java.io.{BufferedOutputStream, FileOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import java.util.zip.{ZipEntry, ZipOutputStream}

import scala.collection.mutable

/** Seeded generator of AIHW-shaped xlsx workbooks, plus the ground truth
  * the output checks compare against.
  *
  * Each of the 12 workbooks is one financial year (`...-2012-13.xlsx` is
  * year 2013). It holds four gated sheets (`Table 4.x`, `Table S4.x`,
  * `Table 5.x`) and three ungated ones (`Contents`, `Table 2.1` with a
  * parseable state table that the name gate must skip, `Notes`). A gated
  * sheet has title rows above the header, two unnamed id columns
  * (category, principal diagnosis), `Care type` on half of the sheets,
  * the 8 state columns plus `Total`, about 5% `n.p.` cells and footnote
  * rows below the data. Numbers are written as plain numeric cells.
  *
  * The generator is written independently of the program's own xlsx
  * codec; the program only sees the files.
  */
object Gen {

  val States: Seq[String] = Seq("NSW", "VIC", "QLD", "WA", "SA", "TAS", "ACT", "NT")
  private val HeaderStates = Seq("NSW", "Vic", "Qld", "WA", "SA", "Tas", "ACT", "NT")

  val Categories: IndexedSeq[String] = IndexedSeq(
    "Certain infectious and parasitic diseases", "Neoplasms",
    "Diseases of the blood and immune system",
    "Endocrine, nutritional and metabolic diseases",
    "Mental and behavioural disorders", "Diseases of the nervous system",
    "Diseases of the eye and adnexa", "Diseases of the ear and mastoid",
    "Diseases of the circulatory system", "Diseases of the respiratory system",
    "Diseases of the digestive system", "Diseases of the skin",
    "Diseases of the musculoskeletal system", "Diseases of the genitourinary system",
    "Pregnancy, childbirth and the puerperium", "Perinatal conditions",
    "Congenital malformations", "Symptoms, signs and abnormal findings",
    "Injury, poisoning and external causes", "Factors influencing health status")

  val CareTypes: IndexedSeq[String] =
    IndexedSeq("Acute care", "Rehabilitation care", "Palliative care",
      "Mental health care", "Newborn care")

  /** Principal diagnoses: 60 three-character codes per category. */
  val DiagnosesPerCategory = 60
  def diagnosis(cat: Int, i: Int): String =
    f"${('A' + cat).toChar}${i}%02d"

  val Workbooks = 12
  val FirstFy = 2012

  /** One gated sheet: name, whether it carries `Care type`, rows. */
  private case class SheetSpec(name: String, careType: Boolean, rows: Int)

  /** A tidy record as the program should produce it. */
  final case class Rec(year: Int, state: Int, cat: Int, diag: Int,
                       care: Int, sep: Double) // care = -1: sheet lacks it

  final class Truth(val recs: Array[Rec], val files: Seq[Path],
                    val workbookBytes: Long) {
    def stagingRows: Long = recs.length.toLong

    /** Σ separations per (year, state). */
    lazy val byYearState: Map[(Int, String), Double] =
      recs.groupMapReduce(r => (r.year, States(r.state)))(_.sep)(_ + _)

    /** clean_admissions keys: (year, state, category, diagnosis, care)
      * — sheets without `Care type` land on the "" care group.
      */
    lazy val cleanKeys: Array[Rec] =
      recs.map(_.copy(sep = 0.0)).distinct

    def careName(care: Int): String = if (care < 0) "" else CareTypes(care)

    /** Sidebar domains of the dimensions that pass `1 < distinct < 50`. */
    lazy val domains: Map[String, Seq[String]] = Map(
      "category" -> recs.map(r => Categories(r.cat)).distinct.sorted.toSeq,
      "care_type" -> recs.map(r => careName(r.care)).distinct.sorted.toSeq)
  }

  def fyLabel(i: Int): String = f"${FirstFy + i}-${(FirstFy + i + 1) % 100}%02d"
  def fileName(i: Int): String = s"aihw-admitted-patient-care-${fyLabel(i)}.xlsx"

  /** Input size. At 1.0 the workbooks hold about 300k tidy rows (the
    * reference's monthly refresh), where one 4-client rerun round alone
    * outlasts a run; 0.1 is about 30k. Data rows per sheet scale linearly.
    */
  val Scale = 0.1

  /** Write the 12 workbooks into `dir` and return the truth. */
  def generate(seed: Long, dir: Path): Truth = {
    Files.createDirectories(dir)
    val rnd = new SplittableRandom(seed)
    val recs = Array.newBuilder[Rec]
    var bytes = 0L
    val files = (0 until Workbooks).map { w =>
      val year = FirstFy + w + 1
      val wr = rnd.split()
      // four gated sheets per workbook, two with care type; row counts
      // jitter by year so the total lands near 300k tidy rows
      def rows(base: Int, jitter: Int) =
        math.max(1, math.round((base + wr.nextInt(jitter)) * Scale).toInt)
      val specs = Seq(
        SheetSpec("Table 4.1", careType = false, rows(560, 80)),
        SheetSpec("Table 4.2", careType = true, rows(1320, 160)),
        SheetSpec("Table S4.3", careType = false, rows(460, 80)),
        SheetSpec("Table 5.1", careType = true, rows(780, 120)))
      val sheets = Seq.newBuilder[(String, Seq[Seq[Cell]])]
      sheets += "Contents" -> contents(specs.map(_.name))
      sheets += "Table 2.1" -> ungatedStateTable(wr)
      specs.foreach { s =>
        sheets += s.name -> gatedSheet(s, year, wr, recs)
      }
      sheets += "Notes" -> Seq(Seq(Str("Notes")), Seq(Str("n.p. not published")))
      val path = dir.resolve(fileName(w))
      bytes += writeXlsx(path, sheets.result())
      path
    }
    new Truth(recs.result(), files, bytes)
  }

  // ---- sheet contents ------------------------------------------------

  sealed trait Cell
  final case class Str(s: String) extends Cell
  final case class Num(v: Long) extends Cell

  private def contents(names: Seq[String]): Seq[Seq[Cell]] =
    Seq(Seq(Str("Admitted patient care: supplementary tables")), Seq()) ++
      names.map(n => Seq(Str(n), Str(s"$n: separations by principal diagnosis")))

  /** A well-formed state table on a sheet the name gate excludes. */
  private def ungatedStateTable(r: SplittableRandom): Seq[Seq[Cell]] =
    Seq(Seq(Str("Table 2.1: Separations by hospital sector")), Seq(),
      Seq(null, null) ++ HeaderStates.map(Str) :+ Str("Total")) ++
      Seq("Public", "Private").map { sector =>
        val vs = States.map(_ => 1000L + r.nextInt(900000))
        Seq(Str(sector), Str("All")) ++ vs.map(Num) :+ Num(vs.sum)
      }

  private def gatedSheet(s: SheetSpec, year: Int, r: SplittableRandom,
                         recs: mutable.Builder[Rec, Array[Rec]]): Seq[Seq[Cell]] = {
    val titles = (0 until 1 + r.nextInt(3)).map { i =>
      if (i == 0) Seq(Str(s"${s.name}: Separations by principal diagnosis, states and territories, ${year - 1}-${year % 100}"))
      else Seq()
    }
    val header: Seq[Cell] = Seq(null, null) ++
      (if (s.careType) Seq(Str("Care type")) else Nil) ++
      HeaderStates.map(Str) :+ Str("Total")

    // distinct (category, diagnosis[, care]) keys, sampled without
    // replacement so each key appears once per sheet
    val space = Gen.Categories.size * DiagnosesPerCategory *
      (if (s.careType) CareTypes.size else 1)
    val picked = mutable.LinkedHashSet.empty[Int]
    while (picked.size < math.min(s.rows, space)) picked += r.nextInt(space)
    val data = picked.toSeq.sorted.map { k =>
      val care = if (s.careType) k % CareTypes.size else -1
      val cd = if (s.careType) k / CareTypes.size else k
      val cat = cd / DiagnosesPerCategory
      val diag = cd % DiagnosesPerCategory
      // skewed magnitudes: some categories and states are much larger
      val scale = (1 + cat % 7) * (1 + diag % 5)
      val cells = States.indices.map { st =>
        val u = r.nextDouble()
        if (u < 0.05) Left("n.p.")
        else {
          val v = 1L + r.nextInt(40 * scale * (8 - st) + 10)
          recs += Rec(year, st, cat, diag, care, v.toDouble)
          Right(v)
        }
      }
      val total = cells.collect { case Right(v) => v }.sum
      // ~2% of category cells carry the Excel tuple artifact the
      // program's text cleaning strips
      val catCell =
        if (r.nextInt(50) == 0) "(\"" + Categories(cat) + "\", 1.0)"
        else Categories(cat)
      Seq(Str(catCell), Str(diagnosis(cat, diag))) ++
        (if (s.careType) Seq(Str(CareTypes(care))) else Nil) ++
        cells.map {
          case Left(np) => Str(np)
          case Right(v) => Num(v)
        } :+ Num(total)
    }
    titles ++ Seq(header) ++ data ++ Seq(Seq(),
      Seq(Str("Source: generated benchmark data.")),
      Seq(Str("Note: n.p. means not published.")))
  }

  // ---- minimal xlsx writer ------------------------------------------

  private def esc(s: String): String = s.replace("&", "&amp;")
    .replace("<", "&lt;").replace(">", "&gt;").replace("\"", "&quot;")

  private def colRef(c: Int): String =
    if (c < 26) ('A' + c).toChar.toString
    else colRef(c / 26 - 1) + ('A' + c % 26).toChar

  /** Writes the workbook and returns its size in bytes. */
  private def writeXlsx(path: Path, sheets: Seq[(String, Seq[Seq[Cell]])]): Long = {
    val sst = mutable.LinkedHashMap.empty[String, Int]
    val sheetXml = sheets.map { case (_, rows) =>
      val sb = new java.lang.StringBuilder
      sb.append("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""")
      sb.append("""<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""")
      rows.zipWithIndex.foreach { case (row, ri) =>
        if (row.exists(_ != null)) {
          sb.append("<row r=\"").append(ri + 1).append("\">")
          row.zipWithIndex.foreach {
            case (Str(s), ci) =>
              val id = sst.getOrElseUpdate(s, sst.size)
              sb.append("<c r=\"").append(colRef(ci)).append(ri + 1)
                .append("\" t=\"s\"><v>").append(id).append("</v></c>")
            case (Num(v), ci) =>
              sb.append("<c r=\"").append(colRef(ci)).append(ri + 1)
                .append("\"><v>").append(v).append("</v></c>")
            case _ => ()
          }
          sb.append("</row>")
        }
      }
      sb.append("</sheetData></worksheet>").toString
    }
    val ns = "http://schemas.openxmlformats.org"
    val wb = sheets.zipWithIndex.map { case ((n, _), i) =>
      s"""<sheet name="${esc(n)}" sheetId="${i + 1}" r:id="rId${i + 1}"/>"""
    }.mkString(s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?><workbook xmlns="$ns/spreadsheetml/2006/main" xmlns:r="$ns/officeDocument/2006/relationships"><sheets>""",
      "", "</sheets></workbook>")
    val rels = sheets.indices.map { i =>
      s"""<Relationship Id="rId${i + 1}" Type="$ns/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet${i + 1}.xml"/>"""
    }.mkString(s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?><Relationships xmlns="$ns/package/2006/relationships">""",
      "", "</Relationships>")
    val strings = sst.keys.map(s => s"<si><t>${esc(s)}</t></si>")
      .mkString(s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?><sst xmlns="$ns/spreadsheetml/2006/main" count="${sst.size}" uniqueCount="${sst.size}">""",
        "", "</sst>")
    val types = sheets.indices.map { i =>
      s"""<Override PartName="/xl/worksheets/sheet${i + 1}.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>"""
    }.mkString(s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?><Types xmlns="$ns/package/2006/content-types"><Default Extension="xml" ContentType="application/xml"/><Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/><Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/><Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>""",
      "", "</Types>")
    val rootRels = s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?><Relationships xmlns="$ns/package/2006/relationships"><Relationship Id="rId1" Type="$ns/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/></Relationships>"""

    val zos = new ZipOutputStream(new BufferedOutputStream(new FileOutputStream(path.toFile)))
    try {
      def put(name: String, content: String): Unit = {
        zos.putNextEntry(new ZipEntry(name))
        zos.write(content.getBytes(UTF_8))
        zos.closeEntry()
      }
      put("[Content_Types].xml", types)
      put("_rels/.rels", rootRels)
      put("xl/workbook.xml", wb)
      put("xl/_rels/workbook.xml.rels", rels)
      put("xl/sharedStrings.xml", strings)
      sheetXml.zipWithIndex.foreach { case (x, i) => put(s"xl/worksheets/sheet${i + 1}.xml", x) }
    } finally zos.close()
    Files.size(path)
  }
}
