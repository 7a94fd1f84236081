package graft.sources

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.{ZipEntry, ZipInputStream, ZipOutputStream}

import javax.xml.stream.{XMLInputFactory, XMLStreamConstants}

import scala.collection.mutable

import graft.ingest.WorkbookDecoder

/** Real xlsx codec on the JDK alone (`java.util.zip` + StAX) — the S2
  * first-pass decode the reference performs with openpyxl
  * (`/root/reference/main.py:73,78`), behind the same [[WorkbookDecoder]]
  * seam as [[TextWorkbook]]: bytes → ordered (sheetName, all-string
  * grid), null for blank cells. No third-party dependency: an .xlsx file
  * is a zip of SpreadsheetML parts, all of which the JDK can read.
  *
  * Decode handles the parts a data workbook exercises:
  *  - `xl/workbook.xml` sheet order + names, resolved to worksheet parts
  *    through `xl/_rels/workbook.xml.rels` (never by filename guessing —
  *    sheetN.xml numbering is not positional in real files);
  *  - `xl/sharedStrings.xml` including rich-text runs (`<si><r><t>` —
  *    concatenated, as openpyxl does);
  *  - cell types: shared string (`t="s"`), inline string
  *    (`t="inlineStr"`), formula-cached string (`t="str"`), boolean
  *    (`t="b"` → TRUE/FALSE), and numeric/default (raw `<v>` text, the
  *    lexical form the writer stored);
  *  - sparse geometry: missing rows, gapped cells (`r="C5"` with A5/B5
  *    absent), and ragged widths all surface as nulls, matching the
  *    TextWorkbook contract downstream [[graft.ingest.SheetParser]]
  *    relies on.
  *
  * Encode writes a minimal valid workbook (shared-strings table, A1
  * refs, nulls skipped so they round-trip as gaps) — the test fixture
  * generator, and a usable export sink. Each `graft-sheet` load decodes
  * a workbook once on the driver to plan it and once more in each of its
  * sheet partitions on the executors, which do the parse.
  */
object XlsxWorkbook extends WorkbookDecoder {

  private val RelNs =
    "http://schemas.openxmlformats.org/officeDocument/2006/relationships"

  // ---- decode --------------------------------------------------------

  override def decode(bytes: Array[Byte]): Seq[(String, Seq[Seq[String]])] = {
    val parts = readZip(bytes)
    def part(name: String): Option[Array[Byte]] = parts.get(name)

    val shared = part("xl/sharedStrings.xml")
      .map(parseSharedStrings).getOrElse(IndexedSeq.empty)
    val rels = part("xl/_rels/workbook.xml.rels")
      .map(parseRels).getOrElse(Map.empty)
    val sheets = parseWorkbook(part("xl/workbook.xml").getOrElse(
      throw new IllegalArgumentException("not an xlsx: no xl/workbook.xml")))

    sheets.flatMap { case (name, rid) =>
      rels.get(rid).flatMap { target =>
        val path =
          if (target.startsWith("/")) target.stripPrefix("/")
          else "xl/" + target
        part(path).map(b => name -> parseSheet(b, shared))
      }
    }
  }

  private def readZip(bytes: Array[Byte]): Map[String, Array[Byte]] = {
    val zin = new ZipInputStream(new ByteArrayInputStream(bytes))
    val out = Map.newBuilder[String, Array[Byte]]
    try {
      var e = zin.getNextEntry
      while (e != null) {
        if (!e.isDirectory) out += e.getName -> zin.readAllBytes()
        e = zin.getNextEntry
      }
    } finally zin.close()
    out.result()
  }

  private def reader(bytes: Array[Byte]) = {
    val f = XMLInputFactory.newInstance()
    // no DTDs / external entities in SpreadsheetML; disable resolution
    f.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    f.createXMLStreamReader(new ByteArrayInputStream(bytes), "UTF-8")
  }

  /** workbook.xml → ordered (sheet name, relationship id). */
  private def parseWorkbook(bytes: Array[Byte]): Seq[(String, String)] = {
    val r = reader(bytes)
    val out = Seq.newBuilder[(String, String)]
    try while (r.hasNext) {
      if (r.next() == XMLStreamConstants.START_ELEMENT
          && r.getLocalName == "sheet") {
        val name = Option(r.getAttributeValue(null, "name")).getOrElse("")
        val rid = Option(r.getAttributeValue(RelNs, "id"))
          .orElse(Option(r.getAttributeValue(null, "id"))).getOrElse("")
        out += name -> rid
      }
    } finally r.close()
    out.result()
  }

  /** workbook.xml.rels → rId → target part path (workbook-relative). */
  private def parseRels(bytes: Array[Byte]): Map[String, String] = {
    val r = reader(bytes)
    val out = Map.newBuilder[String, String]
    try while (r.hasNext) {
      if (r.next() == XMLStreamConstants.START_ELEMENT
          && r.getLocalName == "Relationship") {
        val id = Option(r.getAttributeValue(null, "Id")).getOrElse("")
        val tgt = Option(r.getAttributeValue(null, "Target")).getOrElse("")
        out += id -> tgt
      }
    } finally r.close()
    out.result()
  }

  /** sharedStrings.xml → indexed strings; rich-text runs concatenate. */
  private def parseSharedStrings(bytes: Array[Byte]): IndexedSeq[String] = {
    val r = reader(bytes)
    val out = IndexedSeq.newBuilder[String]
    val cur = new StringBuilder
    var inSi = false
    var inT = false
    try while (r.hasNext) r.next() match {
      case XMLStreamConstants.START_ELEMENT =>
        r.getLocalName match {
          case "si" => inSi = true; cur.clear()
          case "t" if inSi => inT = true
          case _ => ()
        }
      case XMLStreamConstants.CHARACTERS | XMLStreamConstants.CDATA
          if inT =>
        cur.append(r.getText)
      case XMLStreamConstants.END_ELEMENT =>
        r.getLocalName match {
          case "t" => inT = false
          case "si" => inSi = false; out += cur.result()
          case _ => ()
        }
      case _ => ()
    } finally r.close()
    out.result()
  }

  /** A1-style column letters → 0-based index (A→0, Z→25, AA→26). */
  private[sources] def colIndex(ref: String): Int = {
    var i = 0
    var acc = 0
    while (i < ref.length && ref.charAt(i).isLetter) {
      acc = acc * 26 + (ref.charAt(i).toUpper - 'A' + 1)
      i += 1
    }
    acc - 1
  }

  /** One worksheet part → dense all-string grid (nulls for gaps). */
  private def parseSheet(bytes: Array[Byte],
                         shared: IndexedSeq[String]): Seq[Seq[String]] = {
    val r = reader(bytes)
    // (row, col) -> value; sparse until the final densify
    val cells = mutable.Map.empty[(Int, Int), String]
    var maxRow = -1
    var curRow = -1
    var nextCol = 0
    var cellCol = 0
    var cellType = ""
    var text = new StringBuilder
    var inV = false
    var inIsT = false
    var sawValue = false
    try while (r.hasNext) r.next() match {
      case XMLStreamConstants.START_ELEMENT => r.getLocalName match {
        case "row" =>
          // r attribute is optional; absent means "next row"
          curRow = Option(r.getAttributeValue(null, "r"))
            .map(_.toInt - 1).getOrElse(curRow + 1)
          maxRow = math.max(maxRow, curRow)
          nextCol = 0
        case "c" =>
          cellCol = Option(r.getAttributeValue(null, "r"))
            .map(colIndex).getOrElse(nextCol)
          nextCol = cellCol + 1
          cellType = Option(r.getAttributeValue(null, "t")).getOrElse("")
          text = new StringBuilder
          sawValue = false
        case "v" => inV = true
        case "t" => inIsT = true // only reachable inside <is> here
        case _ => ()
      }
      case XMLStreamConstants.CHARACTERS | XMLStreamConstants.CDATA
          if inV || inIsT =>
        text.append(r.getText); sawValue = true
      case XMLStreamConstants.END_ELEMENT => r.getLocalName match {
        case "v" => inV = false
        case "t" => inIsT = false
        case "c" =>
          if (sawValue) {
            val raw = text.result()
            val value = cellType match {
              case "s" => shared(raw.trim.toInt)
              case "b" => if (raw.trim == "1") "TRUE" else "FALSE"
              case _ => raw // inlineStr/str/numeric: lexical form
            }
            cells((curRow, cellCol)) = value
          }
        case _ => ()
      }
      case _ => ()
    } finally r.close()

    val width = mutable.Map.empty[Int, Int] // row -> last col + 1
    cells.keys.foreach { case (row, c) =>
      width(row) = math.max(width.getOrElse(row, 0), c + 1)
    }
    (0 to maxRow).map { row =>
      (0 until width.getOrElse(row, 0))
        .map(c => cells.getOrElse((row, c), null))
    }
  }

  // ---- encode --------------------------------------------------------

  private def esc(s: String): String = s
    .replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    .replace("\"", "&quot;")

  private def colRef(c: Int): String = {
    var n = c + 1
    val sb = new StringBuilder
    while (n > 0) {
      val rem = (n - 1) % 26
      sb.insert(0, ('A' + rem).toChar)
      n = (n - 1) / 26
    }
    sb.result()
  }

  /** Minimal valid xlsx: every non-null cell is a shared string (the
    * standard layout writers emit), nulls are skipped so they decode
    * back as gaps.
    */
  def encode(sheets: Seq[(String, Seq[Seq[String]])]): Array[Byte] = {
    val strings = mutable.LinkedHashMap.empty[String, Int]
    def sid(s: String): Int =
      strings.getOrElseUpdate(s, strings.size)

    val sheetXml = sheets.map { case (_, grid) =>
      val rows = grid.zipWithIndex.collect {
        case (cellsRow, ri) if cellsRow.exists(_ != null) =>
          val cs = cellsRow.zipWithIndex.collect {
            case (v, ci) if v != null =>
              s"""<c r="${colRef(ci)}${ri + 1}" t="s"><v>${sid(v)}</v></c>"""
          }
          s"""<row r="${ri + 1}">${cs.mkString}</row>"""
      }
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
         |<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
         |<sheetData>${rows.mkString}</sheetData></worksheet>""".stripMargin
    }

    val wbSheets = sheets.zipWithIndex.map { case ((name, _), i) =>
      s"""<sheet name="${esc(name)}" sheetId="${i + 1}" r:id="rId${i + 1}"/>"""
    }.mkString
    val workbook =
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
         |<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"
         | xmlns:r="$RelNs"><sheets>$wbSheets</sheets></workbook>""".stripMargin

    val rels = sheets.indices.map { i =>
      s"""<Relationship Id="rId${i + 1}" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet${i + 1}.xml"/>"""
    }.mkString
    val wbRels =
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
         |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">$rels</Relationships>""".stripMargin

    val sst = {
      val sis = strings.keysIterator
        .map(s => s"""<si><t xml:space="preserve">${esc(s)}</t></si>""")
        .mkString
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
         |<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="${strings.size}" uniqueCount="${strings.size}">$sis</sst>""".stripMargin
    }

    val overrides = sheets.indices.map { i =>
      s"""<Override PartName="/xl/worksheets/sheet${i + 1}.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>"""
    }.mkString
    val contentTypes =
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
         |<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
         |<Default Extension="xml" ContentType="application/xml"/>
         |<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>
         |<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>
         |<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>
         |$overrides</Types>""".stripMargin

    val rootRels =
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
         |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
         |<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>
         |</Relationships>""".stripMargin

    val bos = new ByteArrayOutputStream()
    val zos = new ZipOutputStream(bos)
    def put(name: String, content: String): Unit = {
      zos.putNextEntry(new ZipEntry(name))
      zos.write(content.getBytes(UTF_8))
      zos.closeEntry()
    }
    put("[Content_Types].xml", contentTypes)
    put("_rels/.rels", rootRels)
    put("xl/workbook.xml", workbook)
    put("xl/_rels/workbook.xml.rels", wbRels)
    put("xl/sharedStrings.xml", sst)
    sheetXml.zipWithIndex.foreach { case (xml, i) =>
      put(s"xl/worksheets/sheet${i + 1}.xml", xml)
    }
    zos.close()
    bos.toByteArray
  }
}
