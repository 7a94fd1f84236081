package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}

/** S1–S3 ingest edge (SURVEY §2.1): the reference's workbook-discovery →
  * fetch → decode lifecycle (`/root/reference/main.py:25-39,135-151`),
  * re-expressed as pure functions plus two pluggable effect seams. The
  * sandbox has no network or xlsx codec, so the effectful legs are
  * traits with offline fakes in tests; the predicate/regex/year logic —
  * the part that encodes the reference's behavior — is real and pinned
  * by `SheetParserSpec`.
  *
  * Scale note: discovery and fetch are driver-side by nature (a handful
  * of workbook URLs), and so is this lifecycle's parse. The distributed
  * read is the `graft-sheet` source, which plans with the same
  * [[Ingest.recognisedSheets]] and parses each sheet on an executor.
  */
object LinkDiscovery {

  /** Anchor hrefs of an HTML page — the `soup.find_all("a", href=...)`
    * leg (`main.py:32-33`) as a regex scan (no HTML lib offline; anchor
    * href extraction is the only part the reference uses).
    */
  def anchorHrefs(html: String): Seq[String] =
    """(?i)<a\b[^>]*\bhref\s*=\s*["']([^"']+)["']""".r
      .findAllMatchIn(html).map(_.group(1)).toSeq

  /** The reference's workbook predicate (`main.py:34-38`): keep hrefs
    * ending `tables-access.xlsx` that mention `admitted-patient-care`,
    * absolutize site-relative ones, fall back to a pinned list when the
    * page yields nothing (`main.py:39`).
    */
  def discoverExcels(hrefs: Seq[String], base: String,
                     fallback: Seq[String]): Seq[String] = {
    val links = hrefs
      .filter(h => h.endsWith("tables-access.xlsx")
        && h.contains("admitted-patient-care"))
      .map(h => if (h.startsWith("/")) base + h else h)
    if (links.nonEmpty) links else fallback
  }

  /** F4 driver-side (`main.py:141-142`): financial-year from a workbook
    * URL — `(\d{4})-(\d{2})` → 2000 + second group, 9999 when absent.
    */
  def yearFromUrl(url: String): Int =
    """(\d{4})-(\d{2})""".r.findFirstMatchIn(url)
      .map(m => 2000 + m.group(2).toInt).getOrElse(9999)
}

/** Byte fetch (S3, `main.py:139-140`). Offline builds plug a fake; a
  * deployment supplies an HTTP client behind the same seam.
  */
trait Fetcher {
  def fetch(url: String): Array[Byte]
}

/** Workbook decode (S2 first pass, `main.py:140`): bytes → ordered
  * (sheetName, all-string grid). A real xlsx reader (POI) drops in here;
  * tests use a deterministic plain-text fake — everything downstream of
  * this seam ([[SheetParser]]) is the reference's parsing behavior.
  */
trait WorkbookDecoder {
  def decode(bytes: Array[Byte]): Seq[(String, Seq[Seq[String]])]
}

object Ingest {

  /** Sheet-name gate (`main.py:143`): `re.match(r"Table\s*[45S]", s, I)`
    * — anchored at the start, case-insensitive.
    */
  private val SheetName = """(?i)^Table\s*[45S]""".r

  def sheetNameMatches(name: String): Boolean =
    SheetName.findPrefixMatchOf(name).isDefined

  /** `compile_all`'s per-workbook planning (`main.py:141-145`), shared
    * with the `graft-sheet` source: year from the workbook's name, sheet
    * name gate, recognisable header. Each kept sheet, with its name.
    */
  def recognisedSheets(workbook: String, sheets: Seq[(String, Seq[Seq[String]])])
      : Seq[(String, SheetParser.Sheet)] = {
    val year = LinkDiscovery.yearFromUrl(workbook)
    for {
      (name, grid) <- sheets
      if sheetNameMatches(name)
      (headerIdx, h) <- SheetParser.header(grid)
    } yield name -> SheetParser.Sheet(grid, year, headerIdx, h)
  }

  /** The full `compile_all` lifecycle (`main.py:135-151`): fetch and
    * decode every workbook URL, plan via [[recognisedSheets]], parse +
    * union as [[SheetParser.compileAll]] does (raising on zero parsed
    * sheets, `main.py:147-148`).
    */
  def compileWorkbooks(spark: SparkSession, urls: Seq[String],
                       fetcher: Fetcher,
                       decoder: WorkbookDecoder): DataFrame =
    SheetParser.toFrame(spark, urls.flatMap(url =>
      recognisedSheets(url, decoder.decode(fetcher.fetch(url))).map(_._2)))
}
