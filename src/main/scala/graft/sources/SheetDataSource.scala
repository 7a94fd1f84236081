package graft.sources

import java.util.{Map => JMap}

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.ingest.{Ingest, SheetParser}

/** DataSource V2 for the reference's workbook ingest (S1–S3 as a
  * first-class Spark source): `spark.read.format("graft-sheet").load(dir)`
  * over a directory of workbooks — real `.xlsx` files (decoded by the
  * JDK-only [[XlsxWorkbook]] codec) and/or [[TextWorkbook]]-encoded
  * text stand-ins, dispatched per file by extension.
  *
  * Division of labor at scale:
  *  - the DRIVER plans once per `load()`: list and decode workbooks,
  *    one [[SheetPartition]] per sheet [[Ingest.recognisedSheets]] keeps
  *    (name gate, year from the file name, recognisable header);
  *  - EXECUTORS read: each partition re-reads its workbook and runs
  *    [[SheetParser.tidyRows]] over its sheet — so a crawl of 10^5
  *    workbooks fans out to 10^5 independent partitions with no driver
  *    data motion.
  *
  * Pushdown: required-column pruning projects rows before they leave the
  * reader; filters on `year` — a per-partition constant known at planning
  * — prune whole partitions and are reported as fully pushed.
  *
  * The output schema is [[SheetParser.tidySchema]], the one
  * [[SheetParser.compileAll]] produces: all id columns seen across
  * sheets in first-appearance order (string, null where a sheet lacks
  * the column), then `state`/`separations`/`year`.
  */
class SheetDataSource extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {

  override def shortName(): String = "graft-sheet"

  // one provider instance serves one load(): getTable reuses the plan
  // inferSchema built, so the driver decodes each workbook once
  private var inferred: Option[Seq[SheetPartition]] = None

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val (schema, parts) = SheetPlanning.plan(options.get("path"))
    inferred = Some(parts)
    schema
  }

  // a user-supplied .schema(...) skips the driver-side inference pass —
  // at crawl scale (10^5 workbooks) inference reads every workbook once
  // on the driver, so production readers pass the known tidy schema
  override def supportsExternalMetadata(): Boolean = true

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table = {
    val (path, known) = (properties.get("path"), inferred)
    new SheetTable(schema, path, known.getOrElse(SheetPlanning.plan(path)._2))
  }
}

private[sources] class SheetTable(schema: StructType, path: String,
                                  plan: => Seq[SheetPartition])
    extends Table with SupportsRead {
  // planned at most once (at the first scan when the schema was supplied):
  // every scan/action over this load() reuses the partition list
  private lazy val planned: Seq[SheetPartition] = plan
  override def name(): String = s"graft-sheet `$path`"
  override def schema(): StructType = schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new SheetScanBuilder(schema, planned)
}

/** One recognizable sheet of one workbook — the unit of parallelism. */
private[sources] case class SheetPartition(
    path: String, sheet: String, year: Int, headerIdx: Int,
    header: SheetParser.Header) extends InputPartition

private[sources] object SheetPlanning {

  /** Read and decode one workbook file. Decode dispatch: real `.xlsx`
    * workbooks go through the JDK-only [[XlsxWorkbook]] codec, anything
    * else through the [[TextWorkbook]] offline encoding — one directory
    * may mix both. A workbook that does not decode fails naming its path.
    */
  def readWorkbook(p: Path, conf: Configuration): Seq[(String, Seq[Seq[String]])] = {
    val in = p.getFileSystem(conf).open(p)
    val bytes = try in.readAllBytes() finally in.close()
    try {
      if (p.getName.toLowerCase(java.util.Locale.ROOT).endsWith(".xlsx"))
        XlsxWorkbook.decode(bytes)
      else TextWorkbook.decode(bytes)
    } catch { case NonFatal(e) =>
      throw new IllegalArgumentException(
        s"cannot decode workbook $p: ${e.getMessage}", e)
    }
  }

  /** Driver-side planning pass: unified schema + one partition per
    * gated, header-recognizable sheet. Like `compile_all`
    * (`main.py:147-148`), it raises when no sheet is recognised, so a
    * refresh over it fails before any write.
    */
  def plan(dir: String): (StructType, Seq[SheetPartition]) = {
    val conf = new Configuration()
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    val files = fs.listStatus(root).filter(_.isFile).map(_.getPath)
      .sortBy(_.getName)
    val parts = for {
      f <- files.toSeq
      (name, sheet) <- Ingest.recognisedSheets(f.getName, readWorkbook(f, conf))
    } yield SheetPartition(f.toString, name, sheet.year, sheet.headerIdx,
      sheet.header)
    require(parts.nonEmpty, s"no frames parsed in $dir")
    (SheetParser.tidySchema(parts.flatMap(_.header.idCols)), parts)
  }
}

private[sources] class SheetScanBuilder(
    fullSchema: StructType, allParts: Seq[SheetPartition])
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters {

  private var required: StructType = fullSchema
  private var parts: Seq[SheetPartition] = allParts
  private var pushed: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  private def yearBound(f: Filter): Option[Int => Boolean] = f match {
    case EqualTo("year", v: Number) => Some(_ == v.intValue)
    case GreaterThan("year", v: Number) => Some(_ > v.intValue)
    case GreaterThanOrEqual("year", v: Number) => Some(_ >= v.intValue)
    case LessThan("year", v: Number) => Some(_ < v.intValue)
    case LessThanOrEqual("year", v: Number) => Some(_ <= v.intValue)
    case In("year", vs) if vs.forall(_.isInstanceOf[Number]) =>
      Some(y => vs.exists(_.asInstanceOf[Number].intValue == y))
    case _ => None
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (handled, residual) =
      filters.partition(f => yearBound(f).isDefined)
    pushed = handled
    parts = parts.filter(p =>
      handled.forall(f => yearBound(f).get(p.year)))
    residual
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = new SheetScan(required, parts, pushed)
}

private[sources] class SheetScan(required: StructType,
                                 parts: Seq[SheetPartition],
                                 pushed: Array[Filter]) extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-sheet partitions=${parts.size} " +
      s"PushedFilters: ${pushed.mkString("[", ", ", "]")}"
  override def planInputPartitions(): Array[InputPartition] = parts.toArray
  override def createReaderFactory(): PartitionReaderFactory =
    new SheetReaderFactory(required)
}

private[sources] class SheetReaderFactory(required: StructType)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new SheetPartitionReader(p.asInstanceOf[SheetPartition], required)
}

/** Executor-side: re-read the workbook and run [[SheetParser.tidyRows]]
  * over this sheet, laid out as the required schema.
  */
private[sources] class SheetPartitionReader(
    p: SheetPartition, required: StructType)
    extends PartitionReader[InternalRow] {

  private val rows: Iterator[InternalRow] = {
    val grid = SheetPlanning
      .readWorkbook(new Path(p.path), new Configuration())
      .collectFirst { case (n, g) if n == p.sheet => g }
      .getOrElse(Seq.empty)
    // null separations drop inside tidyRows (main.py:128) — a row
    // SEMANTIC, so it applies even when the column is pruned away
    SheetParser.tidyRows(
      SheetParser.Sheet(grid, p.year, p.headerIdx, p.header),
      required.fieldNames.toSeq, UTF8String.fromString)
      .map(new GenericInternalRow(_))
  }

  private var current: InternalRow = _
  override def next(): Boolean =
    if (rows.hasNext) { current = rows.next(); true } else false
  override def get(): InternalRow = current
  override def close(): Unit = ()
}
