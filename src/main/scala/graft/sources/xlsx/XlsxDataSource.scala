package graft.sources.xlsx

import java.util
import java.util.zip.ZipFile
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import scala.jdk.CollectionConverters._

/** DataSource V2 XLSX reader: `spark.read.format("xlsx")
  * .option("sheet", "Sheet1").load(path)`.
  *
  * Covers the reference's ingest surface (/root/reference/src/main.rs:
  * 49-85): header-row handling, per-column type inference (numeric →
  * double, else string), graceful nulls for non-numeric cells in
  * numeric columns (option `coerce=zero` reproduces the reference's
  * `unwrap_or(0.0)` exactly).
  *
  * Scale notes: an .xlsx worksheet is DEFLATE-compressed XML — not
  * block-splittable — so parallelism is one partition per (file,
  * sheet): point the source at a directory of workbooks and all of
  * them parse concurrently. Rows stream through StAX (constant
  * memory); only the shared-strings table is resident. Column pruning
  * is pushed into the reader (pruned cells are never materialized).
  */
class XlsxDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "xlsx"

  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    XlsxDataSource.infer(XlsxDataSource.conf(options))

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    XlsxTable(schema,
      XlsxDataSource.conf(new CaseInsensitiveStringMap(properties)))
}

private[xlsx] final case class XlsxConf(
    path: String, paths: Seq[String], sheet: Option[String], header: Boolean,
    coerceZero: Boolean, inferRows: Int)

private[xlsx] object XlsxDataSource {

  def conf(o: CaseInsensitiveStringMap): XlsxConf = {
    val path = Option(o.get("path"))
      .orElse(Option(o.get("paths")))
      .getOrElse(throw new IllegalArgumentException("xlsx: 'path' option required"))
    val f = new java.io.File(path)
    val paths =
      if (f.isDirectory)
        f.listFiles((_, n) => n.toLowerCase.endsWith(".xlsx"))
          .map(_.getAbsolutePath).sorted.toSeq
      else path.split(",").map(_.trim).toSeq
    XlsxConf(path, paths,
      Option(o.get("sheet")),
      Option(o.get("header")).forall(_.toBoolean),
      Option(o.get("coerce")).contains("zero"),
      Option(o.get("inferRows")).map(_.toInt).getOrElse(100))
  }

  /** Pick the target sheets of one workbook. */
  def targetSheets(zip: ZipFile, conf: XlsxConf): Seq[(String, String)] = {
    val all = XlsxParsing.sheetEntries(zip)
    conf.sheet match {
      case Some(s) => all.filter(_._1 == s)
      case None    => all.take(1)
    }
  }

  def infer(conf: XlsxConf): StructType = {
    val file = conf.paths.headOption.getOrElse(
      throw new IllegalArgumentException(
        s"xlsx: no .xlsx file in directory ${conf.path}"))
    val zip = XlsxParsing.open(file)
    try {
      val shared = XlsxParsing.sharedStrings(zip)
      val (_, sheetPath) = targetSheets(zip, conf).headOption.getOrElse(
        throw new IllegalArgumentException(
          s"xlsx: sheet ${conf.sheet.getOrElse("")} not found in $file"))
      val it = XlsxParsing.rows(zip, sheetPath, shared)
      if (!it.hasNext) return StructType(Nil)
      val first = it.next()
      val sample = it.take(conf.inferRows).toSeq
      val width = (first.keySet ++ sample.flatMap(_.keySet)).maxOption.getOrElse(-1) + 1
      val names =
        if (conf.header)
          (0 until width).map(i => first.get(i).map(_.value.trim)
            .filter(_.nonEmpty).getOrElse(s"_c$i"))
        else (0 until width).map(i => s"_c$i")
      val dataSample = if (conf.header) sample else first +: sample
      // a column is numeric when the majority of sampled cells are —
      // stray text in a numeric column (the reference coerces those,
      // main.rs:70-75) must not demote the whole column to string.
      val types = (0 until width).map { i =>
        val vals = dataSample.flatMap(_.get(i))
        if (vals.nonEmpty && vals.count(_.numeric) * 2 >= vals.size) DoubleType
        else StringType
      }
      StructType(names.zip(types).map { case (n, t) => StructField(n, t, nullable = true) })
    } finally zip.close()
  }
}

private[xlsx] final case class XlsxTable(tableSchema: StructType, conf: XlsxConf)
    extends Table with SupportsRead {
  override def schema(): StructType = tableSchema
  override def name(): String = s"xlsx(${conf.paths.mkString(",")})"
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new XlsxScanBuilder(tableSchema, conf)
}

private[xlsx] final class XlsxScanBuilder(fullSchema: StructType, conf: XlsxConf)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = fullSchema
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def build(): Scan = XlsxScan(fullSchema, required, conf)
}

private[xlsx] final case class XlsxInputPartition(
    path: String, sheetPath: String) extends InputPartition

private[xlsx] final case class XlsxScan(
    fullSchema: StructType, required: StructType, conf: XlsxConf)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] =
    conf.paths.flatMap { p =>
      val zip = XlsxParsing.open(p)
      try XlsxDataSource.targetSheets(zip, conf)
        .map { case (_, sp) => XlsxInputPartition(p, sp) }
      finally zip.close()
    }.toArray

  override def createReaderFactory(): PartitionReaderFactory = {
    val colIdx = required.fields.map(f => fullSchema.fieldIndex(f.name))
    val types = required.fields.map(_.dataType)
    val header = conf.header
    val coerceZero = conf.coerceZero
    (partition: InputPartition) => {
      val part = partition.asInstanceOf[XlsxInputPartition]
      new PartitionReader[InternalRow] {
        private val zip = XlsxParsing.open(part.path)
        private val it = {
          val base = XlsxParsing.rows(zip, part.sheetPath,
            XlsxParsing.sharedStrings(zip))
          if (header && base.hasNext) { base.next(); base } else base
        }
        private var current: InternalRow = _

        override def next(): Boolean =
          if (!it.hasNext) false
          else {
            val cells = it.next()
            val vals = new Array[Any](colIdx.length)
            var i = 0
            while (i < colIdx.length) {
              val cell = cells.get(colIdx(i))
              vals(i) = types(i) match {
                case DoubleType =>
                  cell.flatMap(c => c.value.toDoubleOption)
                    .orElse(if (coerceZero) Some(0.0) else None)
                    .map(java.lang.Double.valueOf).orNull
                case _ =>
                  cell.map(c => UTF8String.fromString(c.value)).orNull
              }
              i += 1
            }
            current = new GenericInternalRow(vals)
            true
          }

        override def get(): InternalRow = current
        override def close(): Unit = zip.close()
      }
    }
  }
}
