package graft.sources.xlsx

import java.io.InputStream
import java.util.zip.ZipFile
import javax.xml.stream.{XMLInputFactory, XMLStreamConstants, XMLStreamReader}
import scala.collection.mutable.ArrayBuffer

/** Streaming (StAX) XLSX parsing over the OOXML zip container — the
  * Spark-side replacement for the reference's whole-workbook-in-memory
  * calamine load (/root/reference/src/main.rs:49-85). Only the shared-
  * strings table is materialized; sheet rows are streamed, so a worker
  * never holds a full sheet in memory.
  */
object XlsxParsing {

  /** One parsed cell value: raw string + whether the cell was numeric. */
  final case class Cell(value: String, numeric: Boolean)

  private def xmlReader(in: InputStream): XMLStreamReader = {
    val f = XMLInputFactory.newInstance()
    f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    f.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    f.createXMLStreamReader(in)
  }

  /** Open a workbook's zip container; a file that is not a zip fails
    * with an error that names it. */
  private[xlsx] def open(path: String): ZipFile =
    try new ZipFile(path)
    catch { case e: java.util.zip.ZipException =>
      throw new IllegalArgumentException(
        s"xlsx: $path is not a zip archive (${e.getMessage})", e) }

  /** The stream of a required part; a missing part fails with an error
    * that names the file and the part. */
  private def part(zip: ZipFile, name: String): InputStream = {
    val entry = zip.getEntry(name)
    if (entry == null) throw new IllegalArgumentException(
      s"xlsx: ${zip.getName} has no part $name")
    zip.getInputStream(entry)
  }

  /** Sheet name → worksheet zip entry, resolving workbook.xml sheet ids
    * through the relationships part. */
  def sheetEntries(zip: ZipFile): Seq[(String, String)] = {
    // no relationships part: every sheet falls back to sheet1.xml below
    val rels = Option(zip.getEntry("xl/_rels/workbook.xml.rels")).fold(
        Map.empty[String, String]) { entry =>
      val r = xmlReader(zip.getInputStream(entry))
      val m = scala.collection.mutable.Map[String, String]()
      while (r.hasNext) {
        if (r.next() == XMLStreamConstants.START_ELEMENT &&
            r.getLocalName == "Relationship")
          m(r.getAttributeValue(null, "Id")) =
            r.getAttributeValue(null, "Target")
      }
      r.close(); m.toMap
    }
    val out = ArrayBuffer[(String, String)]()
    val r = xmlReader(part(zip, "xl/workbook.xml"))
    while (r.hasNext) {
      if (r.next() == XMLStreamConstants.START_ELEMENT && r.getLocalName == "sheet") {
        val name = r.getAttributeValue(null, "name")
        val rid = (0 until r.getAttributeCount)
          .find(i => r.getAttributeLocalName(i) == "id")
          .map(r.getAttributeValue).getOrElse("")
        val target = rels.getOrElse(rid, "worksheets/sheet1.xml")
        val path = if (target.startsWith("/")) target.drop(1) else "xl/" + target
        out += name -> path
      }
    }
    r.close()
    out.toSeq
  }

  /** Shared strings table (index → string). A string is the text of all
    * its `<t>` runs (rich text has one per `<r>`); the text of a
    * phonetic guide (`<rPh>`) is not part of it. */
  def sharedStrings(zip: ZipFile): IndexedSeq[String] = {
    val entry = zip.getEntry("xl/sharedStrings.xml")
    if (entry == null) return IndexedSeq.empty
    val r = xmlReader(zip.getInputStream(entry))
    val out = ArrayBuffer[String]()
    val sb = new StringBuilder
    var inT = false; var inRPh = false
    while (r.hasNext) r.next() match {
      case XMLStreamConstants.START_ELEMENT =>
        r.getLocalName match {
          case "si"  => sb.clear()
          case "rPh" => inRPh = true
          case "t"   => inT = !inRPh
          case _     =>
        }
      case XMLStreamConstants.CHARACTERS if inT => sb.append(r.getText)
      case XMLStreamConstants.END_ELEMENT =>
        r.getLocalName match {
          case "si"  => out += sb.toString
          case "rPh" => inRPh = false
          case "t"   => inT = false
          case _     =>
        }
      case _ =>
    }
    r.close()
    out.toIndexedSeq
  }

  /** "BC7" → zero-based column index 54. */
  def colIndex(ref: String): Int = {
    var i = 0; var acc = 0
    while (i < ref.length && ref.charAt(i).isLetter) {
      acc = acc * 26 + (ref.charAt(i).toUpper - 'A' + 1); i += 1
    }
    acc - 1
  }

  /** Stream rows of one worksheet as sparse (colIdx → Cell) maps.
    * Caller closes over the iterator fully before closing the zip. */
  def rows(zip: ZipFile, sheetPath: String,
           shared: IndexedSeq[String]): Iterator[Map[Int, Cell]] = {
    val r = xmlReader(part(zip, sheetPath))
    new Iterator[Map[Int, Cell]] {
      private var nextRow: Map[Int, Cell] = _
      private var done = false
      advance()

      private def advance(): Unit = {
        nextRow = null
        var cells = scala.collection.mutable.Map[Int, Cell]()
        var inRow = false
        var cellRef = ""; var cellType = ""
        var inV = false; var inIs = false; var inRPh = false
        val sb = new StringBuilder
        def putCell(): Unit = {
          val raw = sb.toString
          val idx = colIndex(cellRef)
          if (idx >= 0) {
            val cell = cellType match {
              case "s" =>
                // tolerate a malformed/empty shared-string index —
                // one bad cell must not fail the whole partition
                val v = raw.trim.toIntOption
                  .filter(i => i >= 0 && i < shared.length)
                  .map(shared).getOrElse("")
                Cell(v, numeric = false)
              case "str" | "inlineStr" => Cell(raw, numeric = false)
              case "b" => Cell(if (raw.trim == "1") "true" else "false", numeric = false)
              case _ => Cell(raw.trim, numeric = true)
            }
            cells(idx) = cell
          }
        }
        while (nextRow == null && !done) {
          if (!r.hasNext) { done = true; r.close() }
          else r.next() match {
            case XMLStreamConstants.START_ELEMENT => r.getLocalName match {
              case "row" => inRow = true; cells.clear()
              case "c" if inRow =>
                cellRef = Option(r.getAttributeValue(null, "r")).getOrElse("")
                cellType = Option(r.getAttributeValue(null, "t")).getOrElse("n")
              case "v" if inRow => inV = true; sb.clear()
              // an inline string is the text of all its <t> runs, as in
              // sharedStrings, without the phonetic guide
              case "is" if inRow => inIs = true; sb.clear()
              case "rPh" if inIs => inRPh = true
              case "t" if inIs && !inRPh => inV = true
              case _ =>
            }
            case XMLStreamConstants.CHARACTERS if inV => sb.append(r.getText)
            case XMLStreamConstants.END_ELEMENT => r.getLocalName match {
              case "row" =>
                inRow = false
                nextRow = cells.toMap
              case "c" if inRow => cellRef = ""; cellType = "n"
              case "v" if inV => inV = false; putCell()
              case "t" => inV = false
              case "rPh" => inRPh = false
              case "is" if inIs => inIs = false; putCell()
              case _ =>
            }
            case _ =>
          }
        }
      }

      def hasNext: Boolean = nextRow != null
      def next(): Map[Int, Cell] = {
        val out = nextRow; advance(); out
      }
    }
  }
}
