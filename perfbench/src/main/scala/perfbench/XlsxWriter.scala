package perfbench

import java.io.{BufferedOutputStream, OutputStreamWriter, Writer}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.zip.{ZipEntry, ZipOutputStream}

import graft.util.A1

/** Minimal single-sheet XLSX writer: inline strings and numeric cells, no
  * styles or shared strings. Cells that parse as numbers are written as
  * numeric cells, everything else (dates included) as inline strings, and
  * an empty value leaves the cell out — which is how a platform export
  * renders a blank.
  */
object XlsxWriter {

  private val Numeric = "[+-]?(\\d+\\.?\\d*|\\.\\d+)".r

  private val ContentTypes =
    """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
      |<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
      |<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>
      |<Default Extension="xml" ContentType="application/xml"/>
      |<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>
      |<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>
      |</Types>""".stripMargin

  private val RootRels =
    """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
      |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
      |<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>
      |</Relationships>""".stripMargin

  private val Workbook =
    """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
      |<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
      |<sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets>
      |</workbook>""".stripMargin

  private val WorkbookRels =
    """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
      |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
      |<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>
      |</Relationships>""".stripMargin

  def write(file: Path, header: Seq[String], rows: Iterator[Seq[String]]): Unit = {
    val zip = new ZipOutputStream(new BufferedOutputStream(Files.newOutputStream(file), 1 << 16))
    try {
      def text(name: String, body: String): Unit = {
        zip.putNextEntry(new ZipEntry(name))
        zip.write(body.getBytes(UTF_8))
        zip.closeEntry()
      }
      text("[Content_Types].xml", ContentTypes)
      text("_rels/.rels", RootRels)
      text("xl/workbook.xml", Workbook)
      text("xl/_rels/workbook.xml.rels", WorkbookRels)
      zip.putNextEntry(new ZipEntry("xl/worksheets/sheet1.xml"))
      val w = new OutputStreamWriter(zip, UTF_8)
      w.write("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""")
      w.write("""<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""")
      val cols = header.indices.map(i => A1.intToBijectiveBase26(i + 1))
      writeRow(w, cols, 1, header)
      var r = 2
      rows.foreach { row => writeRow(w, cols, r, row); r += 1 }
      w.write("</sheetData></worksheet>")
      w.flush()
      zip.closeEntry()
    } finally zip.close()
  }

  private def writeRow(w: Writer, cols: IndexedSeq[String], r: Int, cells: Seq[String]): Unit = {
    w.write(s"""<row r="$r">""")
    cells.iterator.zipWithIndex.foreach { case (v, i) =>
      if (v.nonEmpty) {
        val ref = cols(i) + r
        if (Numeric.matches(v)) w.write(s"""<c r="$ref"><v>$v</v></c>""")
        else w.write(s"""<c r="$ref" t="inlineStr"><is><t>${escape(v)}</t></is></c>""")
      }
    }
    w.write("</row>")
  }

  private def escape(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;").replace("\"", "&quot;")
}
