package graft.perfbench

import java.io.{BufferedOutputStream, FileOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.{ZipEntry, ZipOutputStream}

/** Minimal SpreadsheetML writer: one worksheet of inline-string
  * cells in the zip-plus-XML shape Excel emits (content types,
  * workbook, workbook rels, worksheet). Enough for the daily POS
  * report the ingest path reads; no styles, no shared strings.
  */
object XlsxWriter {

  def write(path: String, sheetName: String, header: Seq[String],
            rows: Iterator[Seq[String]]): Unit = {
    val z = new ZipOutputStream(new BufferedOutputStream(new FileOutputStream(path)))
    try {
      def entry(name: String)(body: java.io.Writer => Unit): Unit = {
        z.putNextEntry(new ZipEntry(name))
        val w = new java.io.OutputStreamWriter(z, UTF_8)
        body(w)
        w.flush()
        z.closeEntry()
      }
      entry("[Content_Types].xml")(_.write(
        """<?xml version="1.0" encoding="UTF-8"?>""" +
          """<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""" +
          """<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>""" +
          """<Default Extension="xml" ContentType="application/xml"/>""" +
          """<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>""" +
          """<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>""" +
          "</Types>"))
      entry("xl/workbook.xml")(_.write(
        """<?xml version="1.0" encoding="UTF-8"?>""" +
          """<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" """ +
          """xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">""" +
          s"""<sheets><sheet name="${esc(sheetName)}" sheetId="1" r:id="rId1"/></sheets></workbook>"""))
      entry("xl/_rels/workbook.xml.rels")(_.write(
        """<?xml version="1.0" encoding="UTF-8"?>""" +
          """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
          """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>""" +
          "</Relationships>"))
      entry("xl/worksheets/sheet1.xml") { w =>
        w.write("""<?xml version="1.0" encoding="UTF-8"?>""" +
          """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""")
        var r = 0
        def row(cells: Seq[String]): Unit = {
          r += 1
          w.write(s"""<row r="$r">""")
          cells.zipWithIndex.foreach { case (v, i) =>
            if (v != null)
              w.write(s"""<c r="${colName(i)}$r" t="inlineStr"><is><t xml:space="preserve">${esc(v)}</t></is></c>""")
          }
          w.write("</row>")
        }
        row(header)
        rows.foreach(row)
        w.write("</sheetData></worksheet>")
      }
    } finally z.close()
  }

  /** 0 → A, 25 → Z, 26 → AA. */
  def colName(i: Int): String =
    if (i < 26) ('A' + i).toChar.toString else colName(i / 26 - 1) + colName(i % 26)

  private def esc(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;").replace("\"", "&quot;")
}
